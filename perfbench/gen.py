"""Seeded corpus generator for the job-level benchmark.

``corpus(seed, workload, shape)`` is a pure function: one process, one
``random.Random`` stream, no clock, no environment. The same arguments give
the same documents, and ``write_parquet`` turns them into the same bytes.

Text model (space-separated tokens, the tokenizer's contract). Each
constant is taken from a stated source or solved from one; the two that
are chosen say so:

- filler words come from a 30,000-word pseudo-word vocabulary (the
  vocabulary size of the 20k-doc ingest measurement this benchmark was
  specified from) with Zipf frequencies of exponent 1, Zipf's law for
  natural text (Piantadosi, "Zipf's word frequency law in natural
  language", Psychon. Bull. Rev. 2014);
- entity mentions are the engine's default gazetteer surfaces at 30% of
  tokens: the repo's fixture spec (FIXTURES.md, ``pages``) puts 0-6
  mentions, 3 on average, in each sentence, and a sentence window is
  ``SENT_LEN`` = 10 tokens;
- document lengths are lognormal. The spread, sigma 0.28, puts the
  fixture spec's 2-5 sentences per page at the central 90%. The median,
  54 tokens, is solved so that a ``predict`` corpus averages
  ``PAIRS_PER_DOC`` capped candidate pairs per document, the figure
  measured on the text path over 20,000 docs (561,729 pairs);
- chosen: one document in 400 is a "hot host" page of 1,500 tokens at the
  fixture spec's maximum density (6 mentions per sentence), about 1.45x
  the pair cap, so the cap path and task skew are exercised. Its share of
  the pairs is in the corpus properties (``hot_pair_share``), and the
  traced run measures its share of the kernels' time;
- a fixed share of documents, 20% (the delta near-dup share of the same
  measurement), are near-duplicates of an earlier document, inside the
  base corpus and in every delta against the whole history;
- chosen: a near-duplicate replaces 5% of its tokens, which keeps its
  bigram Jaccard to the source near 0.82, above the engine's near-dup
  threshold (``dedup.JACCARD_MIN`` = 0.5).
"""

from __future__ import annotations

import itertools
import math
import random
from dataclasses import dataclass

# The engine's default gazetteer (config.ENT_VOCAB), copied so that the
# inputs stay fixed when the program changes; the self-test checks that the
# two still agree.
ENT_VOCAB = {
    "spark": "Drug", "hash": "Drug", "table": "Drug",
    "join": "ADE", "key": "ADE", "merge": "Reason", "sort": "Frequency",
    "scan": "Dosage", "filter": "Route", "window": "Duration",
    "group": "Strength", "stream": "Form",
}
SENT_LEN = 10  # config.SENT_LEN: tokens per sentence window
CUTOFF = 1  # config.CUTOFF: max sentence distance of a candidate pair
LANGS = ("en", "de", "fr")

VOCAB_SIZE = 30_000
ZIPF_S = 1.0
EDIT_RATE = 0.05  # token replacements in a near-duplicate
PAIRS_PER_DOC = 561_729 / 20_000  # capped pairs per doc, measured


@dataclass(frozen=True)
class Shape:
    """Corpus shape of one workload."""

    base_docs: int
    deltas: int = 0
    delta_docs: int = 0
    near_dup: float = 0.2  # share of near-duplicate docs, base and deltas
    mention_density: float = 0.30  # share of tokens that are mentions
    len_median: int = 54  # lognormal document length, in tokens
    len_sigma: float = 0.28
    hot_share: float = 0.0  # share of hot-host pages
    hot_len: int = 1_500
    hot_density: float = 0.6
    pair_cap: int = 2_000  # --max-pairs-per-doc the workload runs with


def _vocab() -> list[str]:
    """30,000 pronounceable pseudo-words, none a gazetteer surface."""
    cons = "bdfgklmnprstvz"
    vows = "aeiou"
    syl = [c + v for c in cons for v in vows]  # 70 syllables
    words = [a + b for a, b in itertools.product(syl, syl)]
    words += [a + b + c for a, b, c in itertools.product(syl[:20], syl, syl)]
    words = [w for w in words if w not in ENT_VOCAB]
    random.Random(0).shuffle(words)
    return words[:VOCAB_SIZE]


VOCAB = _vocab()
_CUM = list(itertools.accumulate(1.0 / (r ** ZIPF_S)
                                 for r in range(1, VOCAB_SIZE + 1)))
_SURFACES = sorted(ENT_VOCAB)


def _filler(rng: random.Random, k: int) -> list[str]:
    return rng.choices(VOCAB, cum_weights=_CUM, k=k)


def _doc(rng: random.Random, ntok: int, density: float) -> list[str]:
    toks = _filler(rng, ntok)
    for i in range(ntok):
        if rng.random() < density:
            toks[i] = _SURFACES[rng.randrange(len(_SURFACES))]
    return toks


def _near_dup(rng: random.Random, src: list[str]) -> list[str]:
    toks = list(src)
    hits = [i for i in range(len(toks)) if rng.random() < EDIT_RATE]
    for i, w in zip(hits, _filler(rng, len(hits))):
        toks[i] = w
    return toks


def candidate_pairs(toks: list[str]) -> int:
    """Uncapped candidate-pair count of one document under the default
    config: every non-Drug mention pairs with every Drug mention at most
    CUTOFF sentences away (all eight non-Drug types are valid arg1s)."""
    n_sent = max((len(toks) + SENT_LEN - 1) // SENT_LEN, 1)
    drug = [0] * n_sent
    other = [0] * n_sent
    for i, t in enumerate(toks):
        typ = ENT_VOCAB.get(t)
        if typ is not None:
            (drug if typ == "Drug" else other)[i // SENT_LEN] += 1
    return sum(
        other[s] * sum(drug[max(0, s - CUTOFF): s + CUTOFF + 1])
        for s in range(n_sent)
    )


def _batch(rng, shape, n, next_id, history, hot_ok):
    """``n`` documents with ids from ``next_id``. Exactly
    ``round(near_dup * n)`` of them are near-duplicates of a uniformly
    chosen earlier document (``history``: the non-hot originals so far) and,
    when ``hot_ok``, exactly ``round(hot_share * n)`` are hot pages; fixed
    counts keep the work per corpus steady across seeds."""
    first = 0 if history else 1  # a near-dup needs an earlier original
    dups = set(rng.sample(range(first, n), round(shape.near_dup * n)))
    rest = [i for i in range(1, n) if i not in dups]
    hots = set(rng.sample(rest, round(shape.hot_share * n) if hot_ok else 0))
    mu = math.log(shape.len_median)
    rows = []
    for k in range(n):
        if k in dups:
            toks = _near_dup(rng, history[rng.randrange(len(history))])
        elif k in hots:
            toks = _doc(rng, shape.hot_len, shape.hot_density)
        else:
            ntok = int(min(max(rng.lognormvariate(mu, shape.len_sigma), 8),
                           20 * shape.len_median))
            toks = _doc(rng, ntok, shape.mention_density)
            history.append(toks)
        did = next_id + k
        rows.append((did, toks, LANGS[did % len(LANGS)]))
    return rows, len(dups), {next_id + k for k in hots}


def _props(rows, n_dup, hot, cap) -> dict:
    toks = sum(len(t) for _, t, _ in rows)
    men = sum(1 for _, t, _ in rows for w in t if w in ENT_VOCAB)
    raw = {i: candidate_pairs(t) for i, t, _ in rows}
    pairs = {i: min(p, cap) for i, p in raw.items()}
    n_pairs = sum(pairs.values())
    return {
        "docs": len(rows), "tokens": toks, "mentions": men,
        "near_dup_share": round(n_dup / max(len(rows), 1), 4),
        "cap_hit_docs": sum(1 for p in raw.values() if p > cap),
        "candidate_pairs": n_pairs,
        "pairs_per_doc": round(n_pairs / max(len(rows), 1), 2),
        "hot_docs": len(hot),
        "hot_pair_share": round(
            sum(pairs[i] for i in hot) / max(n_pairs, 1), 4),
        "text_bytes": sum(len(" ".join(t).encode()) for _, t, _ in rows),
    }


def corpus(seed: int, workload: str, shape: Shape) -> dict:
    """``{"base": rows, "deltas": [rows, ...], "hot_ids": [...],
    "props": {...}}`` with rows ``(doc_id, text, lang)`` and the base
    corpus's hot-page ids. Pure in (seed, workload, shape)."""
    rng = random.Random(f"{workload}:{seed}")
    history: list[list[str]] = []
    base, dup, hot = _batch(rng, shape, shape.base_docs, 0, history, True)
    props = {"base": _props(base, dup, hot, shape.pair_cap), "deltas": []}
    deltas, nid = [], shape.base_docs
    for _ in range(shape.deltas):
        d, dup, _ = _batch(rng, shape, shape.delta_docs, nid, history, False)
        props["deltas"].append(_props(d, dup, set(), shape.pair_cap))
        deltas.append(d)
        nid += shape.delta_docs
    text = lambda rows: [(i, " ".join(t), g) for i, t, g in rows]  # noqa: E731
    return {"base": text(base), "deltas": [text(d) for d in deltas],
            "hot_ids": sorted(hot), "props": props}


def write_parquet(rows, path: str, files: int = 4) -> None:
    """Write ``(doc_id, text, lang)`` rows as a parquet dir of ``files``
    part files — deterministic bytes for deterministic rows."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    step = max(1, -(-len(rows) // files))
    for k in range(files):
        part = rows[k * step:(k + 1) * step]
        tab = pa.table({
            "doc_id": pa.array([r[0] for r in part], pa.int64()),
            "text": pa.array([r[1] for r in part], pa.string()),
            "lang": pa.array([r[2] for r in part], pa.string()),
        })
        pq.write_table(tab, f"{path}/part-{k:05d}.parquet",
                       compression="snappy")

