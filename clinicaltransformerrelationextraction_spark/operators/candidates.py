"""Candidate entity-pair generation — the relational heart of the pipeline.

Implements, Spark-first and shuffle-free, the reference semantics of:

- sentence segmentation (fixed token windows) — reference: external splitter,
  preprocessing.ipynb (cell 4)
- gazetteer mention detection — reference: gold brat ``T`` lines
  (src/brat_eval.py:95-126)
- ordered entity-pair permutation within a sentence-distance window —
  reference: ``get_permutated_relation_pairs`` (preprocessing.ipynb cell 5)
  with CUTOFF (cell 11) and valid type-combination pruning (cell 15)
- [s1]/[e1], [s2]/[e2] marker insertion with cross-sentence concatenation —
  reference: ``format_relen`` (preprocessing.ipynb cell 6)

Design for 100 TB: the quadratic pair blow-up happens *inside one document*,
capped by ``max_pairs_per_doc``, so candidate generation causes **zero
shuffle** and no doc-level skew can stall a stage. One Python enumeration
core (``doc_index`` → ``enumerate_doc`` → ``candidate_rows``) runs in the
Arrow kernels: the fused flagship (``scoring.enum_score_filter_number``),
``candidates_lengths_kernel`` and ``candidate_cap_stats``. The Catalyst
HOF form ``candidates_indexed`` builds the text candidate frame (streams,
salted runs, featurize, binary mode) and is the kernels' oracle. The naive
relational formulation (mentions self-join on doc key) shuffles the full
mention table twice and is quadratic *across* the shuffle.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import S1_CLOSE, S1_OPEN, S2_CLOSE, S2_OPEN, PipelineConfig
from ..functions.util import ensure_parallelism

__all__ = [
    "tokens_col", "mentions_col", "pairs_col", "candidates",
    "candidate_cap_stats",
]


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization (reference: ``text.split(' ')``,
    src/data_utils.py:332)."""
    return F.split(text, " ")


def comb_map_col(cfg: PipelineConfig) -> Column:
    """t1 -> array of allowed t2: EXACT tuple membership in
    ``cfg.valid_combs`` (the reference's ``(en1t, en2t) not in valid_comb``
    set check, preprocessing.ipynb cell 6) — not the cross product of the
    projected type sets, which silently diverges for any config whose combo
    set is not a full cross product. Lookup of an absent t1 yields NULL and
    ``array_contains(NULL, x)`` is NULL, so such pairs are filtered."""
    by_t1: dict[str, list[str]] = {}
    for t1, t2 in cfg.valid_combs:
        by_t1.setdefault(t1, []).append(t2)
    entries: list[Column] = []
    for t1 in sorted(by_t1):
        entries.append(F.lit(t1))
        entries.append(F.array(*[F.lit(x) for x in sorted(by_t1[t1])]))
    return F.create_map(*entries)


def mentions_col(cfg: PipelineConfig, toks: Column) -> Column:
    """array<struct<i:int, tok, ent_type, sent_id:int>> — 1-based token index.

    Gazetteer mention detection as a pure Catalyst expression: map-lookup of
    each token against the broadcast-size entity vocabulary.
    """
    vocab = F.create_map(
        *[F.lit(x) for kv in cfg.ent_vocab.items() for x in kv]
    )
    indexed = F.transform(
        toks,
        lambda x, i: F.struct(
            (i + F.lit(1)).cast("int").alias("i"),
            x.alias("tok"),
            vocab[x].alias("ent_type"),
        ),
    )
    hits = F.filter(indexed, lambda s: s["ent_type"].isNotNull())
    return F.transform(
        hits,
        lambda s: F.struct(
            s["i"].alias("i"),
            s["tok"].alias("tok"),
            s["ent_type"].alias("ent_type"),
            F.floor((s["i"] - 1) / cfg.sent_len).cast("int").alias("sent_id"),
        ),
    )


def pairs_col(cfg: PipelineConfig, mentions: Column) -> Column:
    """Ordered candidate pairs (m1=arg1 non-Drug, m2=arg2 Drug) within the
    sentence-distance cutoff. In-row cross product + predicate pushup; the
    reference's F3 (valid combos), F4 (distance) and J1 (permutations).
    Superseded by the indexed enumeration (output-linear); kept as the
    naive reference form for the equality tests."""
    cmap = comb_map_col(cfg)

    def pair_filter(p: Column) -> Column:
        return (
            (p["a"]["i"] != p["b"]["i"])
            & (F.abs(p["a"]["sent_id"] - p["b"]["sent_id"]) <= cfg.cutoff)
            & F.array_contains(cmap[p["a"]["ent_type"]], p["b"]["ent_type"])
        )

    crossed = F.flatten(
        F.transform(
            mentions,
            lambda m1: F.transform(
                mentions, lambda m2: F.struct(m1.alias("a"), m2.alias("b"))
            ),
        )
    )
    return F.filter(crossed, pair_filter)


def _marked(
    toks: Column, wst: Column, wlen: Column, ent_i: Column, open_t: str, close_t: str
) -> Column:
    """Space-joined window tokens with ``open_t``/``close_t`` inserted around
    the single token at 1-based index ``ent_i`` (reference ``format_relen``:
    markers are separate space-joined tokens)."""
    win = F.slice(toks, wst, wlen)
    return F.array_join(
        F.transform(
            win,
            lambda x, k: F.when(
                wst + k == ent_i,
                F.concat(F.lit(open_t + " "), x, F.lit(" " + close_t)),
            ).otherwise(x),
        ),
        " ",
    )


def candidate_cap_stats(
    df: DataFrame, cfg: PipelineConfig | None = None, doc_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """No silent truncation (SURVEY.md §7.4.4): one row of corpus-level cap
    accounting — docs over the per-doc pair cap and total pairs dropped.
    Counts only: a per-doc Arrow kernel counts each doc's UNCAPPED pairs
    from the window buckets (``count_doc_pairs``) without building a
    single pair, so a hot-host page costs its mention scan, not its
    quadratic pair array. Run it alongside any capped pipeline and
    persist the row with the run's lineage."""
    import pandas as pd

    cfg = cfg or PipelineConfig()
    spec = enum_spec(cfg)

    def kernel(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "n_pairs": pd.array(
                    [None if tx is None
                     else count_doc_pairs(tx.split(" "), spec)
                     for tx in pdf["text"]],
                    dtype="Int64",
                )
            })

    per_doc = df.select(F.col(text_col).alias("text")).mapInPandas(
        kernel, schema="n_pairs long"
    )
    n_pairs = F.col("n_pairs")
    # max_pairs_per_doc of 0/None means uncapped: nothing is dropped
    n_dropped = (
        F.greatest(n_pairs - spec.cap, F.lit(0)) if spec.cap else F.lit(0)
    )
    return per_doc.agg(
        F.count("*").alias("n_docs"),
        F.sum(n_pairs).alias("n_pairs_total"),
        F.sum(F.when(n_dropped > 0, 1).otherwise(0)).alias("n_docs_capped"),
        F.sum(n_dropped).alias("n_pairs_dropped"),
    )


def candidates_relational(
    df: DataFrame, cfg: PipelineConfig | None = None, doc_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The NAIVE relational formulation of candidate generation — mentions
    exploded to rows, self-joined on the doc key, joined back to tokens for
    marker strings. Produces byte-identical output to ``candidates`` (tested)
    but shuffles the mention table twice and aggregates per pair; kept as
    the measured counter-example for BENCH.md (the in-row HOF form is the
    product path)."""
    from pyspark.sql import Window

    cfg = cfg or PipelineConfig()
    toks = tokens_col(F.col(text_col))
    base = ensure_parallelism(
        df.select(F.col(doc_col).alias("doc_id"), toks.alias("toks"))
    )
    tok_rows = base.select(
        "doc_id",
        F.size("toks").alias("ntok"),
        F.posexplode("toks").alias("pos", "tok"),
    ).select(
        "doc_id", "ntok", (F.col("pos") + 1).cast("int").alias("i"), "tok"
    )
    vocab = F.create_map(*[F.lit(x) for kv in cfg.ent_vocab.items() for x in kv])
    men = (
        tok_rows.withColumn("ent_type", vocab[F.col("tok")])
        .filter(F.col("ent_type").isNotNull())
        .withColumn(
            "sent_id", F.floor((F.col("i") - 1) / cfg.sent_len).cast("int")
        )
    )
    arg1_types = [t1 for t1, _ in cfg.valid_combs]
    arg2_types = sorted({t2 for _, t2 in cfg.valid_combs})
    m1 = men.filter(F.col("ent_type").isin(*arg1_types)).select(
        "doc_id", "ntok", F.col("i").alias("i1"),
        F.col("ent_type").alias("ent_type_1"),
        F.col("sent_id").alias("s1"),
    )
    m2 = men.filter(F.col("ent_type").isin(*arg2_types)).select(
        "doc_id", F.col("i").alias("i2"),
        F.col("ent_type").alias("ent_type_2"),
        F.col("sent_id").alias("s2"),
    )
    pairs = m1.join(m2, "doc_id").filter(
        (F.col("i1") != F.col("i2"))
        & (F.abs(F.col("s1") - F.col("s2")) <= cfg.cutoff)
        & F.array_contains(
            comb_map_col(cfg)[F.col("ent_type_1")], F.col("ent_type_2")
        )
    )
    lo = F.least("s1", "s2")
    hi = F.greatest("s1", "s2")
    pairs = pairs.select(
        "doc_id", "i1", "i2", "ent_type_1", "ent_type_2",
        F.abs(F.col("s1") - F.col("s2")).cast("int").alias("sent_diff"),
        (lo * cfg.sent_len + 1).cast("int").alias("wst"),
        F.least(F.col("ntok"), ((hi + 1) * cfg.sent_len).cast("int")).alias(
            "wen"
        ),
    )
    win_toks = pairs.join(
        tok_rows.select("doc_id", "i", "tok"), "doc_id"
    ).filter(F.col("i").between(F.col("wst"), F.col("wen")))
    marked = win_toks.groupBy(
        "doc_id", "i1", "i2", "ent_type_1", "ent_type_2", "sent_diff"
    ).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("i", "tok"))
                ),
                lambda s: F.when(
                    s["i"] == F.col("i1"),
                    F.concat(
                        F.lit(S1_OPEN + " "), s["tok"], F.lit(" " + S1_CLOSE)
                    ),
                ).otherwise(s["tok"]),
            ),
            " ",
        ).alias("s1_marked"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("i", "tok"))
                ),
                lambda s: F.when(
                    s["i"] == F.col("i2"),
                    F.concat(
                        F.lit(S2_OPEN + " "), s["tok"], F.lit(" " + S2_CLOSE)
                    ),
                ).otherwise(s["tok"]),
            ),
            " ",
        ).alias("s2_marked"),
    )
    return marked.select(
        "doc_id",
        F.concat(F.lit("T"), F.col("i1")).alias("ent_id_1"),
        F.concat(F.lit("T"), F.col("i2")).alias("ent_id_2"),
        "ent_type_1", "ent_type_2", "s1_marked", "s2_marked",
        "sent_diff", "i1", "i2",
    )


def candidates_inrow(
    df: DataFrame, cfg: PipelineConfig | None = None, doc_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fully in-row (zero-shuffle) candidate generation: per-row nested
    HOF cross product -> explode. Byte-identical output to ``candidates``.

    MEASURED trade-off (BENCH.md): zero shuffle, but Catalyst higher-order
    functions are interpreted (not whole-stage-codegen'd), so the per-row
    O(M²) cross product dominates when docs carry many mentions — 21×
    slower than the join form on 600-token mention-heavy docs. Kept for
    mention-sparse corpora and as the measured counter-example; the hybrid
    ``candidates`` is the product path.
    """
    cfg = cfg or PipelineConfig()
    toks = tokens_col(F.col(text_col))
    base = ensure_parallelism(
        df.select(F.col(doc_col).alias("doc_id"), toks.alias("toks"))
    )
    men = mentions_col(cfg, F.col("toks"))
    pairs = pairs_col(cfg, men)
    if cfg.max_pairs_per_doc:
        pairs = F.slice(
            pairs, 1, F.least(F.size(pairs), F.lit(cfg.max_pairs_per_doc))
        )
    rows = base.select("doc_id", "toks", F.explode(pairs).alias("p"))

    a_i = F.col("p")["a"]["i"]
    b_i = F.col("p")["b"]["i"]
    a_s = F.col("p")["a"]["sent_id"]
    b_s = F.col("p")["b"]["sent_id"]
    lo = F.least(a_s, b_s)
    hi = F.greatest(a_s, b_s)
    wst = (lo * cfg.sent_len + 1).cast("int")
    wen = F.least(F.size("toks"), ((hi + 1) * cfg.sent_len).cast("int"))
    wlen = wen - wst + 1

    return rows.select(
        "doc_id",
        F.concat(F.lit("T"), a_i).alias("ent_id_1"),
        F.concat(F.lit("T"), b_i).alias("ent_id_2"),
        F.col("p")["a"]["ent_type"].alias("ent_type_1"),
        F.col("p")["b"]["ent_type"].alias("ent_type_2"),
        _marked(F.col("toks"), wst, wlen, a_i, S1_OPEN, S1_CLOSE).alias(
            "s1_marked"
        ),
        _marked(F.col("toks"), wst, wlen, b_i, S2_OPEN, S2_CLOSE).alias(
            "s2_marked"
        ),
        F.abs(a_s - b_s).cast("int").alias("sent_diff"),
        a_i.cast("int").alias("i1"),
        b_i.cast("int").alias("i2"),
    )


def _win_len(toks: Column, wst: Column, wlen: Column) -> Column:
    """Character length of a ``_marked`` window string WITHOUT building it
    (r7, guide §1.2 — don't compute what you only measure): the length of
    the space-joined window plus the 10 marker characters ("[s1] " +
    " [e1]", resp. s2/e2 — both marker pairs are 10 chars, so
    length(s1_marked) == length(s2_marked) == this). Used by the
    lengths-only scorer input path (scoring backends that declare
    ``needs = "lengths"``); equality with F.length(_marked(...)) is
    pinned in tests/test_round7_perf.py."""
    return (
        F.aggregate(
            F.slice(toks, wst, wlen),
            F.lit(0),
            lambda acc, x: acc + F.length(x),
        )
        + wlen - 1 + F.lit(10)
    ).cast("int")


def candidates_indexed(
    df: DataFrame, cfg: PipelineConfig | None = None, doc_col: str = "doc_id",
    text_col: str = "text", emit: str = "text",
) -> DataFrame:
    """Zero-shuffle, output-linear candidate generation (product path):
    bucket arg2 (Drug) mentions by sentence window, then enumerate each
    arg1 mention only against the drugs actually inside its window — the
    in-row analog of an index nested-loop join. Per-doc work is
    O(n_sent*n_drugs + n_pairs) instead of O(M^2). Stream-compatible; the
    cap is an in-row slice.

    CRITICAL plan detail: Catalyst re-evaluates an inner array expression
    embedded in a lambda once PER OUTER ELEMENT — only bound attributes are
    safe to reference inside lambdas. The ``explode(array(struct(...)))``
    stage below is a deliberate Generate barrier that materializes the
    mention index (m1s + drugs_by_win) exactly once per document before the
    pair enumeration references it. Without it this operator is ~100x
    slower on mention-heavy docs (measured; see BENCH.md)."""
    cfg = cfg or PipelineConfig()
    arg1_types = [t1 for t1, _ in cfg.valid_combs]
    arg2_types = sorted({t2 for _, t2 in cfg.valid_combs})

    toks = tokens_col(F.col(text_col))
    base = ensure_parallelism(
        df.select(F.col(doc_col).alias("doc_id"), toks.alias("toks"))
    )
    men = F.col("men")
    m1s = F.filter(men, lambda m: m["ent_type"].isin(*arg1_types))
    m2s = F.filter(men, lambda m: m["ent_type"].isin(*arg2_types))
    n_sent = F.ceil(F.size("toks") / F.lit(cfg.sent_len)).cast("int")
    drugs_by_win = F.transform(
        F.sequence(F.lit(0), F.greatest(n_sent - 1, F.lit(0))),
        lambda s: F.filter(
            F.col("m2s"), lambda d: F.abs(d["sent_id"] - s) <= cfg.cutoff
        ),
    )
    # Generate barrier #1: materialize men -> (m1s, m2s) as attributes
    idx1 = (
        base.select(
            "doc_id", "toks", mentions_col(cfg, F.col("toks")).alias("men")
        )
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.array(F.struct(m1s.alias("m1s"), m2s.alias("m2s")))
            ).alias("z1"),
        )
        .select("doc_id", "toks", "z1.m1s", "z1.m2s")
    )
    # Generate barrier #2: materialize the per-sentence drug index
    idx2 = idx1.select(
        "doc_id",
        "toks",
        "m1s",
        F.explode(F.array(drugs_by_win.alias("x"))).alias("dbw"),
    )
    cmap = comb_map_col(cfg)
    pairs = F.filter(
        F.flatten(
            F.transform(
                F.col("m1s"),
                lambda m1: F.transform(
                    F.element_at(F.col("dbw"), m1["sent_id"] + F.lit(1)),
                    lambda m2: F.struct(m1.alias("a"), m2.alias("b")),
                ),
            )
        ),
        lambda pr: (pr["a"]["i"] != pr["b"]["i"])
        & F.array_contains(cmap[pr["a"]["ent_type"]], pr["b"]["ent_type"]),
    )
    if cfg.max_pairs_per_doc:
        pairs = F.slice(
            pairs, 1, F.least(F.size(pairs), F.lit(cfg.max_pairs_per_doc))
        )
    rows = idx2.select("doc_id", "toks", F.explode(pairs).alias("p"))

    a_i = F.col("p")["a"]["i"]
    b_i = F.col("p")["b"]["i"]
    a_s = F.col("p")["a"]["sent_id"]
    b_s = F.col("p")["b"]["sent_id"]
    lo = F.least(a_s, b_s)
    hi = F.greatest(a_s, b_s)
    wst = (lo * cfg.sent_len + 1).cast("int")
    wen = F.least(F.size("toks"), ((hi + 1) * cfg.sent_len).cast("int"))
    wlen = wen - wst + 1

    if emit == "lengths":
        # lengths-only scorer input (scoring backends with
        # needs == "lengths"): ONE O(window) aggregate replaces TWO
        # O(window) marked-string builds per pair, and two ints — not two
        # strings — cross the Arrow boundary (guide §4.1). The "wl"
        # projection barrier makes the aggregate an attribute before it
        # is aliased twice.
        return rows.select(
            "doc_id",
            F.concat(F.lit("T"), a_i).alias("ent_id_1"),
            F.concat(F.lit("T"), b_i).alias("ent_id_2"),
            F.col("p")["a"]["ent_type"].alias("ent_type_1"),
            F.col("p")["b"]["ent_type"].alias("ent_type_2"),
            _win_len(F.col("toks"), wst, wlen).alias("wl"),
            F.abs(a_s - b_s).cast("int").alias("sent_diff"),
            a_i.cast("int").alias("i1"),
            b_i.cast("int").alias("i2"),
        ).select(
            "doc_id", "ent_id_1", "ent_id_2", "ent_type_1", "ent_type_2",
            F.col("wl").alias("s1_len"), F.col("wl").alias("s2_len"),
            "sent_diff", "i1", "i2",
        )
    return rows.select(
        "doc_id",
        F.concat(F.lit("T"), a_i).alias("ent_id_1"),
        F.concat(F.lit("T"), b_i).alias("ent_id_2"),
        F.col("p")["a"]["ent_type"].alias("ent_type_1"),
        F.col("p")["b"]["ent_type"].alias("ent_type_2"),
        _marked(F.col("toks"), wst, wlen, a_i, S1_OPEN, S1_CLOSE).alias(
            "s1_marked"
        ),
        _marked(F.col("toks"), wst, wlen, b_i, S2_OPEN, S2_CLOSE).alias(
            "s2_marked"
        ),
        F.abs(a_s - b_s).cast("int").alias("sent_diff"),
        a_i.cast("int").alias("i1"),
        b_i.cast("int").alias("i2"),
    )


def candidates_join(
    df: DataFrame, cfg: PipelineConfig | None = None, doc_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """documents(doc_id, text, ...) -> candidates DataFrame (join form).

    Output columns mirror the reference's 8-column TSV contract
    (readme.md:35-43) plus the explicit content key (doc_id, i1, i2) that
    replaces positional prediction alignment (SURVEY.md §2.3 J3):

      doc_id, ent_id_1, ent_id_2, ent_type_1, ent_type_2,
      s1_marked, s2_marked, sent_diff, i1, i2

    HYBRID plan (measured in BENCH.md against two alternatives):
    mention detection is a linear in-row HOF; the pair cross product is a
    relational self-join on the doc key (Tungsten, codegen) — quadratic
    work runs in the join, not in interpreted HOF evaluation; marker
    strings are linear in-row slice/transform over the token array joined
    back by doc key. The per-doc cap is a row_number window that REUSES the
    join's hash partitioning (no extra exchange). Skew: AQE skew-join
    splits oversized docs' join partitions; the cap bounds total output.
    """
    from pyspark.sql import Window

    cfg = cfg or PipelineConfig()
    if df.isStreaming:
        # streams can't run the row_number cap (non-time window); the
        # in-row form is fully stream-compatible and micro-batches are
        # mention-sparse, where it is equally fast
        return candidates_inrow(df, cfg, doc_col=doc_col, text_col=text_col)
    toks = tokens_col(F.col(text_col))
    base = ensure_parallelism(
        df.select(F.col(doc_col).alias("doc_id"), toks.alias("toks"))
    )
    men_rows = base.select(
        "doc_id", F.explode(mentions_col(cfg, F.col("toks"))).alias("m")
    ).select(
        "doc_id",
        F.col("m")["i"].alias("i"),
        F.col("m")["ent_type"].alias("ent_type"),
        F.col("m")["sent_id"].alias("sent_id"),
    )
    arg1_types = [t1 for t1, _ in cfg.valid_combs]
    arg2_types = sorted({t2 for _, t2 in cfg.valid_combs})
    m1 = men_rows.filter(F.col("ent_type").isin(*arg1_types)).select(
        "doc_id", F.col("i").alias("i1"),
        F.col("ent_type").alias("ent_type_1"), F.col("sent_id").alias("s1"),
    )
    m2 = men_rows.filter(F.col("ent_type").isin(*arg2_types)).select(
        "doc_id", F.col("i").alias("i2"),
        F.col("ent_type").alias("ent_type_2"), F.col("sent_id").alias("s2"),
    )
    pairs = m1.join(m2, "doc_id").filter(
        (F.col("i1") != F.col("i2"))
        & (F.abs(F.col("s1") - F.col("s2")) <= cfg.cutoff)
        & F.array_contains(
            comb_map_col(cfg)[F.col("ent_type_1")], F.col("ent_type_2")
        )
    )
    if cfg.max_pairs_per_doc:
        # same kept-set as the in-row slice: first N in (i1, i2) order;
        # window reuses the join's doc_id partitioning (sort only)
        w = Window.partitionBy("doc_id").orderBy("i1", "i2")
        pairs = pairs.withColumn("__rn", F.row_number().over(w)).filter(
            F.col("__rn") <= cfg.max_pairs_per_doc
        ).drop("__rn")

    joined = pairs.join(base, "doc_id")
    a_s = F.col("s1")
    b_s = F.col("s2")
    lo = F.least(a_s, b_s)
    hi = F.greatest(a_s, b_s)
    wst = (lo * cfg.sent_len + 1).cast("int")
    wen = F.least(F.size("toks"), ((hi + 1) * cfg.sent_len).cast("int"))
    wlen = wen - wst + 1

    return joined.select(
        "doc_id",
        F.concat(F.lit("T"), F.col("i1")).alias("ent_id_1"),
        F.concat(F.lit("T"), F.col("i2")).alias("ent_id_2"),
        "ent_type_1",
        "ent_type_2",
        _marked(F.col("toks"), wst, wlen, F.col("i1"), S1_OPEN, S1_CLOSE)
        .alias("s1_marked"),
        _marked(F.col("toks"), wst, wlen, F.col("i2"), S2_OPEN, S2_CLOSE)
        .alias("s2_marked"),
        F.abs(a_s - b_s).cast("int").alias("sent_diff"),
        F.col("i1").cast("int").alias("i1"),
        F.col("i2").cast("int").alias("i2"),
    )


class EnumSpec(NamedTuple):
    """The per-run constants of the enumeration core, built once on the
    driver (``enum_spec``) and captured by value in the kernels."""

    vocab: dict  # token -> entity type
    arg1: frozenset  # types that open a pair
    arg2: frozenset  # types a pair can close on
    allowed: dict  # arg1 type -> frozenset of arg2 types (exact combos)
    sent_len: int
    cutoff: int
    cap: int  # max pairs per doc; 0 = uncapped


def enum_spec(cfg: PipelineConfig) -> EnumSpec:
    allowed: dict[str, set] = {}
    for t1, t2 in cfg.valid_combs:
        allowed.setdefault(t1, set()).add(t2)
    return EnumSpec(
        vocab=dict(cfg.ent_vocab),
        arg1=frozenset(allowed),
        arg2=frozenset(t2 for _, t2 in cfg.valid_combs),
        allowed={t1: frozenset(v) for t1, v in allowed.items()},
        sent_len=cfg.sent_len,
        cutoff=cfg.cutoff,
        cap=cfg.max_pairs_per_doc or 0,
    )


def doc_index(toks: list[str], spec: EnumSpec):
    """Mention scan + per-window arg2 buckets of one tokenized doc:
    ``(m1s, dbw)`` with the arg1 mentions ``(i, type, sent_id)`` in token
    order (1-based ``i``) and ``dbw[s]`` the arg2 mentions within
    ``cutoff`` sentences of sentence ``s``, in token order. None when the
    doc has no arg1 or no arg2 mention."""
    sl = spec.sent_len
    vocab = spec.vocab
    men = [(i + 1, vocab[t], i // sl) for i, t in enumerate(toks) if t in vocab]
    m1s = [m for m in men if m[1] in spec.arg1]
    m2s = [m for m in men if m[1] in spec.arg2]
    if not m1s or not m2s:
        return None
    cutoff = spec.cutoff
    dbw = [
        [d for d in m2s if abs(d[2] - s) <= cutoff]
        for s in range(max((len(toks) + sl - 1) // sl, 1))
    ]
    return m1s, dbw


def enumerate_doc(toks: list[str], spec: EnumSpec):
    """The enumeration core: yields one doc's candidate pairs
    ``(i1, t1, s1, i2, t2, s2)`` in the indexed form's order — arg1
    mentions in token order, each against its window's arg2 mentions in
    token order — keeping the first ``spec.cap``. The same kept-set as
    ``candidates_indexed``'s in-row slice (pinned in tests)."""
    idx = doc_index(toks, spec)
    if idx is None:
        return
    m1s, dbw = idx
    cap = spec.cap
    n = 0
    for i1, t1, s1 in m1s:
        al = spec.allowed[t1]
        for i2, t2, s2 in dbw[s1]:
            if i1 != i2 and t2 in al:
                yield i1, t1, s1, i2, t2, s2
                n += 1
                if n == cap:
                    return


def count_doc_pairs(toks: list[str], spec: EnumSpec) -> int:
    """One doc's UNCAPPED pair count, from the window buckets without
    enumerating: an arg1 mention pairs with every allowed-type mention of
    its window bucket except itself (it sits in its own bucket iff its
    type is allowed as its own partner)."""
    idx = doc_index(toks, spec)
    if idx is None:
        return 0
    m1s, dbw = idx
    n = 0
    for _, t1, s1 in m1s:
        al = spec.allowed[t1]
        n += sum(1 for d in dbw[s1] if d[1] in al) - (t1 in al)
    return n


CANDIDATE_COLS = {
    emit: [
        "doc_id", "ent_id_1", "ent_id_2", "ent_type_1", "ent_type_2",
        *pair, "sent_diff", "i1", "i2",
    ]
    for emit, pair in (
        ("text", ("s1_marked", "s2_marked")),
        ("lengths", ("s1_len", "s2_len")),
    )
}


def candidate_rows(doc_ids, texts, spec: EnumSpec, emit: str = "text"):
    """Candidate rows (``CANDIDATE_COLS[emit]`` order) of a batch of
    documents, on ``enumerate_doc``. A pair's window (sentences lo..hi,
    ``toks[lo*sl : min(ntok, (hi+1)*sl)]`` " "-joined) is a slice of the
    text, located by a prefix sum of token offsets. ``emit="text"`` marks
    the entity token in it ("[s1] tok [e1]" / "[s2] tok [e2]", the
    ``_marked`` semantics); ``emit="lengths"`` gives its length plus the
    10 marker chars (``_win_len``). NULL texts yield nothing."""
    sl = spec.sent_len
    text = emit == "text"
    for did, tx in zip(doc_ids, texts):
        if tx is None:
            continue
        toks = tx.split(" ")
        ntok = len(toks)
        pos = None
        for i1, t1, s1, i2, t2, s2 in enumerate_doc(toks, spec):
            if pos is None:
                # pos[k] = offset of token k in tx; pos[ntok] = len(tx)+1
                pos = [0] * (ntok + 1)
                for k, t in enumerate(toks):
                    pos[k + 1] = pos[k] + len(t) + 1
            lo, hi = (s1, s2) if s1 <= s2 else (s2, s1)
            a = pos[lo * sl]
            z = pos[min(ntok, (hi + 1) * sl)] - 1
            if text:
                b1, e1 = pos[i1 - 1], pos[i1] - 1
                b2, e2 = pos[i2 - 1], pos[i2] - 1
                m1 = f"{tx[a:b1]}{S1_OPEN} {tx[b1:e1]} {S1_CLOSE}{tx[e1:z]}"
                m2 = f"{tx[a:b2]}{S2_OPEN} {tx[b2:e2]} {S2_CLOSE}{tx[e2:z]}"
            else:
                m1 = m2 = z - a + 10
            yield (did, f"T{i1}", f"T{i2}", t1, t2, m1, m2, abs(s1 - s2),
                   i1, i2)


def candidates_lengths_kernel(
    df: DataFrame, cfg: PipelineConfig | None = None, doc_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Arrow-batched kernel twin of
    ``candidates_indexed(emit="lengths")`` — byte-identical rows (pinned
    in tests/test_round7_perf.py), built by ``candidate_rows`` per doc
    instead of the interpreted Catalyst HOF enumeration (same ~100×
    per-element gap the dedup kernels measured). Serves ``candidates``'s
    batch lengths mode; the fused flagship kernel
    (``scoring.enum_score_filter_number``) runs the same enumeration for
    both emits without an intermediate candidate frame."""
    import pandas as pd

    cfg = cfg or PipelineConfig()
    # factor=1: one wave of core-count tasks — the per-task Python
    # boundary overhead argument from the dedup kernels
    src = ensure_parallelism(
        df.select(F.col(doc_col).alias("doc_id"), F.col(text_col).alias("text")),
        factor=1,
    )
    id_type = src.schema["doc_id"].dataType.simpleString()
    spec = enum_spec(cfg)
    cols = CANDIDATE_COLS["lengths"]

    def kernel(batches):
        for pdf in batches:
            rows = list(
                candidate_rows(pdf["doc_id"], pdf["text"], spec, "lengths")
            )
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    return src.mapInPandas(
        kernel,
        schema=(
            f"doc_id {id_type}, ent_id_1 string, ent_id_2 string, "
            "ent_type_1 string, ent_type_2 string, s1_len int, "
            "s2_len int, sent_diff int, i1 int, i2 int"
        ),
    )


def candidates(
    df: DataFrame, cfg: PipelineConfig | None = None, doc_col: str = "doc_id",
    text_col: str = "text", emit: str = "text",
) -> DataFrame:
    """The candidate frame. Four formulations were built and measured
    (BENCH.md): naive in-row cross product, relational self-join +
    groupBy, hybrid join + in-row markers, and the indexed in-row form —
    the indexed form wins on every corpus shape AND is the only
    zero-shuffle one, so it builds the text frame. The others remain
    importable for regression benchmarks.

    ``emit="lengths"`` swaps the two marked-string columns for the
    single arithmetically-derived window length (s1_len/s2_len) — the
    input projection for scoring backends that declare
    ``needs = "lengths"`` (see scoring._resolve_factory). Batch
    lengths-mode runs the Arrow-batched enumeration kernel
    (``candidates_lengths_kernel``, pinned byte-identical to the indexed
    HOF form); streams keep the HOF form. The flagship pipeline does not
    build this frame at all (``scoring.enum_score_filter_number``)."""
    if emit == "lengths" and not df.isStreaming:
        return candidates_lengths_kernel(
            df, cfg, doc_col=doc_col, text_col=text_col
        )
    return candidates_indexed(
        df, cfg, doc_col=doc_col, text_col=text_col, emit=emit
    )
