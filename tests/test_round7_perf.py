"""Round-7 optimization pins: every r7 physical-plan/kernel change must be
byte-identical to the formulation it replaced.

- dedup shingle/band Python kernels == the Catalyst-HOF twins (incl. the
  short-doc, unicode, consecutive-space, NULL-text and empty-shingles
  edges);
- candidates emit="lengths" window lengths == F.length of the marked
  strings the text mode builds;
- cosine_with_norms == cosine (bit-identical doubles);
- the stub scorer's lengths input path == its text input path;
- the fused flagship kernel == scoring the HOF text candidate frame, for
  lengths-only and text backends, and the frames it hands a scorer ==
  that candidate frame;
- q_ann_ivf_topk's aggregate-based corpus cell assignment == the
  window-based one (same argmax + tiebreak).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from clinicaltransformerrelationextraction_spark.config import PipelineConfig
from clinicaltransformerrelationextraction_spark.operators import dedup
from clinicaltransformerrelationextraction_spark.operators.candidates import (
    candidates,
)
from tests.conftest import SF_SMOKE


def _same(a, b, msg=""):
    d1 = a.exceptAll(b).count()
    d2 = b.exceptAll(a).count()
    assert (d1, d2) == (0, 0), f"{msg}: exceptAll diffs {d1}/{d2}"


EDGE_DOCS = [
    (1, "héllo wörld héllo wörld x"),  # unicode + repeats
    (2, "one"),                        # single token -> dropped
    (3, ""),                           # empty text -> dropped
    (4, "a  b   c"),                   # consecutive spaces -> empty tokens
    (5, None),                         # NULL text -> dropped
    (6, "a b"),                        # minimal two-token doc
    (7, "x " * 50 + "x"),              # heavy repetition -> 1 distinct
]


@pytest.fixture(scope="module")
def edge_docs(spark):
    return spark.createDataFrame(EDGE_DOCS, "doc_id long, text string")


def test_shingle_kernel_matches_hof(spark, edge_docs):
    docs = dedup._docs(spark, SF_SMOKE)
    _same(
        dedup.shingle_frame(docs), dedup.shingle_frame_hof(docs),
        "corpus shingles",
    )
    _same(
        dedup.shingle_frame(edge_docs), dedup.shingle_frame_hof(edge_docs),
        "edge shingles",
    )


def test_bands_kernels_match_hof(spark, edge_docs):
    docs = dedup._docs(spark, SF_SMOKE)
    hof = dedup.bands_from_shingles_hof(dedup.shingle_frame_hof(docs))
    _same(dedup.bands_frame(docs), hof, "fused bands")
    _same(
        dedup.bands_from_shingles(dedup.shingle_frame(docs)), hof,
        "chained bands",
    )
    _same(
        dedup.bands_frame(edge_docs),
        dedup.bands_from_shingles_hof(dedup.shingle_frame_hof(edge_docs)),
        "edge bands",
    )


def test_bands_empty_shingles_edge(spark):
    # array_min of an empty array is NULL; concat_ws skips NULLs; so the
    # HOF twin emits md5("") band keys — the kernel must reproduce that
    esh = spark.createDataFrame([(9, [])], "doc_id long, shingles array<string>")
    _same(
        dedup.bands_from_shingles(esh),
        dedup.bands_from_shingles_hof(esh),
        "empty-shingles bands",
    )
    assert dedup.bands_from_shingles(esh).count() == dedup.N_SEEDS // dedup.BAND_ROWS


def test_simhash_kernel_matches_hof(spark, edge_docs):
    docs = dedup._docs(spark, SF_SMOKE).select("doc_id", "text")
    _same(
        dedup.q_simhash(spark, SF_SMOKE),
        dedup.simhash_frame_hof(docs),
        "corpus simhash",
    )
    # the kernel path over arbitrary docs incl. NULL text (the HOF's
    # when(NULL) collapses every bit term to 0 -> simhash 0)
    import pandas as pd

    from clinicaltransformerrelationextraction_spark.operators.dedup import (
        q_simhash,
    )

    # reuse the kernel via a monkey-free route: compare HOF twin on the
    # edge frame against the same kernel body applied through q_simhash's
    # mapInPandas (exercised by swapping _docs)
    hof = dedup.simhash_frame_hof(edge_docs).collect()
    import clinicaltransformerrelationextraction_spark.operators.dedup as dd

    orig = dd._docs
    try:
        dd._docs = lambda spark_, sf_: edge_docs
        kern = q_simhash(spark, SF_SMOKE).collect()
    finally:
        dd._docs = orig
    assert sorted(map(tuple, kern)) == sorted(map(tuple, hof))


def test_candidate_lengths_match_marked_strings(spark):
    from clinicaltransformerrelationextraction_spark.operators.candidates import (
        candidates_indexed, candidates_lengths_kernel,
    )
    from clinicaltransformerrelationextraction_spark.plans.pipeline import (
        load_documents,
    )

    cfg = PipelineConfig()
    docs = load_documents(spark, SF_SMOKE)
    text = candidates(docs, cfg).select(
        "doc_id", "i1", "i2",
        F.length("s1_marked").alias("s1_len"),
        F.length("s2_marked").alias("s2_len"),
    )
    lens = candidates(docs, cfg, emit="lengths").select(
        "doc_id", "i1", "i2", "s1_len", "s2_len"
    )
    _same(lens, text, "window lengths")
    # the kernel must reproduce the FULL indexed lengths frame (all
    # columns), including the capped kept-set and its enumeration order
    for cap in (10_000, 7):
        c = PipelineConfig(max_pairs_per_doc=cap)
        _same(
            candidates_lengths_kernel(docs, c),
            candidates_indexed(docs, c, emit="lengths"),
            f"lengths kernel vs indexed (cap={cap})",
        )


def test_cosine_with_norms_bit_identical(spark):
    from clinicaltransformerrelationextraction_spark.operators import (
        similarity as sim,
    )

    q = sim._q(spark, SF_SMOKE)
    a = q.select("vec_id", F.col("qe").alias("qa"))
    b = q.select(
        (F.col("vec_id") + 1).alias("vec_id"), F.col("qe").alias("qb")
    )
    j = a.join(b, "vec_id")
    plain = j.select(
        "vec_id", sim.cosine(F.col("qa"), F.col("qb")).alias("cos")
    )
    factored = j.select(
        "vec_id",
        sim.cosine_with_norms(
            F.col("qa"), F.col("qb"),
            sim.norm_col(F.col("qa")), sim.norm_col(F.col("qb")),
        ).alias("cos"),
    )
    # exceptAll compares the raw doubles — bit-identity, not tolerance
    _same(plain, factored, "cosine factoring")


def test_stub_lengths_path_matches_text_path():
    import numpy as np
    import pandas as pd

    from clinicaltransformerrelationextraction_spark.operators.scoring import (
        _make_stub_scorer,
    )

    cfg = PipelineConfig()
    labels = list(cfg.labels)
    pdf_text = pd.DataFrame(
        {
            "s1_marked": ["[s1] a [e1] b", "x " * 30, "é ü"],
            "s2_marked": ["c [s2] d [e2]", "y", "zz"],
            "i1": [1, 5, 2],
            "i2": [3, 7, 4],
        }
    )
    pdf_len = pd.DataFrame(
        {
            "s1_len": pdf_text["s1_marked"].str.len(),
            "s2_len": pdf_text["s2_marked"].str.len(),
            "i1": pdf_text["i1"],
            "i2": pdf_text["i2"],
        }
    )
    for mode in (0, 1):
        c = PipelineConfig(data_format_mode=mode)
        s = _make_stub_scorer(c, labels)
        it, st = s(pdf_text)
        il, sl = s(pdf_len)
        assert np.array_equal(it, il) and np.array_equal(st, sl)
    assert _make_stub_scorer.needs == "lengths"


def test_mentions_kernel_matches_window_form(spark, edge_docs):
    from clinicaltransformerrelationextraction_spark.operators.segmentation import (
        mentions, mentions_hof,
    )
    from clinicaltransformerrelationextraction_spark.plans.pipeline import (
        load_documents,
    )

    cfg = PipelineConfig()
    docs = load_documents(spark, SF_SMOKE)
    _same(mentions(docs, cfg), mentions_hof(docs, cfg), "corpus mentions")
    _same(
        mentions(edge_docs, cfg), mentions_hof(edge_docs, cfg),
        "edge mentions",
    )


def test_ngram_rows_kernel_matches_explode_hof(spark, edge_docs):
    from pyspark.sql import functions as SF

    from clinicaltransformerrelationextraction_spark.operators.textstats import (
        ngram_rows, ngrams_expr,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    for n in (2, 3):
        hof = docs.select(
            "lang",
            SF.explode(
                ngrams_expr(SF.split("text", " "), n)
            ).alias("gram"),
        )
        _same(ngram_rows(docs, n, ["lang"]), hof, f"corpus {n}-grams")
    edge = edge_docs.withColumn("lang", SF.lit("xx"))
    hof = edge.select(
        "lang",
        SF.explode(ngrams_expr(SF.split("text", " "), 2)).alias("gram"),
    )
    _same(ngram_rows(edge, 2, ["lang"]), hof, "edge bigrams")


# edge docs of the fused kernel's input domain; doc 6 has exactly 7
# pairs (one ADE x 7 Drugs), so it sits exactly at the cap=7 boundary
FUSED_EDGE_DOCS = [
    (1, None),                                        # NULL text
    (2, ""),                                          # empty text
    (3, "   "),                                       # whitespace only
    (4, "héllo join wörld spark 日本語 key ünï hash"),  # multi-byte tokens
    (5, "spark"),                                     # a single mention
    (6, "join " + " ".join(["spark"] * 7)),           # exactly at cap=7
    (7, "join  spark   key"),                         # empty tokens
    (8, "x join x x x x x x x x spark key x x x x x x x x x x x table"),
    (9, " join spark "),                              # edge empty tokens
]
FUSED_CFGS = ({}, {"max_pairs_per_doc": 7}, {"data_format_mode": 1})


def _fused_inputs(spark):
    """The corpus (and its first 30 docs) with the edge docs appended
    under ids past the corpus's, the edge docs alone under int and string
    ids, and an empty input."""
    from clinicaltransformerrelationextraction_spark.plans.pipeline import (
        load_documents,
    )

    smoke = load_documents(spark, SF_SMOKE).select("doc_id", "text")
    edge = spark.createDataFrame(FUSED_EDGE_DOCS, "doc_id int, text string")
    tail = edge.select(
        (F.col("doc_id").cast("long") + 10**6).alias("doc_id"), "text")
    return {
        "smoke": smoke.unionByName(tail),
        "smoke30": smoke.filter(F.col("doc_id") < 30).unionByName(tail),
        "edge_int": edge,
        "edge_string": edge.select(
            F.concat(F.lit("d"), "doc_id").alias("doc_id"), "text"
        ),
        "empty": edge.limit(0),
    }


def test_fused_enum_score_matches_two_stage(spark):
    """enum_score_filter_number (the single-kernel flagship path) must
    equal score_filter_number over the HOF text candidate frame
    (candidates_indexed, the independent oracle), incl. the R-numbering,
    for lengths-only (stub) and text (npt, mlp) backends at the default
    cap, cap=7 and uni mode, over corpus + edge docs (int and string ids
    and an empty input at the default config): stub and npt exactly, mlp with
    identical keys and labels and scores within 1e-12 (float matmuls
    over differently sized batches)."""
    from clinicaltransformerrelationextraction_spark.operators.candidates import (
        candidates_indexed,
    )
    from clinicaltransformerrelationextraction_spark.operators.scoring import (
        enum_score_filter_number, score_filter_number,
    )

    inputs = _fused_inputs(spark)
    key = ["doc_id", "rel_id", "pred", "subj_id", "obj_id", "sent_diff",
           "i1", "i2"]
    for scorer in ("stub", "npt", "mlp"):
        corpus = "smoke" if scorer == "stub" else "smoke30"
        cases = [(corpus, kw) for kw in FUSED_CFGS] + [
            ("edge_int", {}), ("edge_string", {}), ("empty", {})]
        for name, kw in cases:
            docs = inputs[name]
            cfg = PipelineConfig(scorer=scorer, **kw)
            got = enum_score_filter_number(docs, cfg)
            want = score_filter_number(candidates_indexed(docs, cfg), cfg)
            msg = f"fused {scorer} {name} {kw}"
            g = sorted(map(tuple, got.select(*key, "score").collect()))
            w = sorted(map(tuple, want.select(*key, "score").collect()))
            assert name == "empty" or g, msg
            if scorer != "mlp":
                assert g == w, msg
                continue
            assert [r[:-1] for r in g] == [r[:-1] for r in w], msg
            assert all(abs(a[-1] - b[-1]) <= 1e-12
                       for a, b in zip(g, w)), msg


@pytest.fixture
def unregister_recording():
    from clinicaltransformerrelationextraction_spark.operators.scoring import (
        SCORER_REGISTRY,
    )

    yield
    SCORER_REGISTRY.pop("recording", None)


def _recording_factory(out_dir):
    """A scorer that pickles every frame it is handed into ``out_dir`` and
    labels every pair with label index 1 (never NonRel)."""
    def factory(cfg, labels):
        import os
        import uuid

        import numpy as np

        def scorer(pdf):
            pdf.to_pickle(os.path.join(out_dir, f"{uuid.uuid4().hex}.pkl"))
            return (np.ones(len(pdf), dtype=np.int64),
                    np.full(len(pdf), 0.5))

        return scorer

    return factory


def _recorded(out_dir):
    import glob

    import pandas as pd

    return [pd.read_pickle(f) for f in glob.glob(f"{out_dir}/*.pkl")]


def test_fused_text_kernel_hands_scorer_the_candidate_frame(
        spark, tmp_path, unregister_recording):
    """The text emit must hand a registered text backend exactly the rows
    candidates_indexed builds: the same columns, in order, and the same
    marked strings, over the corpus and every edge doc."""
    from clinicaltransformerrelationextraction_spark.operators.candidates import (
        candidates_indexed,
    )
    from clinicaltransformerrelationextraction_spark.operators.scoring import (
        enum_score_filter_number, register_scorer,
    )

    inputs = _fused_inputs(spark)
    for name in ("smoke", "edge_int", "edge_string", "empty"):
        for kw in ({}, {"max_pairs_per_doc": 7}):
            out = tmp_path / f"{name}{len(kw)}"
            out.mkdir()
            register_scorer("recording", _recording_factory(str(out)))
            cfg = PipelineConfig(scorer="recording", **kw)
            docs = inputs[name]
            n = enum_score_filter_number(docs, cfg).count()
            want = candidates_indexed(docs, cfg)
            frames = _recorded(out)
            assert all(list(f.columns) == want.columns for f in frames)
            got = sorted(tuple(r) for f in frames
                         for r in f.itertuples(index=False))
            assert got == sorted(map(tuple, want.collect())), (name, kw)
            assert n == len(got)


def test_fused_batch_size_slices_scorer_calls(
        spark, tmp_path, unregister_recording):
    """PipelineConfig.batch_size bounds the rows of every scorer call in
    the fused kernel, and slicing changes no triple (stub and npt)."""
    from clinicaltransformerrelationextraction_spark.operators.scoring import (
        enum_score_filter_number, register_scorer,
    )

    docs = _fused_inputs(spark)["smoke30"]
    for scorer in ("stub", "npt"):
        _same(
            enum_score_filter_number(
                docs, PipelineConfig(scorer=scorer, batch_size=7)),
            enum_score_filter_number(docs, PipelineConfig(scorer=scorer)),
            f"batch_size=7 {scorer}",
        )
    register_scorer("recording", _recording_factory(str(tmp_path)))
    n = enum_score_filter_number(
        docs, PipelineConfig(scorer="recording", batch_size=7)).count()
    sizes = [len(f) for f in _recorded(tmp_path)]
    assert sum(sizes) == n and max(sizes) == 7
    with pytest.raises(ValueError, match="batch_size"):
        enum_score_filter_number(docs, PipelineConfig(batch_size=0))


def test_text_scoring_rejects_lengths_frame_on_driver(spark):
    """keep_text=True, or a text backend, given a lengths-only candidate
    frame fails at plan build with a clear ValueError — not as a KeyError
    inside a Python worker."""
    from clinicaltransformerrelationextraction_spark.operators.scoring import (
        score_candidates, score_filter_number,
    )

    docs = spark.createDataFrame(FUSED_EDGE_DOCS, "doc_id int, text string")
    lens = candidates(docs, PipelineConfig(), emit="lengths")
    with pytest.raises(ValueError, match="keep_text"):
        score_candidates(lens, PipelineConfig(), keep_text=True)
    for scorer in ("mlp", "npt"):
        cfg = PipelineConfig(scorer=scorer)
        with pytest.raises(ValueError, match="s1_marked"):
            score_candidates(lens, cfg)
        with pytest.raises(ValueError, match="s1_marked"):
            score_filter_number(lens, cfg)
    # the lengths-only stub still scores a lengths frame
    assert score_candidates(lens, PipelineConfig()).count() == lens.count()


def test_pagerank_symmetric_path_matches_general(spark):
    """integer_pagerank_adj(symmetric=True) must be bit-identical to the
    general path on symmetric inputs — the real co-action graph at smoke
    scale plus an adversarial synthetic (hub + cycle + pendant)."""
    from clinicaltransformerrelationextraction_spark.operators import graph

    real = graph._symmetrize(graph._user_edges(spark, SF_SMOKE))
    _same(
        graph.integer_pagerank_adj(real, symmetric=True),
        graph.integer_pagerank_adj(real),
        "user graph pagerank symmetric path",
    )
    und = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (5, 6), (7, 8), (8, 9)],
        "a long, b long",
    )
    sym = graph._symmetrize(und)
    _same(
        graph.integer_pagerank_adj(sym, hub_split=2, symmetric=True),
        graph.integer_pagerank_adj(sym, hub_split=2),
        "synthetic symmetric pagerank",
    )


def test_ivf_corpus_cells_match_window_form(spark):
    """The r7 aggregate-based corpus cell pick (max of (ccos, -label))
    must equal the old window's crank==1 row for every corpus vector."""
    from clinicaltransformerrelationextraction_spark.operators import (
        similarity as sim,
    )

    q = sim._q(spark, SF_SMOKE)
    cents = sim._centroids(spark, SF_SMOKE)
    assigned = sim._ivf_assign(
        q, cents,
        sim.cosine(F.col("qe"), F.col("centroid")), descending=True,
    )
    window_cells = assigned.filter(F.col("crank") == 1).select(
        "vec_id", F.col("label").alias("cell")
    )
    agg_cells = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "vec_id", "label",
            sim.cosine(F.col("qe"), F.col("centroid")).alias("ccos"),
        )
        .groupBy("vec_id")
        .agg(
            F.max(
                F.struct(F.col("ccos"), (-F.col("label")).alias("nl"))
            ).alias("m")
        )
        .select("vec_id", (-F.col("m.nl")).cast("int").alias("cell"))
    )
    _same(agg_cells, window_cells, "ivf corpus cells")
