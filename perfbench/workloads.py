"""The benchmark's workloads: staging, the timed CLI jobs, the untimed
output checks and the traced layer breakdown.

Each workload drives the real CLI (``cli.main([...], spark=spark)``) on a
corpus from ``gen.corpus``; the package sees only the generated parquet and
CLI flags. Layer names follow the package's modules.
"""

from __future__ import annotations

import dataclasses
import json
import os
import statistics
import time

import gen
import spans as tracing

TIMED_DELTAS = 3  # timed ingest deltas per run, the same ones on every run

# Corpus shapes, fixed per workload (the seed varies the documents only).
# Sized so that one run, with its ~20 s of JVM start, worker warm-up and
# warm-up jobs, stays near a minute on 4 cores: the per-job cost at these
# sizes is mostly the engine's fixed per-Spark-job overhead. One predict
# document in 400 is a hot-host page (see gen.py).
SHAPES = {
    "predict_stub": gen.Shape(base_docs=400, hot_share=1 / 400),
    "predict_text": gen.Shape(base_docs=400, hot_share=1 / 400),
    "ingest_deltas": gen.Shape(base_docs=200, deltas=TIMED_DELTAS,
                               delta_docs=100),
}
HOT_REPEATS = 3  # timings per corpus behind hot.kernel_time_share
N_BUCKETS = 2  # ledger buckets of the predict jobs
MAX_PREDICT_JOBS = 8


def tiny(shape: gen.Shape) -> gen.Shape:
    """The self-test's size: a tenth of the documents, same text model."""
    return dataclasses.replace(shape, base_docs=shape.base_docs // 10,
                               delta_docs=shape.delta_docs // 10)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def dir_files(path: str) -> int:
    return sum(len(fs) for _, _, fs in os.walk(path))


def _canon(rows) -> list[tuple]:
    """Order-insensitive canonical form; floats to 9 significant digits."""
    return sorted(
        tuple(f"{v:.9g}" if isinstance(v, float) else v for v in r)
        for r in rows
    )


def _diff(name: str, got, want) -> str | None:
    g, w = _canon(got), _canon(want)
    if g == w:
        return None
    gs, ws = set(g), set(w)
    return (f"{name}: {len(g)} rows vs {len(w)} expected; "
            f"unexpected {sorted(gs - ws)[:3]}, missing {sorted(ws - gs)[:3]}")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """One workload: ``stage`` writes its inputs, ``warmup_argvs`` are the
    jobs that end set-up, ``argv(k)`` is the k-th timed job, ``check``
    returns failure strings, ``job_layers``/``iso_layers`` the traced
    per-layer figures."""

    name = ""
    min_jobs = 4  # timed jobs per run, at least

    def __init__(self, seed: int, work: str, small: bool = False) -> None:
        self.work = work
        self.shape = SHAPES[self.name]
        if small:
            self.shape = tiny(self.shape)
        self.corpus = gen.corpus(seed, self.name, self.shape)
        self.props = self.corpus["props"]

    def after_warmup(self) -> None:
        pass

    def after_job(self, k: int, out: dict) -> None:
        pass


class Predict(Workload):
    """``cli predict`` through the ledger (``N_BUCKETS`` buckets), writing
    triples and brat; every job writes a fresh output dir."""

    scorer = "stub"

    def cfg(self):
        from clinicaltransformerrelationextraction_spark.config import (
            PipelineConfig,
        )

        return PipelineConfig(scorer=self.scorer,
                              max_pairs_per_doc=self.shape.pair_cap)

    @property
    def input(self) -> str:
        return f"{self.work}/input"

    def stage(self) -> None:
        gen.write_parquet(self.corpus["base"], self.input)

    def max_jobs(self) -> int:
        return MAX_PREDICT_JOBS

    def _argv(self, out: str) -> list[str]:
        return ["predict", "--input", self.input,
                "--output", f"{self.work}/{out}", "--scorer", self.scorer,
                "--max-pairs-per-doc", str(self.shape.pair_cap),
                "--n-buckets", str(N_BUCKETS)]

    def warmup_argvs(self) -> list[list[str]]:
        return [self._argv("warmup0")]

    def argv(self, k: int) -> list[str]:
        return self._argv(f"out{k}")

    def out_bytes_ratio(self) -> float:
        return dir_bytes(f"{self.work}/out0") / self.props["base"]["text_bytes"]

    # -- checks --------------------------------------------------------------

    def _oracle(self, con, select: str) -> list:
        """Capped DuckDB oracle: the package's q_candidates/q_triples SQL
        with the per-doc pair cap applied in enumeration order (i1, i2),
        the kept set of the engine's ``max_pairs_per_doc``."""
        from clinicaltransformerrelationextraction_spark.plans import oracle

        capped = (
            f"capped AS (SELECT * FROM cand QUALIFY row_number() OVER "
            f"(PARTITION BY doc_id ORDER BY i1, i2) <= {self.shape.pair_cap})"
        )
        pred = oracle.PRED_CTE.replace("FROM cand\n", "FROM capped\n")
        if pred == oracle.PRED_CTE:
            raise RuntimeError("oracle PRED_CTE no longer reads 'cand'")
        sql = (f"{oracle.PIPELINE_PREFIX},\n{capped},{pred},"
               f"{oracle.TRIPLES_CTE}\n{select}")
        return con.sql(sql).fetchall()

    def _duck(self):
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads TO 2")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{self.input}/*.parquet')")
        return con

    def check(self, spark, n_jobs: int, outs: list[dict]) -> list[str]:
        from clinicaltransformerrelationextraction_spark.plans.ledger import (
            LedgerRun,
        )

        fails = []
        last = f"{self.work}/out{n_jobs - 1}"
        trip = LedgerRun(out_dir=last).triples(spark).select(
            "doc_id", "rel_id", "pred", "subj_id", "obj_id", "score")
        got = [tuple(r) for r in trip.collect()]
        counts = {o.get("n_triples") for o in outs}
        if counts != {len(got)}:
            fails.append(f"n_triples differ across jobs: {sorted(counts)} "
                         f"vs {len(got)} committed")
        with_men = sum(1 for _, t, _ in self.corpus["base"]
                       if any(w in gen.ENT_VOCAB for w in t.split(" ")))
        n_brat = spark.read.parquet(f"{last}/brat").count()
        if n_brat != with_men:
            fails.append(f"brat: {n_brat} docs rendered, {with_men} have "
                         "mentions")
        fails.extend(f for f in self._check_triples(spark, got) if f)
        return fails

    def _check_triples(self, spark, got):
        con = self._duck()
        want = self._oracle(con, "SELECT doc_id, rel_id, pred, subj_id, "
                                 "obj_id, score FROM triples")
        return [_diff("triples vs DuckDB oracle", got, want)]

    # -- traced run ----------------------------------------------------------

    def job_layers(self, tr, ev, job_span, k: int) -> dict:
        """Per-job metrics of the ledger layer from its spans."""
        led = [s for s in tr.subtree(job_span) if s.name == "LedgerRun.run"]
        sub = [x for s in led for x in tr.subtree(s)]
        jobs = ev.jobs_in(sub)
        scans = sum(
            p.count(f"InMemoryFileIndex [file:{self.input}]")
            for s in led for p in ev.plans_in(s)
        )
        with open(f"{self.work}/out{k}/_ledger.json") as f:
            walls = [b["wall_sec"] for b in json.load(f).values()]
        # the bucket pipelines run inside the ledger's parquet writes; the
        # Spark jobs of those writes are the pipeline's time, the rest of
        # the span (per-bucket scans and counts, re-reads, planning, the
        # write commit, ledger and snapshot files) is the ledger's own
        pipeline_s = sum(
            tracing.job_time(ev.jobs_in(tr.subtree(w)), (w.start, w.end))
            for w in sub if w.name == "write")
        return {
            "ledger.bucket_s_p50": statistics.median(walls),
            "ledger.bucket_s_max": max(walls),
            "ledger.jobs": len(jobs),
            "ledger.input_scans": scans,
            "ledger.bytes_written": sum(j.output_bytes for j in jobs),
            "ledger.pipeline_s": pipeline_s,
            "ledger.self_s": sum(s.dur for s in led) - pipeline_s,
        }

    def iso_layers(self, spark, tr, ev_jobs) -> dict:
        """Lazy layers timed one at a time, each on materialized input
        into a noop sink. ``ev_jobs(span)`` returns the span's Spark jobs
        once the event log is parsed, so metrics needing it are deferred
        as callables."""
        from pyspark.sql import functions as F

        from clinicaltransformerrelationextraction_spark.operators import (
            candidates as C,
            postprocess as P,
            scoring as S,
            segmentation as G,
        )

        cfg = self.cfg()
        docs = spark.read.parquet(self.input).localCheckpoint(eager=True)
        emit = S.scoring_emit(cfg)
        with tr.span("iso:candidates") as s_cand:
            _noop(C.candidates(docs, cfg, emit=emit))
        cand = C.candidates(docs, cfg, emit=emit).localCheckpoint(eager=True)
        n_pairs = cand.count()
        # docs at the cap, from the layer's own output: the package's
        # candidate_cap_stats builds every uncapped pair array and runs
        # out of the 1 GiB heap on the hot-host pages
        per_doc = cand.groupBy("doc_id").count().agg(
            F.max("count"),
            F.sum((F.col("count") >= cfg.max_pairs_per_doc).cast("int")),
        ).first()
        with tr.span("iso:score_filter_number") as s_score:
            _noop(S.score_filter_number(cand, cfg))
        hot = self._hot_shares(docs, cand, n_pairs, cfg, emit)
        trip = S.score_filter_number(cand, cfg).localCheckpoint(eager=True)
        n_trip = trip.count()
        stub = self.cfg()
        stub.scorer = "stub"
        with tr.span("iso:enum_score_filter_number") as s_fused:
            _noop(S.enum_score_filter_number(docs, stub))
        with tr.span("iso:mentions") as s_men:
            _noop(G.mentions(docs, cfg))
        men = G.mentions(docs, cfg).localCheckpoint(eager=True)
        n_men = men.count()
        with tr.span("iso:brat_render") as s_brat:
            _noop(P.brat_render(men, trip))
        return {
            "candidates.busy_s": s_cand.dur,
            "candidates.pairs": n_pairs,
            "candidates.cap_truncated_docs": per_doc[1] or 0,
            "candidates.pairs_per_doc_max": per_doc[0] or 0,
            "scoring.busy_s": s_score.dur,
            "scoring.fused_s": s_fused.dur,
            "scoring.python_s": lambda: sum(
                j.py_s for j in ev_jobs(s_score)),
            "scoring.arrow_bytes_in": lambda: sum(
                j.py_sent for j in ev_jobs(s_score)),
            "scoring.arrow_bytes_out": lambda: sum(
                j.py_recv for j in ev_jobs(s_score)),
            "scoring.keep_ratio": n_trip / max(n_pairs, 1),
            "segmentation.mentions_s": s_men.dur,
            "segmentation.mentions": n_men,
            "postprocess.brat_s": s_brat.dur,
            "postprocess.shuffle_bytes": lambda: sum(
                j.shuffle_write for j in ev_jobs(s_brat)),
            **hot,
        }

    def _hot_shares(self, docs, cand, n_pairs, cfg, emit) -> dict:
        """The hot-host pages' share of the candidate pairs and of the
        text kernels' time (``candidates`` plus ``score_filter_number``,
        noop sinks): 1 - time without the hot pages / time with them, from
        medians of ``HOT_REPEATS`` alternating timings."""
        from pyspark.sql import functions as F

        from clinicaltransformerrelationextraction_spark.operators import (
            candidates as C,
            scoring as S,
        )

        hot = self.corpus["hot_ids"]
        if not hot:
            return {"hot.pair_share": 0.0, "hot.kernel_time_share": 0.0}
        is_hot = F.col("doc_id").isin(hot)
        hot_pairs = cand.filter(is_hot).count()
        cold = docs.filter(~is_hot).localCheckpoint(eager=True)
        cold_cand = C.candidates(cold, cfg, emit=emit).localCheckpoint(
            eager=True)
        t_all, t_cold = [], []
        for _ in range(HOT_REPEATS):
            for d, c, acc in ((docs, cand, t_all), (cold, cold_cand, t_cold)):
                t = time.perf_counter()
                _noop(C.candidates(d, cfg, emit=emit))
                _noop(S.score_filter_number(c, cfg))
                acc.append(time.perf_counter() - t)
        return {
            "hot.pair_share": hot_pairs / max(n_pairs, 1),
            "hot.kernel_time_share":
                1 - statistics.median(t_cold) / statistics.median(t_all),
        }


class PredictText(Predict):
    """The same job on the text path (``--scorer mlp``)."""

    name = "predict_text"
    scorer = "mlp"

    def _check_triples(self, spark, got):
        from clinicaltransformerrelationextraction_spark.operators.candidates import (  # noqa: E501
            candidates,
        )
        from clinicaltransformerrelationextraction_spark.operators.scoring import (  # noqa: E501
            score_filter_number,
        )

        cfg = self.cfg()
        docs = spark.read.parquet(self.input)
        cand = candidates(docs, cfg).localCheckpoint(eager=True)
        single = score_filter_number(cand, cfg).select(
            "doc_id", "rel_id", "pred", "subj_id", "obj_id", "score")
        keys = [tuple(r) for r in cand.select("doc_id", "i1", "i2").collect()]
        want_keys = self._oracle(self._duck(), "SELECT doc_id, i1, i2 "
                                               "FROM capped")
        return [
            _diff("triples vs single-pass score_filter_number", got,
                  [tuple(r) for r in single.collect()]),
            _diff("candidate keys vs DuckDB oracle", keys, want_keys),
        ]


class PredictStub(Predict):
    name = "predict_stub"


class Ingest(Workload):
    """``cli ingest``: bootstrap an empty state dir from the base corpus
    (the warm-up job that ends set-up), then one delta per job: timed job
    k ingests delta k. Delta k runs against a history that grows with k,
    so every run times the same ``TIMED_DELTAS`` deltas, however fast
    they go: ``job_s`` then covers the same work on every commit."""

    name = "ingest_deltas"
    min_jobs = TIMED_DELTAS
    BYTES_AFTER = 2  # state bytes are measured after the 2nd timed delta

    def __init__(self, seed: int, work: str, small: bool = False) -> None:
        super().__init__(seed, work, small)
        self._files: dict[int, int] = {}  # timed job -> files it added
        self._seen = 0  # files in the state dir so far

    @property
    def state(self) -> str:
        return f"{self.work}/state"

    def _src(self, i: int) -> str:
        """Input ``i``: delta i, or the base corpus for -1."""
        return f"{self.work}/base" if i < 0 else f"{self.work}/delta{i}"

    def _ingest(self, i: int) -> list[str]:
        return ["ingest", "--state", self.state, "--delta", self._src(i)]

    def stage(self) -> None:
        gen.write_parquet(self.corpus["base"], self._src(-1))
        for k, rows in enumerate(self.corpus["deltas"]):
            gen.write_parquet(rows, self._src(k))

    def max_jobs(self) -> int:
        return TIMED_DELTAS

    def warmup_argvs(self) -> list[list[str]]:
        return [self._ingest(-1)]

    def argv(self, k: int) -> list[str]:
        return self._ingest(k)

    def _props(self, i: int) -> dict:
        return self.props["base"] if i < 0 else self.props["deltas"][i]

    def after_warmup(self) -> None:
        self._seen = dir_files(self.state)

    def after_job(self, k: int, out: dict) -> None:
        n = dir_files(self.state)
        self._files[k], self._seen = n - self._seen, n
        if k + 1 == self.BYTES_AFTER:
            self._bytes = dir_bytes(self.state) / sum(
                self._props(i)["text_bytes"] for i in range(-1, k + 1))

    def out_bytes_ratio(self) -> float:
        return self._bytes

    def check(self, spark, n_jobs: int, outs: list[dict]) -> list[str]:
        from clinicaltransformerrelationextraction_spark.operators.dedup import (  # noqa: E501
            clusters_frame,
        )
        from clinicaltransformerrelationextraction_spark.operators.graph import (  # noqa: E501
            min_label_components,
            undirected_edges,
        )
        from clinicaltransformerrelationextraction_spark.plans.ingest import (
            IngestState,
        )
        from clinicaltransformerrelationextraction_spark.plans.pipeline import (  # noqa: E501
            run_linked,
        )

        st = IngestState(self.state)
        ingested = range(-1, n_jobs)
        docs = spark.read.parquet(*[self._src(i) for i in ingested])
        fails = []
        n_docs = sum(self._props(i)["docs"] for i in ingested)
        if outs[-1].get("n_docs_total") != n_docs:
            fails.append(f"state holds {outs[-1].get('n_docs_total')} docs, "
                         f"{n_docs} ingested")
        cols = ("doc_id", "cluster_id", "is_keeper")
        fails.append(_diff(
            "cluster labels vs clusters_frame",
            [tuple(r) for r in st.labels(spark).select(*cols).collect()],
            [tuple(r) for r in clusters_frame(docs).select(*cols).collect()],
        ))
        cols = ("entity", "component", "is_root")
        graph = st.read_compact(spark, "graph").select(*cols)
        full = min_label_components(undirected_edges(run_linked(docs)))
        fails.append(_diff(
            "graph labels vs min_label_components",
            [tuple(r) for r in graph.collect()],
            [tuple(r) for r in full.select(*cols).collect()],
        ))
        return [f for f in fails if f]

    # -- traced run ----------------------------------------------------------

    def job_layers(self, tr, ev, job_span, k: int) -> dict:
        sub = tr.subtree(job_span)
        ing = [s for s in sub if s.name == "IngestState.ingest"]
        ing_sub = [x for s in ing for x in tr.subtree(s)]
        writes = [s for s in ing_sub if s.name == "write"]
        named = lambda n: [s for s in sub if s.name == n]  # noqa: E731
        rounds = lambda spans: sum(s.marks["count"] for s in spans)  # noqa
        fix = named("propagate_min_labels") + named("min_label_components")
        end_w = max((s.end for s in writes), default=0.0)
        return {
            "ingest.write_s": sum(s.dur for s in writes),
            "ingest.files_written": self._files.get(k, 0),
            "ingest.jobs": len(ev.jobs_in(ing_sub)),
            "ingest.stats_read_s": sum(s.end - end_w for s in ing),
            "incremental.merge_clusters_s": sum(
                s.dur for s in named("merge_clusters")),
            "incremental.merge_components_s": sum(
                s.dur for s in named("merge_components")),
            "incremental.fixpoint_rounds": rounds(fix),
            "graph.components_s": sum(
                s.dur for s in named("min_label_components")),
            "graph.rounds": rounds(named("min_label_components")),
        }

    def iso_layers(self, spark, tr, ev_jobs) -> dict:
        """The last delta's dedup layers, timed one at a time against the
        history committed before it."""
        from clinicaltransformerrelationextraction_spark.operators import (
            dedup as D,
            incremental as I,
        )
        from clinicaltransformerrelationextraction_spark.plans.ingest import (
            IngestState,
        )

        st = IngestState(self.state)
        m = st.manifest()
        hist = {t: ps[:-1] for t, ps in m["appends"].items()}
        old_index = spark.read.parquet(*hist["bands"])
        old_sh = spark.read.parquet(*hist["shingles"])
        # version 1 is the bootstrap, so version v committed delta v - 2
        delta = spark.read.parquet(self._src(m["version"] - 2)).select(
            "doc_id", "text", "lang").localCheckpoint(eager=True)
        with tr.span("iso:shingle_frame") as s_sh:
            _noop(D.shingle_frame(delta.select("doc_id", "text")))
        sh = D.shingle_frame(delta.select("doc_id", "text")).localCheckpoint(
            eager=True)
        with tr.span("iso:bands_from_shingles") as s_b:
            _noop(D.bands_from_shingles(sh))
        bands = D.bands_from_shingles(sh).localCheckpoint(eager=True)
        cand = I._pairs_from_new_bands(old_index, bands).localCheckpoint(
            eager=True)
        n_cand = cand.count()
        with tr.span("iso:incremental_verified_pairs") as s_v:
            _noop(I.incremental_verified_pairs(cand, None, delta, old_sh,
                                               new_shingles=sh))
        n_ver = I.incremental_verified_pairs(
            cand, None, delta, old_sh, new_shingles=sh).count()
        return {
            "dedup.shingle_s": s_sh.dur,
            "dedup.bands_s": s_b.dur,
            "incremental.candidate_pairs": n_cand,
            "incremental.verified_pairs": n_ver,
            "incremental.verify_yield": n_ver / max(n_cand, 1),
            "incremental.verify_s": s_v.dur,
        }


WORKLOADS = {w.name: w for w in (PredictStub, PredictText, Ingest)}
