"""Job-level benchmark of the KG-construction engine.

    python3 perfbench/run.py --workload predict_text --seed 1 --seconds 15 --trace 0

Run from the repository root. Each run generates its corpus from the seed
(``gen.py``), starts one local Spark session with ``nproc`` cores, and then
drives the real CLI in a closed loop with one client: one job, wait for it,
the next. Set-up ends with the workload's cold warm-up job. Timed jobs run
until ``--seconds`` have passed and at least ``min_jobs`` have run, and at
most ``max_jobs()``. Outputs are checked after the timed jobs
(``workloads.py``).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns on
Spark's event log and the spans of ``spans.py``, times the lazy layers one
at a time, and reports the per-layer metrics instead. Metric names, units
and bounds are in ``BENCHMARK.json`` at the repository root.

Everything the run writes goes to ``.perfbench_work/`` under the current
directory and is removed at exit, except ``last-untraced-<workload>.json``
(the latest untraced ``job_s``, which a traced run compares against). The
last stdout line is the result JSON.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.getcwd()]  # the benchmark's modules, the package

PACKAGE = "clinicaltransformerrelationextraction_spark"
WORK_ROOT = ".perfbench_work"
DRIVER_MEM = "1g"  # bounds the JVM heap, and with it the RSS peak

END_TO_END = ("setup_s", "job_s", "bytes_per_input_byte", "peak_rss_mb",
              "exec_memory_mb")
UNITS = {"setup_s": "s", "job_s": "s", "bytes_per_input_byte": "ratio",
         "peak_rss_mb": "MB", "exec_memory_mb": "MB"}

# per-layer metrics of the traced run, by the package module they measure
PER_LAYER = {
    "plans.ledger": ("ledger.bucket_s_p50", "ledger.bucket_s_max",
                     "ledger.jobs", "ledger.input_scans",
                     "ledger.bytes_written", "ledger.pipeline_s",
                     "ledger.self_s"),
    "operators.candidates": ("candidates.busy_s", "candidates.pairs",
                             "candidates.cap_truncated_docs",
                             "candidates.pairs_per_doc_max"),
    "operators.scoring": ("scoring.busy_s", "scoring.fused_s",
                          "scoring.python_s", "scoring.arrow_bytes_in",
                          "scoring.arrow_bytes_out", "scoring.keep_ratio"),
    "operators.segmentation": ("segmentation.mentions_s",
                               "segmentation.mentions"),
    "operators.postprocess": ("postprocess.brat_s",
                              "postprocess.shuffle_bytes"),
    "plans.ingest": ("ingest.write_s", "ingest.files_written", "ingest.jobs",
                     "ingest.stats_read_s"),
    "operators.dedup": ("dedup.shingle_s", "dedup.bands_s"),
    "operators.incremental": ("incremental.candidate_pairs",
                              "incremental.verified_pairs",
                              "incremental.verify_yield",
                              "incremental.verify_s",
                              "incremental.merge_clusters_s",
                              "incremental.merge_components_s",
                              "incremental.fixpoint_rounds"),
    "operators.graph": ("graph.components_s", "graph.rounds"),
    "hot pages": ("hot.pair_share", "hot.kernel_time_share"),
    "session": ("session.start_s", "session.worker_warm_s",
                "session.warmup_job_s"),
    "spark": ("spark.jobs", "spark.tasks", "spark.executor_run_s",
              "spark.executor_cpu_s", "spark.gc_s",
              "spark.shuffle_write_bytes", "spark.spill_bytes",
              "spark.python_worker_s", "spark.arrow_bytes_to_python",
              "spark.arrow_bytes_from_python", "spark.driver_s"),
    "trace": ("trace.job_s",),
}


def layer_unit(name: str) -> str:
    if name.endswith("_s") or "_s_" in name:
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("ratio", "yield", "share")):
        return "ratio"
    return "count"


# -- host context ------------------------------------------------------------

def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed over
    this machine's CPUs (``steal`` in ``/proc/stat``); 0 where not
    reported."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 \
        else 0.0


def pyloop_seconds() -> float:
    """Single-thread pure-Python spin: bench.py's host-speed constant at a
    quarter of its 20M iterations."""
    t0 = time.perf_counter()
    s = 0
    for i in range(5_000_000):
        s += i
    if s != 12499997500000:
        raise RuntimeError("calibration loop miscounted")
    return time.perf_counter() - t0


def descendants() -> list[tuple[int, str, int]]:
    """(pid, command name, rss bytes) of this process's live descendants;
    zombies, which have exited, are left out."""
    page = os.sysconf("SC_PAGE_SIZE")
    parent, procs = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
            with open(f"/proc/{pid}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue  # the process exited while being read
        name, rest = stat.split("(", 1)[1].rsplit(")", 1)
        state, ppid = rest.split()[:2]
        parent[int(pid)] = int(ppid)
        if state != "Z":
            procs[int(pid)] = (name, pages * page)
    me, out = os.getpid(), []
    for pid, (name, rss) in procs.items():
        p = parent.get(pid)
        while p and p != me:
            p = parent.get(p)
        if p == me:
            out.append((pid, name, rss))
    return out


class RssSampler:
    """Samples, every ``period`` seconds, the RSS of this process (the
    driver's Python side, where ``cli.main`` runs) and of its descendants
    named ``java`` (the driver JVM) or ``python*`` (its Python workers).
    ``peak`` is the peak of this process, the JVM and its ``workers``
    largest Python workers (a full wave of tasks); ``peak_all`` also
    counts the idle surplus workers that Spark's worker pool keeps, whose
    number varies from run to run. Other descendants are left out: a child
    the JVM forks for a shell command carries a copy of the JVM's RSS
    until it execs, which would count the JVM twice."""

    def __init__(self, workers: int, period: float = 0.1) -> None:
        self.workers = workers
        self.period = period
        self.peak = self.peak_all = 0
        self.peak_procs: list[tuple[str, float]] = []  # (name, MB) at peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _procs(self) -> list[tuple[str, int]]:
        """(command name, rss bytes) of every descendant process, and
        ``("driver", rss)`` of this one."""
        with open("/proc/self/statm") as f:
            me = int(f.read().split()[1]) * self._page
        return [(n, r) for _, n, r in descendants()] + [("driver", me)]

    def _loop(self) -> None:
        while not self._stop.is_set():
            procs = self._procs()
            py = sorted((r for n, r in procs if n.startswith("python")),
                        reverse=True)
            base = sum(r for n, r in procs if n in ("java", "driver"))
            if base + sum(py[:self.workers]) > self.peak:
                self.peak = base + sum(py[:self.workers])
                self.peak_procs = sorted(
                    ((n, round(r / 2**20)) for n, r in procs),
                    key=lambda p: -p[1])
            self.peak_all = max(self.peak_all, base + sum(py))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class ExecMemory:
    """Spark's own account of execution memory: the sort, aggregation and
    join buffers its tasks take on the JVM heap. Read from the session's
    live status store, which runs whether or not the UI does. ``job()``
    returns, for the Spark stages run since the previous call, the sum of
    each stage's peak execution memory (its tasks' peaks, summed)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._args = (None, False, False, sc._gateway.new_array(
            sc._jvm.double, 0), sc._jvm.java.util.ArrayList())
        self._last = -1
        self.job()

    def job(self) -> int:
        self._sc.listenerBus().waitUntilEmpty()  # the stages' final metrics
        stages = self._sc.statusStore().stageList(*self._args)
        total, last = 0, self._last
        for i in range(stages.size()):  # newest stage first
            st = stages.apply(i)
            if st.stageId() <= self._last:
                break
            last = max(last, st.stageId())
            total += st.peakExecutionMemory()
        self._last = last
        return total


# -- processes ---------------------------------------------------------------

def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``): a Python worker whose parent has exited is
    then still a descendant, so ``stop_processes`` can wait for it."""
    import ctypes

    pr_set_child_subreaper = 36  # from <linux/prctl.h>
    try:
        ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1,
                                                0, 0, 0)
    except (OSError, AttributeError):
        pass  # not Linux: waiting for the JVM itself still holds


def reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_processes(timeout: float = 60.0) -> None:
    """Stop the Spark session, the JVM that pyspark launched for it and
    every process the JVM started (the Python worker daemon and its
    workers), and wait until each has exited. Left alone, the JVM would
    leave only after this process does, when it sees its stdin close."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    with contextlib.suppress(Exception):
        gateway.close()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    deadline, killed = time.monotonic() + timeout, False
    while True:
        reap()
        left = [pid for pid, _, _ in descendants()]
        if not left:
            return
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {left} outlived SIGKILL")
            for pid in left:
                with contextlib.suppress(OSError):
                    os.kill(pid, signal.SIGKILL)
            deadline, killed = time.monotonic() + 10, True
        time.sleep(0.05)


# -- session -------------------------------------------------------------------

def start_session(work: str, nproc: int, trace: bool):
    """The engine's own session factory, with every scratch path inside the
    work dir and, when tracing, an uncompressed non-rolling event log."""
    for d in ("local", "tmp", "eventlog"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    root = os.getcwd()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ.update(SPARK_GRAFT_CPUS=str(nproc), CTRE_DRIVER_MEM=DRIVER_MEM,
                      SPARK_LOCAL_DIRS=f"{work}/local", TMPDIR=f"{work}/tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # the whole heap is touched at start, so the RSS peak moves with
        # off-heap and Python-worker memory, not with GC timing
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData "
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    from clinicaltransformerrelationextraction_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{nproc}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _identity(batches):
    for b in batches:
        yield b


def warm_workers(spark) -> None:
    """Start one Python worker per core (bench.py's warm-up)."""
    n = spark.sparkContext.defaultParallelism
    spark.range(n * 4, numPartitions=n).mapInPandas(
        _identity, schema="id long").count()


def install_spans(tr, spark) -> None:
    """Spans around the eager layers, patched where the caller binds them."""
    from clinicaltransformerrelationextraction_spark.operators import (
        incremental,
    )
    from clinicaltransformerrelationextraction_spark.plans import (
        ingest,
        ledger,
    )

    tr.patch(ledger.LedgerRun, "run", "LedgerRun.run")
    tr.patch(ingest.IngestState, "ingest", "IngestState.ingest")
    tr.patch(ingest, "incremental_dedup")
    tr.patch(ingest, "merge_components")
    tr.patch(ingest, "min_label_components")
    tr.patch(incremental, "merge_clusters")
    tr.patch(incremental, "propagate_min_labels")
    tr.patch(incremental, "min_label_components")
    df = spark.range(1)
    tr.patch(type(df.write), "parquet", "write")
    # one count() per fixpoint round
    tr.count_calls(type(df), "count", "count")


# -- the run -------------------------------------------------------------------

def run(args, work: str) -> dict:
    import spans as tracing
    import workloads

    nproc = os.cpu_count() or 1
    host = {"nproc": nproc, "load_before": os.getloadavg()}
    steal0 = cpu_steal_s()
    host["pyloop_5m_s"] = round(pyloop_seconds(), 3)

    t = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload](args.seed, work, args.tiny)
    gen_s = time.perf_counter() - t

    tr = tracing.Tracer()
    walls, outs, failures, exec_mb = [], [], [], []
    with RssSampler(workers=nproc) as rss:
        t_setup = time.perf_counter()
        spark = start_session(work, nproc, args.trace)
        start_s = time.perf_counter() - t_setup
        warm_workers(spark)
        warm_s = time.perf_counter() - t_setup - start_s
        wl.stage()
        from clinicaltransformerrelationextraction_spark import cli

        # set-up ends with the workload's warm-up jobs (JIT, first use of
        # each plan shape); for ingest_deltas it is the bootstrap
        warmup_s = []
        for argv in wl.warmup_argvs():
            t = time.perf_counter()
            with contextlib.redirect_stdout(sys.stderr):
                cli.main(argv, spark=spark)
            warmup_s.append(time.perf_counter() - t)
        wl.after_warmup()
        setup_s = time.perf_counter() - t_setup
        if args.trace:
            install_spans(tr, spark)
        exec_mem = ExecMemory(spark)

        t_loop = time.perf_counter()
        k = 0
        while k < wl.max_jobs() and (
                k < wl.min_jobs
                or time.perf_counter() - t_loop < args.seconds):
            t = time.perf_counter()
            try:
                with tr.span(f"job{k}"), \
                        contextlib.redirect_stdout(sys.stderr):
                    out = cli.main(wl.argv(k), spark=spark)
                walls.append(time.perf_counter() - t)
                outs.append(out)
                exec_mb.append(exec_mem.job() / 2**20)
                wl.after_job(k, out)
            except Exception as ex:  # a failed job is counted, not fatal
                failures.append(f"job {k} raised {type(ex).__name__}: {ex}")
                walls.append(None)
            k += 1
    n_jobs = k
    raised = sum(1 for w in walls if w is None)
    t = time.perf_counter()
    if raised == 0:
        failures += wl.check(spark, n_jobs, outs)
        out_ratio = wl.out_bytes_ratio()
    check_s = time.perf_counter() - t
    tr.unpatch()

    layers = {}
    if args.trace:
        # metrics that need the event log are callables, resolved once the
        # log is parsed after the session stops
        iso = wl.iso_layers(spark, tr, lambda s: ev.jobs_in(tr.subtree(s)))
    app = spark.sparkContext.applicationId
    spark.stop()
    if args.trace:
        ev = tracing.EventLog(f"{work}/eventlog/{app}")
        ev.attribute(tr)
        layers = traced_layers(wl, tr, ev, walls, iso,
                               {"session.start_s": start_s,
                                "session.worker_warm_s": warm_s,
                                "session.warmup_job_s": warmup_s[0]})

    ok = [w for w in walls if w is not None]
    metrics = {
        "setup_s": setup_s,
        "job_s": statistics.median(ok) if ok else None,
        "bytes_per_input_byte": None if raised else out_ratio,
        "peak_rss_mb": rss.peak / 2**20,
        "exec_memory_mb": statistics.median(exec_mb) if exec_mb else None,
    }
    host["load_after"] = os.getloadavg()
    # CPU time taken by other guests during the run: a run that lost
    # much of it to a busy host shows it here
    host["cpu_steal_s"] = round(cpu_steal_s() - steal0, 2)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": host, "corpus": wl.props, "gen_s": round(gen_s, 3),
        "session_start_s": start_s, "worker_warm_s": warm_s,
        "warmup_job_s": warmup_s,
        "jobs": n_jobs, "job_walls_s": walls, "job_exec_memory_mb": exec_mb,
        "check_s": check_s, "peak_rss_all_mb": rss.peak_all / 2**20,
        "peak_rss_procs_mb": rss.peak_procs,
        # the paper's headline, for predict jobs: committed triples / job_s
        "triples_per_s": (outs[-1]["n_triples"] / metrics["job_s"]
                          if metrics["job_s"] and "n_triples" in outs[-1]
                          else None),
        "failures": failures, "end_to_end": metrics,
    }
    return {"record": record, "layers": layers, "failures": failures,
            "attempted": n_jobs, "raised": raised}


def traced_layers(wl, tr, ev, walls, iso, session: dict) -> dict:
    """Per-layer metrics: the median over the timed (traced) jobs of each
    job's span/engine figures, plus the isolated lazy-layer timings."""
    import spans as tracing

    per_job = []
    for k, w in enumerate(walls):
        if w is None:
            continue
        js = next(s for s in tr.spans if s.name == f"job{k}")
        jobs = ev.jobs_in(tr.subtree(js))
        m = tracing.engine_totals(jobs, js.dur, (js.start, js.end))
        m.update(wl.job_layers(tr, ev, js, k))
        m["trace.job_s"] = js.dur
        per_job.append((k, m))
    out = {name: statistics.median(m.get(name, 0) for _, m in per_job)
           for names in PER_LAYER.values() for name in names}
    for name, v in iso.items():
        out[name] = v() if callable(v) else v
    out.update(session)
    out["_per_job"] = {
        f"job{k}": {"wall_s": round(m["trace.job_s"], 3),
                    "spark_jobs": m["spark.jobs"],
                    "unattributed_driver_s": round(m["spark.driver_s"], 3)}
        for k, m in per_job
    }
    out["_layer_self_s"] = self_times(tr, [s for s in tr.spans
                                           if s.name.startswith("job")])
    return out


def self_times(tr, roots) -> dict:
    """Median over the timed jobs of each span name's summed self time."""
    per = []
    for r in roots:
        acc: dict[str, float] = {}
        for s in tr.subtree(r):
            name = "job" if s is r else s.name
            acc[name] = acc.get(name, 0.0) + tr.self_time(s)
        per.append(acc)
    names = sorted({n for acc in per for n in acc})
    return {n: round(statistics.median(acc.get(n, 0.0) for acc in per), 3)
            for n in names}


def main(argv=None) -> int:
    import workloads

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="tiny corpora (the self-test's size)")
    args = p.parse_args(argv)
    if not os.path.isdir(PACKAGE):
        print(f"run from the repository root: ./{PACKAGE} not found",
              file=sys.stderr)
        return 2
    work = os.path.abspath(
        f"{WORK_ROOT}/{args.workload}-s{args.seed}-p{os.getpid()}")
    become_subreaper()
    # a run stopped by SIGTERM still stops its processes on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        res = run(args, work)
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
    rec = res["record"]
    last = f"{WORK_ROOT}/last-untraced-{args.workload}.json"
    if args.trace:
        layers = res["layers"]
        report = {"per_job": layers.pop("_per_job"),
                  "layer_self_s": layers.pop("_layer_self_s")}
        # tracing overhead: traced warm job_s against the latest untraced
        # run of this workload in the same checkout, when there is one
        if os.path.exists(last):
            with open(last) as f:
                base = json.load(f)
            report["tracing_overhead"] = {
                "untraced_seed": base["seed"],
                "untraced_job_s": base["job_s"],
                "traced_job_s": layers["trace.job_s"],
                "ratio": layers["trace.job_s"] / base["job_s"] - 1,
            }
        print(json.dumps(report))
        metrics = {n: {"value": layers[n], "unit": layer_unit(n)}
                   for names in PER_LAYER.values() for n in names}
    else:
        metrics = {n: {"value": rec["end_to_end"][n], "unit": UNITS[n]}
                   for n in END_TO_END}
        if metrics["job_s"]["value"] is not None and not args.tiny:
            with open(last, "w") as f:
                json.dump({"seed": args.seed,
                           "job_s": metrics["job_s"]["value"]}, f)
    print(json.dumps({"record": rec}))
    if any(m["value"] is None for m in metrics.values()):
        print("no successful job to measure", file=sys.stderr)
        return 1
    # a failed output check fails the job whose output was checked
    failed = res["raised"] + (1 if res["failures"] and not res["raised"]
                              else 0)
    print(json.dumps({
        "correct": not res["failures"],
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
