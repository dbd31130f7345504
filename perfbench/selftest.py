"""Self-test of the benchmark at tiny size.

    python3 perfbench/selftest.py            # from the repository root

1. The generator is a pure function of (seed, workload): the same seed
   gives equal documents and byte-identical parquet files, and another
   seed gives other documents.
2. The generator's copy of the gazetteer matches the engine's config,
   and a full-size ``predict`` corpus averages the measured candidate
   pairs per document it is solved for (``gen.PAIRS_PER_DOC``, +-5% over
   ten seeds).
3. ``BENCHMARK.json`` names exactly the metrics ``run.py`` prints.
4. A tiny run of every listed workload, untraced and traced, ends with a
   result line whose metric names match ``BENCHMARK.json``, with
   ``correct`` true and no failed job.

Exits 0 when every check passes.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.getcwd()]

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _digest(rows) -> str:
    with tempfile.TemporaryDirectory(dir=".") as d:
        gen.write_parquet(rows, d)
        h = hashlib.sha256()
        for name in sorted(os.listdir(d)):
            with open(os.path.join(d, name), "rb") as f:
                h.update(f.read())
        return h.hexdigest()


def check_generator() -> list[str]:
    errs = []
    for name in workloads.WORKLOADS:
        shape = workloads.tiny(workloads.SHAPES[name])
        a, b = gen.corpus(7, name, shape), gen.corpus(7, name, shape)
        if a != b:
            errs.append(f"{name}: same seed, different documents")
        for rows_a, rows_b in zip([a["base"]] + a["deltas"],
                                  [b["base"]] + b["deltas"]):
            if _digest(rows_a) != _digest(rows_b):
                errs.append(f"{name}: same seed, different parquet bytes")
        if gen.corpus(8, name, shape)["base"] == a["base"]:
            errs.append(f"{name}: seeds 7 and 8 gave the same documents")
    from clinicaltransformerrelationextraction_spark import config

    if (gen.ENT_VOCAB, gen.SENT_LEN, gen.CUTOFF) != (
            config.ENT_VOCAB, config.SENT_LEN, config.CUTOFF):
        errs.append("gen.py's gazetteer copy differs from config.py")
    shape = workloads.SHAPES["predict_text"]
    mean = sum(gen.corpus(s, "predict_text", shape)["props"]["base"][
        "pairs_per_doc"] for s in range(1, 11)) / 10
    if abs(mean / gen.PAIRS_PER_DOC - 1) > 0.05:
        errs.append(f"predict corpus: {mean:.2f} pairs per doc, "
                    f"{gen.PAIRS_PER_DOC:.2f} measured")
    return errs


def check_names(spec: dict) -> list[str]:
    errs = []
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    if e2e != run.UNITS or list(e2e) != list(run.END_TO_END):
        errs.append(f"end_to_end {e2e} != run.py {run.UNITS}")
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    want = {n: run.layer_unit(n)
            for names in run.PER_LAYER.values() for n in names}
    if layers != want:
        errs.append(f"per_layer differs from run.py: "
                    f"{sorted(set(layers.items()) ^ set(want.items()))}")
    listed = [w["name"] for w in spec["workloads"]]
    if not set(listed) <= set(workloads.WORKLOADS):
        errs.append(f"unknown workloads in BENCHMARK.json: {listed}")
    return errs


def check_tiny_runs(spec: dict) -> list[str]:
    errs = []
    want = {0: [m["name"] for m in spec["end_to_end"]],
            1: [m["name"] for m in spec["per_layer"]]}
    for w in spec["workloads"]:
        for trace in (0, 1):
            cmd = spec["command"] + [
                "--workload", w["name"], "--seed", "3", "--seconds", "1",
                "--trace", str(trace), "--tiny"]
            p = subprocess.run(cmd, capture_output=True, text=True,
                               timeout=600)
            tag = f"{w['name']} trace={trace}"
            if p.returncode != 0:
                errs.append(f"{tag}: exit {p.returncode}: {p.stderr[-800:]}")
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                errs.append(f"{tag}: result keys {sorted(res)}")
            if list(res["metrics"]) != want[trace]:
                errs.append(f"{tag}: metric names differ from BENCHMARK.json")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                errs.append(f"{tag}: correct={res['correct']} "
                            f"failed={res['failed']}: {p.stdout[-800:]}")
            print(f"{tag}: ok, {res['attempted']} jobs", flush=True)
    return errs


def main() -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    errs = check_generator() + check_names(spec)
    if not errs:
        errs = check_tiny_runs(spec)
    for e in errs:
        print("FAIL", e)
    print("selftest", "failed" if errs else "passed")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
