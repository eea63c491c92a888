"""Self-test of the benchmark: every workload at its tiny size, in one Spark
session, from the root of a checkout::

    python3 perfbench/selftest.py

It fails (non-zero exit) unless:

- ``BENCHMARK.json`` names exactly the metrics ``run.py`` emits, with the
  same units, and only workloads ``run.py`` knows;
- every workload's ops pass their output check, traced and untraced;
- every end-to-end metric is a positive number with its unit;
- every per-layer metric is emitted with its unit, and those of the layers
  a workload calls are positive;
- a deliberately corrupted output fails the workload's output check.
"""

from __future__ import annotations

import copy
import json
import math
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import tracing  # noqa: E402
from workloads import SIZES, WORKLOADS  # noqa: E402

_SNAPSHOT_LAYERS = [
    "snapshot.load_s",
    "snapshot.write_s",
    "inference.infer_s",
    "inference.jobs",
    "profile.build_s",
    "categorical.build_s",
    "distribution.build_s",
    "correlation.build_s",
    "groups.build_s",
    "temporal.build_s",
    "pipeline.detect_s",
    "pipeline.materialize_s",
    "report.build_s",
    "report.jobs",
]
_INGEST_LAYERS = [
    "state_tables.sink_s",
    "state_tables.sink_jobs",
    "state_tables.bytes_written",
    "incremental.score_s",
    "incremental.state_rows",
]
_CORPUS_LAYERS = [
    "corpus.clean_s",
    "quality.build_s",
    "dedup.lsh_s",
    "dedup.clusters_s",
    "dedup.survivors_s",
    "dedup.pairs",
]
_EVERY_WORKLOAD = [
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "trace.op_p50_s",
    "trace.untraced_op_p50_s",
    "trace.coverage",
]

CALLED = {
    "tall_snapshot": _SNAPSHOT_LAYERS,
    "wide_snapshot": _SNAPSHOT_LAYERS,
    "ingest_prep": _INGEST_LAYERS + _CORPUS_LAYERS,
}


def _corrupt_report(report: dict, column: str) -> dict:
    bad = copy.deepcopy(report)
    for r in bad["results"]:
        if r["column_name"] == column:
            r["drift_detected"] = False
    return bad


def corruptions(name: str, wl, out: dict) -> list[dict]:
    """Copies of the op's output, each with one fault the check must catch."""
    if name in ("tall_snapshot", "wide_snapshot"):
        return [_corrupt_report(out, wl.drifted[0])]
    ingest, corpus = out["ingest"], out["corpus"]
    funnel = corpus["funnel"]
    return [
        # the ingest part loses a column's window score
        {
            **out,
            "ingest": {
                **ingest,
                "scores": [r for r in ingest["scores"] if r["column_name"] != "value"],
            },
        },
        # the corpus part's funnel no longer sums to the corpus
        {**out, "corpus": {**corpus, "funnel": {**funnel, "kept": funnel["kept"] + 1}}},
    ]


def check_benchmark_json() -> list[str]:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for key, units in (("end_to_end", run.END_TO_END_UNITS), ("per_layer", run.LAYER_UNITS)):
        listed = {m["name"]: m["unit"] for m in spec[key]}
        if listed != units:
            problems.append(f"BENCHMARK.json {key} differs from run.py: {listed} vs {units}")
    unknown = [w["name"] for w in spec["workloads"] if w["name"] not in WORKLOADS]
    if unknown:
        problems.append(f"BENCHMARK.json names unknown workloads {unknown}")
    return problems


def check_workload(spark, name: str, work: str) -> list[str]:
    wl = WORKLOADS[name](7, os.path.join(work, name), SIZES["tiny"][name])
    prepare_s, seed_s, ops = run.run_workload(spark, wl, seconds=0, trace=True)
    problems = [f"{name}: op {i}: {o.problems}" for i, o in enumerate(ops) if o.problems]

    rss = tracing.peak_rss_mb(spark.sparkContext._gateway.proc.pid)
    e2e = run.end_to_end(prepare_s + seed_s, wl.cells(), rss, ops)
    layers = run.per_layer(work, ops)
    for values, units in ((e2e, run.END_TO_END_UNITS), (layers, run.LAYER_UNITS)):
        for metric in units:
            v = values.get(metric)
            if not isinstance(v, (int, float)) or not math.isfinite(v):
                problems.append(f"{name}: {metric} missing or not a number: {v!r}")
    problems += [f"{name}: {m} = {v}" for m, v in e2e.items() if not v > 0]
    problems += [
        f"{name}: layer metric {m} = {layers[m]}, want > 0"
        for m in CALLED[name] + _EVERY_WORKLOAD
        if not layers[m] > 0
    ]

    out = wl.op(spark, tracing.Tracer())
    clean = wl.check(out)
    if clean:
        problems.append(f"{name}: clean output failed its check: {clean}")
    for i, bad in enumerate(corruptions(name, wl, out)):
        if not wl.check(bad):
            problems.append(f"{name}: corrupted output {i} passed the check")
    return problems


def main() -> int:
    problems = check_benchmark_json()
    sys.path.insert(0, run.ROOT)
    work = os.path.join(run.ROOT, ".perfbench_work", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = run.start_session(
        work, len(os.sched_getaffinity(0)), run.driver_heap_mb(), event_log=True
    )
    try:
        for name in sorted(WORKLOADS):
            found = check_workload(spark, name, work)
            print(f"{name}: {'ok' if not found else 'FAIL'}", flush=True)
            problems += found
    finally:
        run.stop_session(spark)
    for p in problems:
        print(p)
    print("selftest:", "FAIL" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
