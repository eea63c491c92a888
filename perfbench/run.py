"""Engine benchmark: one workload per run, closed loop, one client.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload tall_snapshot --seed 1 --seconds 10 --trace 0

The run starts one Spark session at ``local[nproc]``, makes the workload's
inputs from ``--seed``, times the first op on the cold JVM, then runs warm
ops back to back for ``--seconds``. Every op's output is checked. The last
line of standard output is the result::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the warm ops alternate between traced and untraced and the metrics are the
per-layer ones (see ``perfbench/README.md``). The line before it is a
detail record: host fingerprint, session settings, every sample and the
error rate. Scratch files go to ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import tracing  # noqa: E402
from workloads import SIZES, WORKLOADS  # noqa: E402

#: warm ops per run at least, whatever ``--seconds`` says. A run already
#: pays 30-50 s for the JVM start and the cold op; a full measurement
#: (4 + 22 runs per workload) has to fit in 3420 s.
MIN_WARM_OPS = 2

END_TO_END_UNITS = {
    "setup_s": "s",
    "first_op_s": "s",
    "op_p50_s": "s",
    "cells_per_s": "1/s",
    "cpu_s_per_op": "s",
    "jvm_peak_rss_mb": "MB",
}

LAYER_UNITS = {
    "snapshot.load_s": "s",
    "snapshot.write_s": "s",
    "inference.infer_s": "s",
    "inference.jobs": "count",
    "profile.build_s": "s",
    "categorical.build_s": "s",
    "distribution.build_s": "s",
    "correlation.build_s": "s",
    "groups.build_s": "s",
    "temporal.build_s": "s",
    "pipeline.detect_s": "s",
    "pipeline.materialize_s": "s",
    "report.build_s": "s",
    "report.jobs": "count",
    "state_tables.sink_s": "s",
    "state_tables.sink_jobs": "count",
    "state_tables.bytes_written": "bytes",
    "incremental.score_s": "s",
    "incremental.state_rows": "count",
    "corpus.clean_s": "s",
    "quality.build_s": "s",
    "dedup.lsh_s": "s",
    "dedup.clusters_s": "s",
    "dedup.survivors_s": "s",
    "dedup.pairs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_skew": "ratio",
    "codegen.compile_failures": "count",
    "trace.op_p50_s": "s",
    "trace.untraced_op_p50_s": "s",
    "trace.overhead_pct": "%",
    "trace.coverage": "ratio",
}

# per-layer time metric -> span name; "self:" takes the span's self time
_SPAN_METRICS = {
    "snapshot.load_s": "snapshot.load",
    "snapshot.write_s": "snapshot.write",
    "inference.infer_s": "inference.infer",
    "profile.build_s": "profile.build",
    "categorical.build_s": "categorical.build",
    "distribution.build_s": "distribution.build",
    "correlation.build_s": "correlation.build",
    "groups.build_s": "groups.build",
    "temporal.build_s": "temporal.build",
    "pipeline.detect_s": "pipeline.detect",
    "pipeline.materialize_s": "self:pipeline.detect",
    "report.build_s": "report.build",
    "state_tables.sink_s": "state_tables.sink",
    "incremental.score_s": "incremental.score",
    "corpus.clean_s": "corpus.clean",
    "quality.build_s": "quality.build",
    "dedup.lsh_s": "dedup.lsh",
    "dedup.clusters_s": "dedup.clusters",
    "dedup.survivors_s": "dedup.survivors",
}

# per-layer job counts -> span whose window the jobs were submitted in
_JOB_METRICS = {
    "inference.jobs": "inference.infer",
    "report.jobs": "report.build",
    "state_tables.sink_jobs": "state_tables.sink",
}

PACKAGE = tracing.PKG


def driver_heap_mb() -> int:
    """An eighth of the host's RAM, between 1 and 8 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(1024, min(8192, kb // 8192 // 256 * 256))


def host_fingerprint(nproc: int, heap_mb: int) -> dict:
    model = "unknown"
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True
        ).stdout.strip() or None
    digest = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(d, name), "rb") as f:
                    digest.update(name.encode() + f.read())
    import pyspark

    return {
        "nproc": nproc,
        "cpu_model": model,
        "ram_gb": round(mem_kb / 1024 / 1024, 1),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "master": f"local[{nproc}]",
        "driver_heap_mb": heap_mb,
        "git_commit": commit,
        "package_sha256": digest.hexdigest()[:16],
    }


def start_session(work: str, nproc: int, heap_mb: int, event_log: bool):
    """Start Spark with the JVM's stdout and stderr in ``work/jvm.log``, so
    the result stays the last line of this process's stdout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(nproc))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.codegen.maxFields", "2000")
        .config("spark.driver.memory", f"{heap_mb}m")
        # the heap starts at its full size: G1 growing it on its own schedule
        # moved the JVM's peak RSS by a quarter between identical runs
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{heap_mb}m -XX:ReservedCodeCacheSize=2g -Djava.io.tmpdir={tmp}",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.session.timeZone", "UTC")
    )
    if event_log:
        events = os.path.join(work, "events")
        os.makedirs(events)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.dir", f"file://{events}")
        )
    sys.stdout.flush()
    sys.stderr.flush()
    saved = os.dup(1), os.dup(2)
    log = os.open(os.path.join(work, "jvm.log"), os.O_WRONLY | os.O_CREAT, 0o644)
    try:
        os.dup2(log, 1)
        os.dup2(log, 2)
        spark = builder.getOrCreate()
    finally:
        os.dup2(saved[0], 1)
        os.dup2(saved[1], 2)
        for fd in (*saved, log):
            os.close(fd)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Op:
    """One measured op: wall and CPU time, spans, output problems."""

    def __init__(self, wall: float, cpu: float, traced: bool, spans, problems):
        self.wall = wall
        self.cpu = cpu
        self.traced = traced
        self.spans = spans
        self.problems = problems
        self.counts: dict[str, float] = {}


def run_op(wl, spark, tracer: tracing.Tracer, traced: bool) -> Op:
    me = os.getpid()
    if traced:
        wl_probe(wl, spark)
    tracer.enabled = traced
    cpu0 = tracing.tree_cpu_s(me)
    t0 = time.perf_counter()
    try:
        out, problems = wl.op(spark, tracer), None
    except Exception:
        out, problems = None, [traceback.format_exc(limit=3)]
    wall = time.perf_counter() - t0
    cpu = tracing.tree_cpu_s(me) - cpu0
    tracer.enabled = False
    op = Op(wall, cpu, traced, tracer.take(), problems or wl.check(out))
    if traced:
        op.counts = wl_probe(wl, spark)
    return op


def wl_probe(wl, spark) -> dict:
    probe = getattr(wl, "probe", None)
    return probe(spark) if probe else {}


def run_workload(spark, wl, seconds: float, trace: bool):
    """Prepare the inputs, seed any state, then run the cold op and warm
    ops until ``seconds`` passed and at least ``MIN_WARM_OPS`` ran. A traced
    run traces every other warm op, starting with the second, and runs at
    least three, so the untraced ops on both sides of a traced one cancel a
    warm-up trend in the tracing overhead. Returns (input preparation time,
    state seeding time, ops)."""
    t = time.perf_counter()
    wl.prepare(spark)
    prepare_s = time.perf_counter() - t
    t = time.perf_counter()
    if hasattr(wl, "seed_state"):
        wl.seed_state(spark)
    seed_s = time.perf_counter() - t
    tracer = tracing.Tracer()
    if trace:
        tracer.install()
    try:
        ops = [run_op(wl, spark, tracer, traced=False)]
        deadline = time.perf_counter() + seconds
        min_warm = max(MIN_WARM_OPS, 3) if trace else MIN_WARM_OPS
        while time.perf_counter() < deadline or len(ops) <= min_warm:
            ops.append(run_op(wl, spark, tracer, traced=trace and len(ops) % 2 == 0))
    finally:
        tracer.uninstall()
    return prepare_s, seed_s, ops


def end_to_end(setup_s: float, cells_per_op: int, rss_mb: float, ops: list[Op]) -> dict:
    warm = ops[1:]
    op_p50 = statistics.median(o.wall for o in warm)
    return {
        "setup_s": setup_s,
        "first_op_s": ops[0].wall,
        "op_p50_s": op_p50,
        "cells_per_s": cells_per_op / op_p50,
        "cpu_s_per_op": statistics.median(o.cpu for o in warm),
        "jvm_peak_rss_mb": rss_mb,
    }


def per_layer(work: str, ops: list[Op]) -> dict:
    """Per-layer metrics of the traced warm ops, as medians per op; layers
    the workload does not call read 0. Spark counters come from the event
    log in ``work/events``, codegen failures from ``work/jvm.log``."""
    traced = [o for o in ops[1:] if o.traced]
    untraced = [o for o in ops[1:] if not o.traced]
    events = tracing.EventLog(os.path.join(work, "events"))
    samples: dict[str, list[float]] = {k: [] for k in LAYER_UNITS}
    for o in traced:
        total = tracing.total_times(o.spans)
        own = tracing.self_times(o.spans)
        for metric, span in _SPAN_METRICS.items():
            if span.startswith("self:"):
                samples[metric].append(own.get(span[5:], 0.0))
            else:
                samples[metric].append(total.get(span, 0.0))
        for metric, span in _JOB_METRICS.items():
            samples[metric].append(len(events.jobs_in(tracing.windows(o.spans, span))))
        for metric, value in events.counters(tracing.windows(o.spans, "op")).items():
            samples[metric].append(value)
        for metric, value in o.counts.items():
            samples[metric].append(value)
        samples["trace.coverage"].append(1.0 - own["op"] / total["op"])
    with open(os.path.join(work, "jvm.log"), errors="replace") as f:
        failures = sum("failed to compile" in line.lower() for line in f)
    out = {
        k: statistics.median(v) if v else 0.0
        for k, v in samples.items()
        if not k.startswith("trace.") or k == "trace.coverage"
    }
    out["codegen.compile_failures"] = failures / len(ops)
    t = statistics.median(o.wall for o in traced)
    u = statistics.median(o.wall for o in untraced)
    out["trace.op_p50_s"] = t
    out["trace.untraced_op_p50_s"] = u
    out["trace.overhead_pct"] = 100.0 * (t - u) / u
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    nproc = len(os.sched_getaffinity(0))
    heap_mb = driver_heap_mb()
    host = host_fingerprint(nproc, heap_mb)
    t0 = time.perf_counter()
    spark = start_session(work, nproc, heap_mb, event_log=bool(args.trace))
    session_s = time.perf_counter() - t0
    try:
        host["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        size = SIZES["bench"][args.workload]
        wl = WORKLOADS[args.workload](args.seed, work, size)
        prepare_s, seed_s, ops = run_workload(spark, wl, args.seconds, bool(args.trace))
        rss = tracing.peak_rss_mb(spark.sparkContext._gateway.proc.pid)
    finally:
        stop_session(spark)
    setup_s = session_s + prepare_s + seed_s
    failed = sum(bool(o.problems) for o in ops)
    if args.trace:
        values, units = per_layer(work, ops), LAYER_UNITS
    else:
        values = end_to_end(setup_s, wl.cells(), rss, ops)
        units = END_TO_END_UNITS
    detail = dict(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=args.trace,
        size=size,
        host=host,
        session_start_s=session_s,
        prepare_s=prepare_s,
        seed_state_s=seed_s,
        jvm_peak_rss_mb=rss,
        ops=len(ops),
        warm_ops=len(ops) - 1,
        error_rate=failed / len(ops),
        op_wall_s=[o.wall for o in ops],
        op_cpu_s=[o.cpu for o in ops],
        problems=[o.problems for o in ops if o.problems][:5],
        metrics=values,
    )
    print(json.dumps(detail, default=str))
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
