"""Spans around the calls into the package's layers, Spark counters from the
event log, and CPU and memory from ``/proc``.

Spans are recorded only from the benchmark's side: ``Tracer.install``
replaces each public function at the attribute its caller resolves (the
module attribute, or the name a caller imported at module load) with a
wrapper that opens a span, and ``uninstall`` puts the originals back. The
package itself is not modified. DataFrames are lazy, so a span covers the
py4j calls, Catalyst analysis and any eager action inside the call.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import time
from contextlib import contextmanager

PKG = "pyspark_data_drift_detector_spark"

# (module, attribute, span name). A span name may be a function of the
# call's keyword arguments: pipeline.detect_drift calls categorical_drift
# with top_k=None for the distribution family's full-support JS.
_TARGETS = [
    ("runner", "load_snapshot", "snapshot.load"),
    ("runner", "write_results", "snapshot.write"),
    ("runner", "detect_drift", "pipeline.detect"),
    ("runner", "build_report", "report.build"),
    ("pipeline", "infer_column_types", "inference.infer"),
    (
        "pipeline",
        "categorical_drift",
        lambda kw: "distribution.build" if kw.get("top_k", 20) is None else "categorical.build",
    ),
    ("operators.profile", "numeric_profile_pair", "profile.build"),
    ("operators.numeric_drift", "numeric_drift_from_joined", "profile.build"),
    ("operators.distribution", "quantile_shift_from_pair", "distribution.build"),
    ("operators.distribution", "max_quantile_shift", "distribution.build"),
    ("operators.distribution", "shape_change_from_pair", "distribution.build"),
    ("operators.correlation", "correlation_pairs", "correlation.build"),
    ("operators.correlation", "correlation_shifts", "correlation.build"),
    ("operators.groups", "group_drift", "groups.build"),
    ("operators.temporal", "temporal_drift", "temporal.build"),
    ("operators.quality", "quality_filter", "quality.build"),
]


class Tracer:
    """Spans of the current op, kept in memory. ``enabled`` switches both
    the benchmark's own spans and the installed wrappers."""

    def __init__(self):
        self.enabled = False
        self.spans: list[tuple[str, float, float, int]] = []
        self._stack: list[int] = []
        self._saved: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((name, time.time(), 0.0, parent))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, start, _, p = self.spans[idx]
            self.spans[idx] = (n, start, time.time(), p)

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name(kwargs) if callable(name) else name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        for mod_name, attr, name in _TARGETS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            fn = getattr(mod, attr)
            self._saved.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(fn, name))

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._saved):
            setattr(mod, attr, fn)
        self._saved.clear()

    def take(self) -> list[tuple[str, float, float, int]]:
        spans, self.spans = self.spans, []
        return spans


def self_times(spans) -> dict[str, float]:
    """Seconds per span name, each span counted without its children.
    Sibling spans run one after another on the calling thread, so the
    children's durations never overlap."""
    child = [0.0] * len(spans)
    for name, start, end, parent in spans:
        if parent >= 0:
            child[parent] += end - start
    out: dict[str, float] = {}
    for i, (name, start, end, _) in enumerate(spans):
        out[name] = out.get(name, 0.0) + (end - start) - child[i]
    return out


def total_times(spans) -> dict[str, float]:
    """Seconds per span name including children, nested repeats of one
    name counted once."""
    out: dict[str, float] = {}
    for name, start, end, parent in spans:
        p, nested = parent, False
        while p >= 0:
            if spans[p][0] == name:
                nested = True
                break
            p = spans[p][3]
        if not nested:
            out[name] = out.get(name, 0.0) + end - start
    return out


def windows(spans, name) -> list[tuple[float, float]]:
    return [(s, e) for n, s, e, _ in spans if n == name]


# --- Spark counters from the event log -------------------------------------


class EventLog:
    """Jobs, stages and tasks of one application, read from its event log
    after the session stopped."""

    def __init__(self, directory: str):
        files = [f for f in glob.glob(os.path.join(directory, "*")) if os.path.isfile(f)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {directory}, found {files}")
        self.jobs: list[tuple[float, list[int]]] = []
        self.stages: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = {}
        with open(files[0]) as f:
            for line in f:
                if not line.endswith("\n"):
                    break  # the unflushed tail of a running application's log
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    self.jobs.append((ev["Submission Time"] / 1000.0, ev["Stage IDs"]))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    self.stages[info["Stage ID"]] = info
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    self.tasks.setdefault(ev["Stage ID"], []).append(
                        {
                            "run_ms": m.get("Executor Run Time", 0),
                            "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                                "Shuffle Bytes Written", 0
                            ),
                            "spill": m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                        }
                    )

    def jobs_in(self, wins: list[tuple[float, float]]) -> list[list[int]]:
        """Stage ids of every job submitted inside one of the windows
        (event-log times have millisecond resolution)."""
        return [
            st
            for t, st in self.jobs
            if any(s - 0.001 <= t <= e + 0.001 for s, e in wins)
        ]

    def counters(self, wins: list[tuple[float, float]]) -> dict[str, float]:
        jobs = self.jobs_in(wins)
        stage_ids = {s for st in jobs for s in st if s in self.stages}
        tasks = [t for s in stage_ids for t in self.tasks.get(s, [])]
        skew = 1.0
        for s in stage_ids:
            runs = sorted(t["run_ms"] for t in self.tasks.get(s, []))
            if len(runs) >= 2:
                med = max(runs[len(runs) // 2], 1)
                skew = max(skew, runs[-1] / med)
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stage_ids),
            "spark.tasks": len(tasks),
            "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
            "spark.spill_bytes": sum(t["spill"] for t in tasks),
            "spark.task_skew": skew,
        }


# --- CPU and memory from /proc ---------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and every live descendant,
    plus what each has collected from exited children."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                data = f.read()
        except OSError:
            continue
        fields = data[data.rindex(")") + 2 :].split()
        pid = int(entry)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t
    return total / _TICK


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
