"""Spans around the benchmark's calls into the engine, and the fold of
Spark's event log into per-span layer metrics.

Each span tags the Spark jobs it launches with its own job group. After the
session stops, :func:`fold_event_log` attributes every task in the event log
to the span whose group launched its stage, and :func:`layer_metrics` turns
the per-span sums into the per-layer metrics the benchmark reports.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import defaultdict

# Spark 4.1 PythonSQLMetrics, as named in task accumulables; the times are
# in ms (a task's "time to run Python workers" stays below its duration)
PY_BOOT = "time to start Python workers"
PY_TOTAL = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"

SPAN_FIELDS = ("wall_s", "jobs", "tasks", "cpu_s", "gc_s", "shuffle_mb")
PY_FIELDS = ("py_boot_s", "py_total_s", "py_mb")

SPANS = (
    "pipeline.run",
    "pipeline.records",
    "pipeline.train_model",
    "pipeline.blocks",
    "pipeline.candidate_pairs",
    "pipeline.scored_pairs",
    "pipeline.cluster_assignments",
    "pipeline.clusters",
    "api.prepare_training",
    "api.uncertain_pairs",
    "api.train",
    "api.partition",
    "dedup.exact_duplicate_groups",
    "dedup.minhash_lsh_pairs",
    "dedup.simhash_pairs",
)
SKEW_SPANS = (
    "pipeline.candidate_pairs",
    "pipeline.scored_pairs",
    "pipeline.cluster_assignments",
    "dedup.minhash_lsh_pairs",
    "dedup.simhash_pairs",
)
PY_SPANS = (
    "pipeline.records",
    "pipeline.blocks",
    "pipeline.scored_pairs",
    "api.uncertain_pairs",
    "api.partition",
    "dedup.minhash_lsh_pairs",
    "dedup.simhash_pairs",
)
COUNTERS = (
    "pipeline.candidate_pairs.rows",
    "pipeline.scored_pairs.pairs_per_s",
    "blocking.match_ratio",
    "blocking.dropped_keys",
    "pipeline.cluster_assignments.rows",
    "pipeline.out_mb",
    "pipeline.resumed_stages",
    "api.uncertain_pairs.pool_pairs",
    "trace.overhead_s",
    "minhash_recall",
    "simhash_recall",
)


def per_layer_names() -> list[str]:
    """Every per-layer metric name, in BENCHMARK.json order."""
    names = [f"{s}.{f}" for s in SPANS for f in SPAN_FIELDS]
    names.append("pipeline.run.self_s")
    names += [f"{s}.skew" for s in SKEW_SPANS]
    names += [f"{s}.{f}" for s in PY_SPANS for f in PY_FIELDS]
    return names + list(COUNTERS)


def unit_of(name: str) -> str:
    if name.endswith("pairs_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith((".skew", "_ratio", "_recall")):
        return "ratio"
    return "count"


class Tracer:
    """In-memory span recorder. One instance per traced pass set; every
    span carries the shared ``run_id``."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "group": f"{self.run_id}:{len(self.spans)}",
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, name: str, fn):
        """``fn`` with every call inside a span called ``name``."""

        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapped

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans}, fh, indent=1)


def _stats():
    return {
        "jobs": 0,
        "tasks": 0,
        "cpu_ns": 0,
        "gc_ms": 0,
        "shuffle_bytes": 0,
        "py_boot_ms": 0,
        "py_total_ms": 0,
        "py_bytes": 0,
        # stage id -> task durations (ms), for skew
        "stage_tasks": defaultdict(list),
    }


def fold_event_log(event_dir: str) -> dict[str, dict]:
    """Per job group: jobs, tasks, executor CPU, GC, shuffle bytes, Python
    boot/run time and transfer bytes, and task durations per stage."""
    # Spark 4 rolls the log: <dir>/eventlog_v2_<app>/events_<n>_<app>
    files = sorted(
        glob.glob(os.path.join(event_dir, "*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    if not files:
        raise FileNotFoundError(f"no Spark event log under {event_dir}")
    groups: dict[str, dict] = defaultdict(_stats)
    stage_group: dict[int, str] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is not None:
                        groups[g]["jobs"] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, g)
                elif kind == "SparkListenerStageSubmitted":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is not None:
                        stage_group[ev["Stage Info"]["Stage ID"]] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    if g is None:
                        continue
                    st = groups[g]
                    info = ev["Task Info"]
                    tm = ev.get("Task Metrics") or {}
                    st["tasks"] += 1
                    st["cpu_ns"] += tm.get("Executor CPU Time", 0)
                    st["gc_ms"] += tm.get("JVM GC Time", 0)
                    rd = tm.get("Shuffle Read Metrics") or {}
                    wr = tm.get("Shuffle Write Metrics") or {}
                    st["shuffle_bytes"] += (
                        rd.get("Remote Bytes Read", 0)
                        + rd.get("Local Bytes Read", 0)
                        + wr.get("Shuffle Bytes Written", 0)
                    )
                    st["stage_tasks"][ev["Stage ID"]].append(
                        info["Finish Time"] - info["Launch Time"]
                    )
                    for acc in info.get("Accumulables", []):
                        name = acc.get("Name")
                        if name == PY_BOOT:
                            st["py_boot_ms"] += int(acc.get("Update", 0))
                        elif name == PY_TOTAL:
                            st["py_total_ms"] += int(acc.get("Update", 0))
                        elif name in (PY_SENT, PY_RECV):
                            st["py_bytes"] += int(acc.get("Update", 0))
    return groups


def _skew(stage_tasks: dict[int, list[int]]) -> float:
    """Max over median task time of the stage with the most task time."""
    if not stage_tasks:
        return 0.0
    durs = max(stage_tasks.values(), key=sum)
    return max(durs) / max(statistics.median(durs), 1.0)


def layer_metrics(spans: list[dict], groups: dict[str, dict]) -> dict[str, float]:
    """Per-span-name totals over every instance of the span. A span's jobs
    and tasks include those of its child spans; names the pass never
    entered report 0."""
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)

    def subtree(s):
        yield s
        for c in children[s["id"]]:
            yield from subtree(c)

    out = {name: 0.0 for name in per_layer_names()}
    for s in spans:
        name = s["name"]
        if name not in SPANS:
            continue
        agg = _stats()
        for node in subtree(s):
            g = groups.get(node["group"])
            if g is None:
                continue
            for k, v in g.items():
                if k == "stage_tasks":
                    for sid, d in v.items():
                        agg[k][sid].extend(d)
                else:
                    agg[k] += v
        wall = s["end"] - s["start"]
        out[f"{name}.wall_s"] += wall
        out[f"{name}.jobs"] += agg["jobs"]
        out[f"{name}.tasks"] += agg["tasks"]
        out[f"{name}.cpu_s"] += agg["cpu_ns"] / 1e9
        out[f"{name}.gc_s"] += agg["gc_ms"] / 1e3
        out[f"{name}.shuffle_mb"] += agg["shuffle_bytes"] / 1e6
        if name == "pipeline.run":
            out["pipeline.run.self_s"] += wall - sum(
                c["end"] - c["start"] for c in children[s["id"]]
            )
        if name in SKEW_SPANS:
            out[f"{name}.skew"] = max(out[f"{name}.skew"], _skew(agg["stage_tasks"]))
        if name in PY_SPANS:
            out[f"{name}.py_boot_s"] += agg["py_boot_ms"] / 1e3
            out[f"{name}.py_total_s"] += agg["py_total_ms"] / 1e3
            out[f"{name}.py_mb"] += agg["py_bytes"] / 1e6
    return out
