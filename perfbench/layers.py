"""The per-layer metric registry and the helpers that turn Spark's own
accounting (streaming progress, state-operator reports) into per-layer
numbers and spans."""

from __future__ import annotations

import statistics
import time
from collections import defaultdict
from datetime import datetime

# name -> (unit, better); the traced run prints every one of them, with 0
# for a layer the workload does not run
PER_LAYER: dict[str, tuple[str, str]] = {
    "parser.parse_ms": ("ms", "lower"),
    "translator.compile_ms": ("ms", "lower"),
    "translator.compile_jobs": ("count", "lower"),
    "translator.cold_compile_ms": ("ms", "lower"),
    "plan.plan_ms": ("ms", "lower"),
    "plan.nodes": ("count", "lower"),
    "plan.exchanges": ("count", "lower"),
    "plan.broadcast_joins": ("count", "lower"),
    "plan.sort_merge_joins": ("count", "lower"),
    "plan.python_nodes": ("count", "lower"),
    "exec.wall_ms": ("ms", "lower"),
    "exec.cpu_s": ("s", "lower"),
    "exec.run_s": ("s", "lower"),
    "exec.busy_share": ("share", "higher"),
    "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.failed_tasks": ("count", "lower"),
    "exec.shuffle_read_mb": ("MB", "lower"),
    "exec.shuffle_write_mb": ("MB", "lower"),
    "exec.spill_mb": ("MB", "lower"),
    "exec.output_rows": ("count", "higher"),
    "datapipe.wall_ms": ("ms", "lower"),
    "datapipe.exec_cpu_s": ("s", "lower"),
    "server.create_ms": ("ms", "lower"),
    "server.start_ms": ("ms", "lower"),
    "server.status_ms": ("ms", "lower"),
    "server.delete_ms": ("ms", "lower"),
    "runtime.start_overhead_ms": ("ms", "lower"),
    "stream.batches": ("count", "lower"),
    "stream.trigger_ms": ("ms", "lower"),
    "stream.add_batch_ms": ("ms", "lower"),
    "stream.query_planning_ms": ("ms", "lower"),
    "stream.latest_offset_ms": ("ms", "lower"),
    "stream.wal_commit_ms": ("ms", "lower"),
    "stream.commit_offsets_ms": ("ms", "lower"),
    "stream.rows_per_batch": ("count", "higher"),
    "state.rows_total": ("count", "lower"),
    "state.memory_mb": ("MB", "lower"),
    "state.commit_ms": ("ms", "lower"),
    "state.rows_updated": ("count", "lower"),
    "sink.rows_out": ("count", "higher"),
    "sink.out_in_ratio": ("share", "higher"),
    "process.cpu_s": ("s", "lower"),
    "jvm.gc_ms": ("ms", "lower"),
    "jvm.rss_mb": ("MB", "lower"),
    "python.rss_mb": ("MB", "lower"),
    "trace.overhead_ms": ("ms", "lower"),
}
# span names; self time per operation is reported as self.<name>_ms
SPAN_NAMES = ("op", "parser", "translator", "plan", "exec", "accounting",
              "server", "runtime", "stream")
PER_LAYER.update({f"self.{n}_ms": ("ms", "lower") for n in SPAN_NAMES})

PLAN_COUNTS = ("nodes", "exchanges", "broadcast_joins", "sort_merge_joins", "python_nodes")
EXEC_SUMS = ("cpu_s", "run_s", "jobs", "stages", "tasks", "failed_tasks",
             "shuffle_read_mb", "shuffle_write_mb", "spill_mb")
_PHASES = (  # MicroBatchExecution order
    ("latestOffset", "latest_offset_ms"), ("walCommit", "wal_commit_ms"),
    ("getBatch", None), ("queryPlanning", "query_planning_ms"),
    ("addBatch", "add_batch_ms"), ("commitOffsets", "commit_offsets_ms"),
)


class Acc:
    """Per-operation values by metric key and operation kind (query or
    rule name)."""

    def __init__(self) -> None:
        self.values: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))

    def add(self, key: str, kind: str, value: float) -> None:
        self.values[key][kind].append(value)

    def mean(self, key: str) -> float:
        """Mean over every recorded operation."""
        vals = [v for vs in self.values[key].values() for v in vs]
        return statistics.mean(vals) if vals else 0.0

    def per_round(self, key: str) -> float:
        """Sum over kinds of each kind's mean: the total for one round in
        which every kind runs once."""
        return sum(statistics.mean(vs) for vs in self.values[key].values())


def self_time_metrics(self_s: dict[str, float], ops: int) -> dict[str, float]:
    return {f"self.{n}_ms": self_s.get(n, 0.0) * 1e3 / max(ops, 1) for n in SPAN_NAMES}


def complete(layer_values: dict[str, float]) -> dict[str, dict]:
    """Every per-layer metric, 0 where the workload has no such layer."""
    unknown = set(layer_values) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"unregistered per-layer metrics: {sorted(unknown)}")
    return {
        name: {"value": float(layer_values.get(name, 0.0)), "unit": unit}
        for name, (unit, _better) in PER_LAYER.items()
    }


def progress_epoch_ms(p: dict) -> float:
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() * 1e3


def progress_layers(progress: list[dict]) -> dict[str, float]:
    """stream.* and state.* numbers over a set of progress reports (any
    number of queries); per-batch means, state totals from each query's
    last report."""
    if not progress:
        return {}
    dur = [p.get("durationMs") or {} for p in progress]
    out = {"stream.batches": float(len(progress)),
           "stream.trigger_ms": statistics.mean(d.get("triggerExecution", 0) for d in dur)}
    for key, name in _PHASES:
        if name:
            out[f"stream.{name}"] = statistics.mean(d.get(key, 0) for d in dur)
    with_rows = [p["numInputRows"] for p in progress if p.get("numInputRows")]
    out["stream.rows_per_batch"] = statistics.mean(with_rows) if with_rows else 0.0
    last: dict[str, dict] = {}
    commit_ms, updated = [], 0
    for p in progress:
        ops = p.get("stateOperators") or []
        commit_ms.append(sum(o.get("commitTimeMs", 0) for o in ops))
        updated += sum(o.get("numRowsUpdated", 0) for o in ops)
        last[p["runId"]] = p
    out["state.rows_total"] = float(sum(
        o.get("numRowsTotal", 0) for p in last.values() for o in p.get("stateOperators") or []))
    out["state.memory_mb"] = sum(
        o.get("memoryUsedBytes", 0) for p in last.values()
        for o in p.get("stateOperators") or []) / 2**20
    out["state.commit_ms"] = statistics.mean(commit_ms)
    out["state.rows_updated"] = float(updated)
    return out


def add_batch_spans(tracer, parent, progress: list[dict]) -> None:
    """Rebuild each micro-batch as a ``stream`` span under ``parent``, its
    addBatch phase as an ``exec`` child and the other phases as
    ``stream`` children, from progress timestamps and durations."""
    if not tracer.enabled or parent is None:
        return
    shift = time.time() - time.perf_counter()
    for p in progress:
        start = progress_epoch_ms(p) / 1e3 - shift
        d = p.get("durationMs") or {}
        batch = tracer.add("stream", start, start + d.get("triggerExecution", 0) / 1e3, parent)
        t = start
        for key, _name in _PHASES:
            ms = d.get(key, 0)
            if ms:
                tracer.add("exec" if key == "addBatch" else "stream", t, t + ms / 1e3, batch)
                t += ms / 1e3
