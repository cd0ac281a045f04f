"""Metric definitions and the per-layer reduction of a traced run.

``END_TO_END`` and ``LAYER_METRICS`` are the tables ``BENCHMARK.json``
lists; DESIGN.md says which end-to-end metric each layer metric should
move, on which workload.  Every workload reports every metric; a layer
a workload never reaches reads 0.
"""

from __future__ import annotations

import statistics
from typing import Dict, List

from spans import layer_self_times, union_s

#: name -> (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "op_s": ("s", "lower", 0.25),
    "work_per_s": ("1/s", "higher", 0.25),
}


def pass_stats(ops: List[Dict], phase: str, op_kind: str, ref_s=None):
    """(op_s, work_per_s) of a window: medians over its passes of the
    mean ``op_kind`` latency and of items per second of op time.  With
    ``ref_s``, each op's wall time is first scaled by ``ref_s`` over the
    host probe that ran right after it (see probe.py)."""
    def seconds(op):
        return op["wall"] * ref_s / op["probe"] if ref_s else op["wall"]

    passes: Dict[int, List[Dict]] = {}
    for op in ops:
        if op["phase"] == phase:
            passes.setdefault(op["pass"], []).append(op)
    means, rates = [], []
    for p in passes.values():
        means.append(statistics.mean(seconds(op) for op in p if op["kind"] == op_kind))
        rates.append(sum(op["items"] for op in p) / sum(seconds(op) for op in p))
    return statistics.median(means), statistics.median(rates)

_SESSION = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
            "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")

#: per-op inclusive time in these calls (summed within an op, median
#: over the traced ops that made the call)
_CALLS = {
    "plans.suite_s": ("ValidationSuite.run", "ValidationSuite.run_and_store"),
    "plans.scalar_s": ("ValidationSuite.run[scalar]",),
    "operators.multitable.suite_s": ("ValidationSuite.run[multitable]",),
    "analyzers.analyze_partition_s": (
        "IncrementalAnalysisRunner.analyze_partition",),
    "analyzers.aggregate_partitions_s": (
        "IncrementalAnalysisRunner.aggregate_partitions",),
    "analyzers.detect_s": ("AnomalyDetector.detect_on",),
    "repository.save_s": ("ParquetRepository.save",),
    "repository.series_s": ("ParquetRepository.series",),
}

LAYERS = ("bench", "session", "sources", "plans", "operators", "analyzers",
          "repository")

#: name -> (unit, better)
LAYER_METRICS = {
    "session.start_s": ("s", "lower"),
    **{f"session.{k}": ("s" if k.endswith("_s") else
                        "B" if k.endswith("_bytes") else "count", "lower")
       for k in _SESSION},
    "session.driver_s": ("s", "lower"),
    "session.busy_share": ("ratio", "higher"),
    "session.storage_bytes": ("B", "lower"),
    "session.peak_rss_mb": ("MB", "lower"),
    "sources.load_s": ("s", "lower"),
    "sources.input_rows": ("count", "higher"),
    "plans.suite_jobs": ("count", "lower"),
    "plans.reported_jobs": ("count", "lower"),
    "plans.jobs_reported_ratio": ("ratio", "higher"),
    **{name: ("s", "lower") for name in _CALLS},
    "analyzers.state_bytes": ("B", "lower"),
    "repository.files": ("count", "lower"),
    "repository.bytes_per_metric": ("B", "lower"),
    "repository.history_runs": ("count", "higher"),
    **{f"self.{layer}_s": ("s", "lower") for layer in LAYERS},
    "trace.overhead_s": ("s", "lower"),
    "bench.op_wall_s": ("s", "lower"),
    "host.probe_s": ("s", "lower"),
}


def _median(values: List[float]) -> float:
    return statistics.median(values) if values else 0


def per_layer(ops: List[Dict], tracer, op_kind: str, cores: int) -> Dict[str, float]:
    """Medians over the traced ops: status-store totals, driver time,
    busy share and layer self times of the workload's main op kind;
    call times over every traced op that made the call."""
    traced = [op for op in ops if op["traced"]]
    main = [op for op in traced if op["kind"] == op_kind and op["phase"] == "traced"]
    out = {f"session.{k}": _median([op["profile"][k] for op in main])
           for k in _SESSION}
    out["session.driver_s"] = _median([
        op["wall"] - union_s(op["job_intervals"], *op["epoch"]) for op in main])
    out["session.busy_share"] = _median([
        op["profile"]["task_run_s"] / (op["wall"] * cores) for op in main])
    out["session.storage_bytes"] = _median([op["storage_bytes"] for op in main])

    self_times = [layer_self_times(tracer.op_spans(op["id"]), tracer.spans)
                  for op in main]
    for layer in LAYERS:
        out[f"self.{layer}_s"] = _median([t.get(layer, 0.0) for t in self_times])

    out["plans.suite_jobs"] = _median([
        tracer.jobs_under(op["id"], _CALLS["plans.suite_s"]) for op in main])
    for metric, names in _CALLS.items():
        per_op = []
        for op in traced:
            spans = [s for s in tracer.op_spans(op["id"]) if s["name"] in names]
            if spans:
                per_op.append(sum(s["end"] - s["start"] for s in spans))
        out[metric] = _median(per_op)
    return out
