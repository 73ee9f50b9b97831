"""Metric names, units and the result record every workload returns."""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field
from typing import Callable

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "rows_per_s": "rows/s",
}

PER_LAYER = {
    "session.start_s": "s",
    "registry.import_s": "s",
    "sources.load_calls": "count",
    "sources.load_s": "s",
    "operators.build_s": "s",
    "operators.eager_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "plan.exchanges": "count",
    "plan.sort_merge_joins": "count",
    "plan.broadcast_joins": "count",
    "plan.scans": "count",
    "plan.python_evals": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.cpu_share": "ratio",
    "exec.core_busy_share": "ratio",
    "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.task_skew": "ratio",
    "cache.leaked_rdds": "count",
    "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.get_batch_ms": "ms",
    "stream.latest_offset_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.state_rows": "count",
    "stream.state_memory_bytes": "bytes",
    "stream.rows_dropped_by_watermark": "count",
    "stream.plan_runs_per_trigger": "count",
    "sinks.upsert_calls": "count",
    "sinks.upsert_s": "s",
    "sinks.result_files": "count",
    "sinks.result_bytes": "bytes",
    "jvm.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


def percentile(values, q: int) -> float:
    """The q-th percentile, interpolated between the closest ranks."""
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


@dataclass
class Result:
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    end_to_end: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=lambda: dict.fromkeys(PER_LAYER, 0))
    record: dict = field(default_factory=dict)
    # reads the event log once the JVM has stopped and fills `layers`
    trace_reader: Callable[["Result", str], None] | None = None

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    def finish_trace(self, event_dir: str) -> None:
        if self.trace_reader is not None:
            self.trace_reader(self, event_dir)

    @staticmethod
    def units() -> dict[str, str]:
        return END_TO_END | PER_LAYER
