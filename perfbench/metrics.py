"""Per-layer metrics printed by a traced run (``--trace 1``), with units.

A metric that a workload does not exercise reads 0 (for example the
streaming metrics on a batch workload).
"""

from __future__ import annotations

from eventlog import SPARK_METRICS
from workloads import STREAM_WORKLOADS

PROGRAMS = tuple(STREAM_WORKLOADS["stream-rate"])

PER_LAYER: dict[str, str] = {
    "session.get_spark_s": "s",
    "entry.build_s": "s",
    "entry.build_jobs": "count",
    "entry.exec_s": "s",
    "catalog.load_table_s": "s",
    "catalog.load_table_calls": "count",
    "pipeline.release_cached_s": "s",
    "pipeline.persisted_rdds": "count",
    **SPARK_METRICS,
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "state.commit_ms": "ms",
    "state.rows_dropped_by_watermark": "count",
    "sources.backlog_rows": "count",
    "sources.backlog_slope": "1/s",
    "sources.processed_rows_per_s": "1/s",
    **{f"stream.{p}.rows_per_s": "1/s" for p in PROGRAMS},
    **{f"stream.{p}.single_thread_rows_per_s": "1/s" for p in PROGRAMS},
    **{f"stream.{p}.latency_p50_ms": "ms" for p in PROGRAMS},
    **{f"stream.{p}.latency_p99_ms": "ms" for p in PROGRAMS},
    "latency.samples": "count",
    "self.entry.build_s": "s",
    "self.pass_s": "s",
    "trace.overhead_s": "s",
}
