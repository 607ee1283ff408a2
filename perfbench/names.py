"""Metric names and units — the single list ``BENCHMARK.json`` mirrors."""

from __future__ import annotations

from workloads import RAG_CURATION as QUERIES
from workloads import STAGES

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "events_per_s": "events/s",
    "batch_p50_ms": "ms",
    "batch_p90_ms": "ms",
    "cpu_s": "s",
}

UNITS = {
    "jobs": "count", "shuffle_bytes": "bytes", "spill_bytes": "bytes",
    "python_rows": "rows", "batches": "count", "addBatch_ms": "ms",
    "queryPlanning_ms": "ms", "walCommit_ms": "ms", "commitOffsets_ms": "ms",
    "state_rows_peak": "rows", "state_mb_peak": "MB", "state_commit_ms": "ms",
    "rows_out": "rows", "rows_dropped_by_watermark": "rows",
}

STAGE_KEYS = ("batches", "addBatch_ms", "queryPlanning_ms", "walCommit_ms",
              "commitOffsets_ms", "state_rows_peak", "state_mb_peak",
              "state_commit_ms", "rows_out", "rows_dropped_by_watermark")
#: counts that repeat exactly from pass to pass: reported from the last
#: traced pass rather than as a median
EXACT_STAGE_KEYS = ("batches", "state_rows_peak", "rows_out",
                    "rows_dropped_by_watermark")


def per_layer() -> dict[str, str]:
    m = {"session.get_spark_s": "s", "session.ship_package_s": "s",
         "sources.register_s": "s"}
    for q in QUERIES:
        m[f"q.{q}.build_s"] = "s"
        m[f"q.{q}.exec_s"] = "s"
        for k in ("jobs", "shuffle_bytes", "spill_bytes", "python_rows"):
            m[f"q.{q}.{k}"] = UNITS[k]
    m.update({"ml.calls_per_distinct_prompt": "ratio", "python.init_ms": "ms",
              "python.compute_ms": "ms", "providers.textgen_us": "us",
              "providers.embedding_us": "us"})
    for s in STAGES:
        m[f"stream.{s}.wall_s"] = "s"
        for k in STAGE_KEYS:
            m[f"stream.{s}.{k}"] = UNITS[k]
    m.update({"proc.peak_rss_mb": "MB", "scaling.pass_s_1core": "s",
              "trace.overhead_s": "s", "fail_ratio": "ratio"})
    return m
