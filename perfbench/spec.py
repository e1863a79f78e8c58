"""What the benchmark measures. ``BENCHMARK.json`` at the repository root
holds the workloads, metrics and bounds; this module loads it and adds what
that file has no field for: the end-to-end metric each per-layer metric
should move, and the workloads on which it moves.
"""

from __future__ import annotations

import json
import os

_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")
with open(_PATH) as _f:
    BENCHMARK = json.load(_f)

RUN_SECONDS = BENCHMARK["run_seconds"]
WORKLOADS = [w["name"] for w in BENCHMARK["workloads"]]
END_TO_END = BENCHMARK["end_to_end"]
PER_LAYER = BENCHMARK["per_layer"]
UNITS = {m["name"]: m["unit"] for m in END_TO_END + PER_LAYER}

#: per-layer metric -> (end-to-end metric it should move, workloads where it moves)
MOVES = {
    "session.build_s": ("setup_s", "all"),
    "catalog.lake_ingest_s": ("setup_s", "interactive"),
    "registry.construct_ms_p50": ("latency_ms_p50", "interactive"),
    "registry.construct_jobs": ("throughput_per_s", "interactive (near_dup_clusters)"),
    "dedup.construct_ms_p50": ("latency_ms_tail", "interactive (near_dup_clusters)"),
    "spark.plan_ms_p50": ("latency_ms_p50", "interactive"),
    "spark.force_ms_p50": ("latency_ms_p50", "interactive"),
    "spark.jobs_per_op": ("throughput_per_s", "all"),
    "spark.stages_per_op": ("throughput_per_s", "all"),
    "spark.tasks_per_op": ("throughput_per_s", "all"),
    "spark.shuffle_bytes_per_op": ("throughput_per_s", "all"),
    "spark.busy_ratio": ("throughput_per_s", "all"),
    "spark.failed_tasks": ("fail_ratio", "all"),
    "replay.latest_offset_ms_p50": ("latency_ms_p50", "ingest"),
    "stream.planning_ms_p50": ("latency_ms_p50", "ingest"),
    "stream.add_batch_ms_p50": ("latency_ms_p50", "ingest"),
    "stream.commit_ms_p50": ("latency_ms_tail", "ingest"),
    "stream.rows_per_batch_p50": ("throughput_per_s", "ingest"),
    "sinks.jobs_per_batch": ("latency_ms_tail", "ingest"),
    "sinks.history_rows": ("latency_ms_tail", "ingest"),
    "sinks.files_per_batch": ("none (storage cost)", "ingest"),
    "sinks.bytes_per_row": ("none (storage cost)", "ingest"),
    "dedup_state.rows": ("throughput_per_s", "ingest"),
    "dedup_state.bytes": ("throughput_per_s", "ingest"),
    "pipeline.useful_ratio": ("throughput_per_s", "ingest"),
    "loadgen.late_ms_max": ("validity of the open loop", "ingest"),
    "trace.overhead_ms": ("traced minus untraced latency", "interactive"),
}
