"""Names and units of every metric the benchmark reports.

Every workload reports every end-to-end metric (each is defined per
workload in ``perfbench/README.md``). ``serve`` and ``ingest`` report
every metric of ``PER_LAYER``: one of a layer the workload does not call
reads 0 (the layer did no work on that workload's path). ``curate``
reports ``CURATE_LAYER``.
"""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_p95_ms": "ms",
    "ops_per_s": "1/s",
    "wall_s": "s",
    "space_amp": "ratio",
}

CURATE_ENTRIES = (
    "curation_pipeline_neardup",
    "decontaminate",
    "embedding_neardup_topk",
    "ann_ivfpq_residual",
    "ann_recall_eval",
    "knn_pagerank",
)

_PLAN_METRICS = {
    "build_ms": "ms",
    "exec_ms": "ms",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "run_ms": "ms",
    "cpu_ms": "ms",
    "python_gap_ms": "ms",
    "shuffle_bytes": "bytes",
    "spill_bytes": "bytes",
}

_HOST = {
    "host.steal_pct": "%",
    "proc.peak_rss_mb": "MB",
    "spark.failed_tasks": "count",
    "trace.overhead_pct": "%",
}

# serve and ingest: every metric on both, 0 where the workload does not
# call the layer
PER_LAYER = {
    "session.start_ms": "ms",
    "domain.derive_ms": "ms",
    "operators.titles.build_ms": "ms",
    "operators.titles.exec_ms": "ms",
    "operators.titles.jobs_per_call": "count",
    "operators.titles.stages_per_call": "count",
    "operators.titles.tasks_per_call": "count",
    "operators.preferences.get_ms": "ms",
    "operators.preferences.put_ms": "ms",
    "operators.preferences.put_jobs": "count",
    "operators.analytics.exec_ms": "ms",
    "streaming.storage.read_ms": "ms",
    "streaming.producer.publish_ms": "ms",
    "streaming.consumer.trigger_ms": "ms",
    "streaming.consumer.addbatch_ms": "ms",
    "streaming.consumer.machinery_ms": "ms",
    "streaming.storage.upsert_titles_ms": "ms",
    "streaming.storage.upsert_index_ms": "ms",
    "streaming.storage.update_fields_ms": "ms",
    "streaming.storage.jobs_per_merge": "count",
    "streaming.storage.buckets_touched_per_merge": "count",
    "streaming.storage.rows_rewritten_per_row_changed": "ratio",
    "streaming.storage.bytes_written_per_round": "bytes",
    "streaming.storage.files_written_per_round": "count",
    "streaming.enrichment.trigger_ms": "ms",
    "operators.titles.readback_ms": "ms",
    **_HOST,
}

# curate: the session, one block per catalog entry, the host
CURATE_LAYER = {
    "session.start_ms": "ms",
    **{f"plans.{e}.{m}": u for e in CURATE_ENTRIES for m, u in _PLAN_METRICS.items()},
    **_HOST,
}


def layer_units(workload: str) -> dict[str, str]:
    return CURATE_LAYER if workload == "curate" else PER_LAYER


def tagged(values: dict[str, float], units: dict[str, str]) -> dict[str, dict]:
    """Every metric of ``units`` as ``{"value", "unit"}``; absent ones read 0."""
    return {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in units.items()}
