"""The metrics every run reports, by name and unit. ``BENCHMARK.json``
lists the same names; ``test_perfbench.py`` keeps the two in step.

Every workload reports every metric. A per-layer metric of a layer the
workload does not touch reads 0 (``serve`` starts no streaming query,
``catalog`` never appends). README.md says which metric each layer
metric should move, on which workload.
"""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "bytes_per_user_byte": "ratio",
}

_VIEW_METRICS = {
    **{f"views.fold_ms.{v}": "ms" for v in ("stats", "idx", "latest")},
    **{f"views.backfill_s.{v}": "s" for v in ("stats", "idx", "latest")},
    **{f"views.rebuild_fold_s.{v}": "s" for v in ("stats", "idx", "latest")},
    "views.read_ms.idx": "ms",
    "views.read_ms.latest": "ms",
    "views.idx_files": "count",
    "views.latest_bytes_per_fold": "bytes",
}

ANN_ROWS = (
    "ns_ivf_ann_topk_seeded",
    "ns_lsh_ann_topk_md5",
    "ns_pq_ann_topk_seeded",
    "ns_semantic_dedup",
)

PER_LAYER = {
    "session.start_s": "s",
    "log.append_ms": "ms",
    "log.manifest_bytes": "bytes",
    "log.files": "count",
    "log.scan_files_per_fold": "count",
    "log.scan_useful_ratio": "ratio",
    **_VIEW_METRICS,
    "engine.gate_self_ms": "ms",
    "streaming.batches": "count",
    "streaming.batch_p50_ms": "ms",
    "streaming.input_rows_per_s": "rows/s",
    "sources.offset_catchup_rows_per_s": "rows/s",
    "log.compact_files_before": "count",
    "log.compact_files_after": "count",
    "log.compact_bytes_rewritten": "bytes",
    "catalog.construct_s": "s",
    "catalog.execute_s": "s",
    **{f"catalog.construct_s.{q}": "s" for q in ANN_ROWS},
    **{f"catalog.execute_s.{q}": "s" for q in ANN_ROWS},
    "spark.jobs_per_op.rw": "count",
    "spark.jobs_per_op.ro": "count",
    "spark.stages_per_op.rw": "count",
    "spark.stages_per_op.ro": "count",
    "spark.tasks_per_op.rw": "count",
    "spark.tasks_per_op.ro": "count",
    "spark.jobs_per_pass": "count",
    "spark.tasks_per_pass": "count",
    # the traced run's own run_s: minus the untraced run_s of the same
    # workload, this is the tracing overhead
    "trace.run_s": "s",
}


def table(values: dict[str, float], units: dict[str, str]) -> dict[str, tuple[float, str]]:
    unknown = set(values) - set(units)
    if unknown:
        raise KeyError(f"unlisted metrics: {sorted(unknown)}")
    return {k: (float(values.get(k, 0.0)), u) for k, u in units.items()}
