"""Names, units and directions of every metric the benchmark prints."""

from __future__ import annotations

from .trace import COMMON, LAYERS

#: (name, unit, better) of the end-to-end metrics, printed with --trace 0
END_TO_END = (
    ("conflate_s", "s", "lower"),
    ("rows_per_s", "1/s", "higher"),
    ("setup_s", "s", "lower"),
    ("jvm_peak_rss_mb", "MB", "lower"),
)

_COMMON_UNITS = dict(
    wall_s="s", task_s="s", jobs="count", tasks="count", failed_tasks="count",
    shuffle_write_bytes="B", spill_bytes="B", task_skew="ratio", rows_out="rows",
)

#: layer-specific extras: (name, unit, better)
EXTRAS = (
    ("operators.dedup.dropped_ref", "rows", "higher"),
    ("operators.dedup.dropped_spatial", "rows", "higher"),
    ("operators.candidates.pairs", "count", "lower"),
    ("operators.candidates.pairs_per_point", "ratio", "lower"),
    ("operators.match.rounds", "count", "lower"),
    ("operators.match.deferred_pairs", "count", "lower"),
    ("operators.match.round0_commit_ratio", "ratio", "higher"),
    ("operators.match.salt_splits", "count", "lower"),
    ("operators.match.max_kernel_pairs", "count", "lower"),
    ("operators.match.kernel_cpu_s", "s", "lower"),
    ("operators.match.kernel_max_s", "s", "lower"),
    ("operators.match.match_yield", "ratio", "higher"),
    ("operators.changes.tiles_s", "s", "lower"),
    ("operators.changes.osc_s", "s", "lower"),
    ("operators.changes.geojson_s", "s", "lower"),
    ("operators.changes.osc_bytes", "B", "lower"),
    ("plans.lineage.write_s", "s", "lower"),
    ("plans.lineage.bytes_written", "B", "lower"),
    ("plans.lineage.read_s", "s", "lower"),
    ("plans.lineage.stages_resumed", "count", "higher"),
    ("plans.lineage.resume_s", "s", "lower"),
    ("plans.pipeline.self_s", "s", "lower"),
    ("plans.pipeline.persisted_rdds", "count", "lower"),
    ("plans.pipeline.retained_heap_mb", "MB", "lower"),
    ("plans.pipeline.trace_overhead_s", "s", "lower"),
)


def _common_better(layer: str, k: str) -> str:
    if k == "rows_out":
        return "lower" if layer == "operators.candidates" else "higher"
    return "lower"


#: (name, unit, better) of the per-layer metrics, printed with --trace 1
PER_LAYER = tuple(
    (f"{layer}.{k}", _COMMON_UNITS[k], _common_better(layer, k))
    for layer in LAYERS for k in COMMON
) + EXTRAS
