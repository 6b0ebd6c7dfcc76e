"""Per-module metrics of a traced run, and what each should move.

Each entry: metric name, unit, how it is read from the per-module
table (``tracing.module_table``: per span name, the mean over calls of
every count), the end-to-end metric it should move and the workload it
should move it on. A module a workload never calls reads 0 there.

Counts come from Spark's own job, stage and SQL metrics (see
``tracing.attribute``): ``busy_s`` is task run time summed over the
span's stages; ``python_*`` come from the Python-kernel plan nodes;
``jobs`` and ``driver_s`` (wall time outside all job intervals) cover
the span with its children.
"""

from __future__ import annotations


def _get(table: dict, span: str, key: str) -> float:
    row = table.get(span, {})
    if key == "python_rows":
        return sum(v for k, v in row.items() if k.startswith("python_rows."))
    return row.get(key, 0.0)


def _ratio(table: dict, span: str, num: str, den: str) -> float:
    d = _get(table, span, den)
    return _get(table, span, num) / d if d else 0.0


def _field(span: str, key: str):
    return lambda t: _get(t, span, key)


BUILD, KNN, REFRESH = "mosaic_build", "knn_serve", "incremental_refresh"
ALL = "all"
# the workloads BENCHMARK.json lists; incremental_refresh is run by hand
LISTED = (BUILD, KNN)

# (name, unit, value, should move, on workload)
LAYERS = [
    ("job.session_s", "s", _field("job.session", "wall_s"), "setup_s", ALL),
    ("udfs.explode.busy_s", "s", _field("udfs.explode", "busy_s"), "op_s_p50,items_per_s", BUILD),
    ("udfs.explode.rows_out", "count", _field("udfs.explode", "rows_out"), "op_s_p50,items_per_s", BUILD),
    ("udfs.explode.python_rows", "count", _field("udfs.explode", "python_rows"), "op_s_p50,items_per_s", BUILD),
    ("udfs.explode.python_bytes", "B", _field("udfs.explode", "python_bytes"), "op_s_p50,items_per_s", BUILD),
    ("udfs.explode.python_s", "s", _field("udfs.explode", "python_s"), "op_s_p50,items_per_s", BUILD),
    ("ops.filter_scenes.rows_out", "count", _field("ops.filter_scenes", "rows_out"), "op_s_p50", BUILD),
    ("ops.assignments.busy_s", "s", _field("ops.assignments", "busy_s"), "op_s_p50,items_per_s", BUILD),
    ("ops.assignments.shuffle_records", "count", _field("ops.assignments", "shuffle_records"), "op_s_p50", BUILD),
    ("ops.assignments.shuffle_bytes", "B", _field("ops.assignments", "shuffle_bytes"), "op_s_p50", BUILD),
    ("ops.assignments.rows_out", "count", _field("ops.assignments", "rows_out"), "items_per_s", BUILD),
    ("ops.mosaic_bounds.busy_s", "s", _field("ops.mosaic_bounds", "busy_s"), "op_s_p50", BUILD),
    ("mosaic.collect_rows", "count", _field("mosaic.collect", "collect_rows"), "op_s_p50", BUILD),
    ("mosaic.driver_s", "s", _field("mosaic.build_mosaic", "driver_s"), "op_s_p50", BUILD),
    ("mosaic.jobs", "count", _field("mosaic.build_mosaic", "jobs"), "op_s_p50", BUILD),
    ("ops.knn_index.busy_s", "s", _field("ops.knn_index", "busy_s"), "setup_s", KNN),
    ("ops.knn_index.level", "count", _field("ops.knn_index", "level"), "setup_s,op_s_p50", KNN),
    ("ops.knn_index_save.busy_s", "s", _field("ops.knn_index_save", "busy_s"), "setup_s", KNN),
    ("ops.knn_index_save.bytes_written", "B", _field("ops.knn_index_save", "bytes_written"), "setup_s", KNN),
    ("ops.knn_index_load.busy_s", "s", _field("ops.knn_index_load", "busy_s"), "setup_s", KNN),
    ("ops.knn_join.small.jobs", "count", _field("ops.knn_join.small", "jobs"), "op_s_p50", KNN),
    ("ops.knn_join.small.driver_s", "s", _field("ops.knn_join.small", "driver_s"), "op_s_p50", KNN),
    ("ops.knn_join.small.files_read", "count", _field("ops.knn_join.small", "files_read"), "op_s_p50", KNN),
    ("ops.knn_join.small.files_total", "count", _field("ops.knn_index_load", "files_total"), "op_s_p50", KNN),
    ("ops.knn_join.bulk.candidate_pairs", "count",
     _field("ops.knn_join.bulk", "python_rows.MapInPandas"), "items_per_s", KNN),
    ("ops.knn_join.bulk.python_rows", "count", _field("ops.knn_join.bulk", "python_rows"), "items_per_s", KNN),
    ("ops.knn_join.bulk.python_s", "s", _field("ops.knn_join.bulk", "python_s"), "items_per_s", KNN),
    ("ops.knn_join.bulk.shuffle_bytes", "B", _field("ops.knn_join.bulk", "shuffle_bytes"), "items_per_s", KNN),
    ("ops.knn_join.bulk.scored_per_result", "ratio",
     lambda t: _ratio(t, "ops.knn_join.bulk", "python_rows.MapInArrow", "result_rows"), "items_per_s", KNN),
    ("streaming.ingest.busy_s", "s", _field("streaming.ingest", "busy_s"), "op_s_p50", REFRESH),
    ("streaming.ingest.python_rows", "count", _field("streaming.ingest", "python_rows"), "op_s_p50", REFRESH),
    ("streaming.ingest.python_s", "s", _field("streaming.ingest", "python_s"), "op_s_p50", REFRESH),
    ("streaming.ingest.bytes_written", "B", _field("streaming.ingest", "bytes_written"), "op_s_p50", REFRESH),
    ("streaming.ingest.files_written", "count", _field("streaming.ingest", "files_written"), "op_s_p50", REFRESH),
    ("streaming.finalize.busy_s", "s", _field("streaming.finalize", "busy_s"), "op_s_p50", REFRESH),
    ("streaming.finalize.shuffle_bytes", "B", _field("streaming.finalize", "shuffle_bytes"), "op_s_p50", REFRESH),
    ("streaming.finalize.files_read", "count", _field("streaming.finalize", "files_read"), "op_s_p50", REFRESH),
    ("streaming.finalize.rows_read", "count", _field("streaming.finalize", "rows_read"), "op_s_p50", REFRESH),
    ("streaming.dedup.busy_s", "s", _field("streaming.dedup", "busy_s"), "items_per_s", REFRESH),
    ("streaming.dedup.wall_s", "s", _field("streaming.dedup", "wall_s"), "items_per_s", REFRESH),
    ("streaming.dedup.rows_read", "count", _field("streaming.dedup", "rows_read"), "items_per_s", REFRESH),
    ("streaming.dedup.pairs_emitted", "count", _field("streaming.dedup", "pairs_emitted"), "items_per_s", REFRESH),
    ("streaming.compact.wall_s", "s", _field("streaming.compact", "wall_s"), "op_s_p50", REFRESH),
    ("streaming.compact.busy_s", "s", _field("streaming.compact", "busy_s"), "op_s_p50", REFRESH),
    ("streaming.compact.bytes_rewritten", "B", _field("streaming.compact", "bytes_written"), "op_s_p50", REFRESH),
]


def per_layer(table: dict, workload: str) -> dict[str, tuple[float, str]]:
    """The metrics of every listed workload (the set BENCHMARK.json
    names), and on incremental_refresh also its own."""
    keep = (ALL, *LISTED) + ((REFRESH,) if workload == REFRESH else ())
    return {name: (float(value(table)), unit) for name, unit, value, _, on in LAYERS if on in keep}
