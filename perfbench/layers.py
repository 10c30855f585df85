"""Per-layer metrics of a traced run: from its first traced pass, and
for ``llm.ensure_index_s`` from the index builds after the passes.

A layer the workload never calls reads 0: no time spent, no jobs run.
Spark counters come from the event log, attributed to operations by job
group or time window (spans.py); see README.md for which end-to-end
metric each should move.
"""

from __future__ import annotations

from queries import QUERIES

_QUERY_FIELDS = (
    ("wall_s", "s"), ("jobs", "count"), ("driver_gap_s", "s"),
    ("task_s", "s"), ("gc_s", "s"), ("shuffle_bytes", "bytes"),
)

#: Layer spans recorded by the ingest workload around the program's calls.
_ETL_SPANS = {
    "pipeline.write_to_json_s": "pipeline.write_to_json",
    "io.read_ndjson_s": "io.read_ndjson",
    "manifest.append_s": "manifest.append",
    "manifest.retry_noop_s": "manifest.retry_noop",
    "manifest_dml.upsert_s": "manifest_dml.upsert",
    "manifest_dml.update_s": "manifest_dml.update",
    "manifest_dml.delete_s": "manifest_dml.delete",
    "incremental.find_last_entry_s": "incremental.find_last_entry",
    "changefeed.drain_s": "changefeed.drain",
}

#: The index builds of the kNN queries, outside the passes (``queries``).
_INDEX_OPS = {"index.ivf", "index.lsh", "index.exact"}
_INDEX_SPANS = ("llm.ivf_build", "llm.lsh_build", "llm.exact_topk")


def _op_counters(spans, groups: dict, op_id: str) -> dict:
    start, end = spans.op_window(op_id)
    g = groups.get(op_id, {})
    wall = end - start
    return {
        "wall_s": wall,
        "jobs": g.get("jobs", 0),
        "driver_gap_s": max(0.0, wall - g.get("busy_s", 0.0)),
        "task_s": g.get("task_s", 0.0),
        "gc_s": g.get("gc_s", 0.0),
        "shuffle_bytes": g.get("shuffle_bytes", 0),
    }


def per_layer(spans, groups, traced, get_spark_s, rss_mb, overhead_pct):
    """``traced`` is the traced pass: its operation ids and the extra
    counters the workload returned for it (none for ``queries``)."""
    ops = traced["ops"]
    out = {
        "session.get_spark_s": (get_spark_s, "s"),
        "process.peak_rss_mb": (rss_mb, "MB"),
        "trace.overhead_pct": (overhead_pct, "%"),
    }
    for metric, span in _ETL_SPANS.items():
        out[metric] = (spans.seconds(span, ops), "s")
    out["llm.ensure_index_s"] = (
        sum(spans.seconds(s, _INDEX_OPS) for s in _INDEX_SPANS), "s"
    )

    counters = {op: _op_counters(spans, groups, op) for op in ops}
    for field, unit in _QUERY_FIELDS:
        out[f"pass.{field}"] = (
            sum(c[field] for c in counters.values()), unit
        )

    e = traced["extra"] or None
    out.update({
        "etl.ingest_rows_per_s": (
            e["ingest_rows"] / e["ingest_s"] if e else 0.0, "rows/s"),
        "etl.batch_commit_s": (e["batch_commit_s"] if e else 0.0, "s"),
        "etl.dml_s": (e["dml_s"] if e else 0.0, "s"),
        "etl.changefeed_rows_per_s": (
            e["feed_rows"] / e["drain_s"] if e else 0.0, "rows/s"),
        "etl.sql_query_s": (e["sql_query_s"] if e else 0.0, "s"),
        "manifest.meta_bytes_per_commit": (
            e["meta_bytes_per_commit"] if e else 0.0, "bytes"),
        "manifest_dml.rows_rewritten_per_row_changed": (
            e["rewritten_per_changed"] if e else 0.0, "ratio"),
    })

    for name in QUERIES:
        c = next(
            (c for op, c in counters.items() if op.endswith(f".{name}")), {}
        )
        for field, unit in _QUERY_FIELDS:
            out[f"{name}.{field}"] = (c.get(field, 0.0), unit)
    return out
