"""SURVEY.md §2 B.1 — scans, sources, sinks.

Reference basis: NEWLINE_DELIMITED_JSON load (popelines/main.py:115), NDJSON
sink (popelines/main.py:176-178), schema inference (popelines/main.py:62-75),
append/truncate dispositions (popelines/main.py:135-139), CTAS emission
(popelines/main.py:299), list[dict] batches (popelines/main.py:177).

Sink queries are self-contained round-trips: write to a scratch dir, read
back, compare against the oracle run directly on the source table. Scratch
paths are per-query and rewritten on each run.

Scale notes: all sinks are partition-parallel writers (one file per task);
the NDJSON round-trips demonstrate the load path whose 100 TB form is
identical code over object-store URIs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from popelines_spark.registry import query
from popelines_spark.session import scratch_dir
from popelines_spark.queries._util import T
from popelines_spark import io as pio


_DOCS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


@query("b_scan_parquet", oracle="SELECT * FROM nation")
def b_scan_parquet(spark, sf_dir):
    """Columnar table scan — the FROM of every emitted query (main.py:229,304)."""
    return T(spark, sf_dir, "nation")


@query(
    "b_scan_ndjson",
    oracle="SELECT * FROM documents",
)
def b_scan_ndjson(spark, sf_dir):
    """NDJSON scan with explicit schema (NEWLINE_DELIMITED_JSON load path):
    documents → NDJSON → read back with declared schema."""
    path = scratch_dir("scan_ndjson", fresh=True)
    pio.write_ndjson(T(spark, sf_dir, "documents"), path)
    return pio.read_ndjson(spark, path, schema=_DOCS_SCHEMA)


@query(
    "b_scan_infer",
    oracle="SELECT doc_id, lang, n_chars, text, source FROM documents",
)
def b_scan_infer(spark, sf_dir):
    """NDJSON scan with inferred schema (generate-schema equivalent,
    popelines/main.py:62-75): ints infer as BIGINT, strings as STRING —
    matching the source types exactly for this table."""
    path = scratch_dir("scan_infer", fresh=True)
    pio.write_ndjson(T(spark, sf_dir, "documents"), path)
    inferred = pio.infer_ndjson_schema(spark, path)
    return pio.read_ndjson(spark, path, schema=inferred).select(
        "doc_id", "lang", "n_chars", "text", "source"
    )


@query(
    "b_sink_ndjson",
    oracle="SELECT event_id, user_id, event_type, value FROM events",
)
def b_sink_ndjson(spark, sf_dir):
    """NDJSON sink round-trip (popelines/main.py:176-178). Doubles survive
    exactly: Spark's JSON writer emits shortest round-trip representation."""
    path = scratch_dir("sink_ndjson", fresh=True)
    df = T(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    pio.write_ndjson(df, path)
    return pio.read_ndjson(
        spark, path, schema="event_id long, user_id long, event_type string, value double"
    )


@query(
    "b_sink_append",
    oracle="SELECT * FROM documents UNION ALL SELECT * FROM documents",
)
def b_sink_append(spark, sf_dir):
    """WRITE_APPEND disposition (popelines/main.py:137-139): overwrite once,
    append once, read back → exactly two copies."""
    wh = scratch_dir("sink_append_wh", fresh=True)
    df = T(spark, sf_dir, "documents")
    pio.write_table(df, wh, "docs", append=False)
    pio.write_table(df, wh, "docs", append=True)
    return pio.read_table(spark, wh, "docs")


@query("b_sink_overwrite", oracle="SELECT * FROM documents")
def b_sink_overwrite(spark, sf_dir):
    """WRITE_TRUNCATE disposition (popelines/main.py:135-136): two
    overwrites → exactly one copy."""
    wh = scratch_dir("sink_overwrite_wh", fresh=True)
    df = T(spark, sf_dir, "documents")
    pio.write_table(df, wh, "docs", append=False)
    pio.write_table(df, wh, "docs", append=False)
    return pio.read_table(spark, wh, "docs")


@query(
    "b_ctas",
    oracle="""
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS total
    FROM orders GROUP BY o_orderstatus
    """,
)
def b_ctas(spark, sf_dir):
    """CREATE TABLE AS SELECT (popelines/main.py:299 emits CREATE OR REPLACE
    TABLE … AS SELECT). Spark SQL CTAS into an explicit parquet location;
    result read back through the catalog."""
    loc = scratch_dir("ctas_orders_summary", fresh=True)
    T(spark, sf_dir, "orders").createOrReplaceTempView("pls_orders_ctas")
    spark.sql("DROP TABLE IF EXISTS pls_ctas_summary")
    spark.sql(
        f"""
        CREATE TABLE pls_ctas_summary USING parquet LOCATION '{loc}' AS
        SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS total
        FROM pls_orders_ctas GROUP BY o_orderstatus
        """
    )
    return spark.table("pls_ctas_summary")


@query(
    "b_source_rows",
    oracle="""
    SELECT * FROM (VALUES
      (CAST(1 AS BIGINT), 'alpha', CAST(1.5  AS DOUBLE)),
      (CAST(2 AS BIGINT), 'beta',  CAST(NULL AS DOUBLE)),
      (CAST(3 AS BIGINT), 'gamma', CAST(2.25 AS DOUBLE))
    ) t(id, name, score)
    """,
)
def b_source_rows(spark, sf_dir):
    """Literal in-memory rows — the list[dict] batch source
    (popelines/main.py:177,250-262)."""
    return spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", None), (3, "gamma", 2.25)],
        "id long, name string, score double",
    )


@query(
    "b_sink_manifest",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(event_id) AS BIGINT) AS id_sum
    FROM events GROUP BY event_type
    """,
)
def b_sink_manifest(spark, sf_dir):
    """The ACID manifest layout under the correctness gate: the events
    feed lands as TWO incremental appends (even/odd event ids — old
    files never rewritten), the second delivered TWICE with the same
    batch id (exactly-once no-op), then the table is read back through
    the committed manifest and aggregated — equal to the plain batch
    rollup the oracle runs iff no row was lost, duplicated, or torn.
    popelines_spark/manifest.py carries the protocol."""
    from popelines_spark.manifest import (
        append_manifest_table,
        read_manifest_table,
    )

    scratch = scratch_dir("manifest_sink", fresh=True)
    ev = T(spark, sf_dir, "events").select("event_id", "event_type")
    append_manifest_table(
        spark, scratch, "ev", ev.filter("event_id % 2 = 0"), batch_id="even"
    )
    append_manifest_table(
        spark, scratch, "ev", ev.filter("event_id % 2 = 1"), batch_id="odd"
    )
    # crash-replay: same batch id → no-op
    append_manifest_table(
        spark, scratch, "ev", ev.filter("event_id % 2 = 1"), batch_id="odd"
    )
    return (
        read_manifest_table(spark, scratch, "ev")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("event_id").cast("long").alias("id_sum"),
        )
    )
