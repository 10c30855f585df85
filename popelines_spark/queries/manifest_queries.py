"""SURVEY.md §2 — the manifest (ACID lakehouse) layout under the
correctness gate: SQL-surface registration, and row-level copy-on-write
DML (DELETE / UPDATE) whose read-back must equal the plain batch query
the oracle runs.

Reference basis: the reference reaches its table state through BigQuery
load jobs + DML via bq_query (popelines/main.py:100-155, 236-243); these
queries prove the engine-native manifest layout (popelines_spark/
manifest.py, manifest_dml.py) delivers the same end states.

Scale notes: every entry lands data as multiple stats-stamped appends so
the DML's file targeting actually exercises the scan-planning path —
files whose recorded ranges miss the predicate are carried by reference,
which is the whole 100 TB story (rewrite O(hit), not O(table)).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from popelines_spark.registry import query
from popelines_spark.session import scratch_dir
from popelines_spark.queries._util import T


def _land_events(spark, sf_dir, wh, chunks=4):
    """Land events as ``chunks`` incremental appends with recorded
    event_id batch stats — disjoint ranges, so DML targeting can skip
    whole batches from the manifest alone."""
    from popelines_spark.manifest import append_manifest_table

    ev = T(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    hi = ev.agg(F.max("event_id")).collect()[0][0]
    step = (hi + chunks) // chunks
    for i in range(chunks):
        lo, up = i * step, (i + 1) * step
        append_manifest_table(
            spark, wh, "ev",
            ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < up)),
            stats_cols=["event_id"],
            batch_id=f"chunk{i}",
        )
    return hi, step


@query(
    "b_manifest_sql",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(event_id) AS BIGINT) AS id_sum
    FROM events GROUP BY event_type
    """,
)
def b_manifest_sql(spark, sf_dir):
    """The manifest layout at the SQL surface: land events as four
    stats-stamped appends, register the table via
    Pipeline.register_table(manifest=True), and aggregate THROUGH
    spark.sql over the registered view — equal to the batch rollup iff
    registration reads the committed tip exactly."""
    from popelines_spark.pipeline import Popeline

    wh = scratch_dir("manifest_sql", fresh=True)
    _land_events(spark, sf_dir, wh)
    p = Popeline(warehouse=wh, spark=spark)
    p.register_table("ev", manifest=True)
    return spark.sql(
        """
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(event_id) AS BIGINT) AS id_sum
        FROM ev GROUP BY event_type
        """
    )


@query(
    "b_manifest_delete",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(event_id) AS BIGINT) AS id_sum,
           CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null
    FROM events
    WHERE NOT COALESCE(
        event_id BETWEEN 1000 AND 1499 AND value > 0.5, FALSE)
    GROUP BY event_type
    """,
)
def b_manifest_delete(spark, sf_dir):
    """Copy-on-write DELETE on the manifest layout: rows where the
    predicate is TRUE vanish, NULL-predicate rows survive, and only the
    files whose recorded event_id range overlaps [1000, 1499] are
    rewritten — the other batches are carried by reference. Read-back ≡
    the oracle's batch DELETE-equivalent filter."""
    from popelines_spark.manifest import read_manifest_table
    from popelines_spark.manifest_dml import delete_manifest_rows

    wh = scratch_dir("manifest_del", fresh=True)
    _land_events(spark, sf_dir, wh)
    delete_manifest_rows(
        spark, wh, "ev",
        "event_id BETWEEN 1000 AND 1499 AND value > 0.5",
        prune=[("event_id", 1000, 1499)],
    )
    return (
        read_manifest_table(spark, wh, "ev")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("event_id").cast("long").alias("id_sum"),
            F.sum(F.when(F.col("value").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_null"),
        )
    )


@query(
    "b_manifest_update",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           ROUND(SUM(CASE
               WHEN event_id BETWEEN 2000 AND 2999 AND event_type = 'purchase'
               THEN value * 2 ELSE value END), 4) AS value_sum
    FROM events GROUP BY event_type
    """,
)
def b_manifest_update(spark, sf_dir):
    """Copy-on-write UPDATE on the manifest layout: purchases in one
    event_id band get value doubled; every other row — and every file
    outside the band — is untouched. Read-back ≡ the oracle's CASE
    rewrite of the same batch."""
    from popelines_spark.manifest import read_manifest_table
    from popelines_spark.manifest_dml import update_manifest_rows

    wh = scratch_dir("manifest_upd", fresh=True)
    _land_events(spark, sf_dir, wh)
    update_manifest_rows(
        spark, wh, "ev",
        {"value": "value * 2"},
        "event_id BETWEEN 2000 AND 2999 AND event_type = 'purchase'",
        prune=[("event_id", 2000, 2999)],
    )
    return (
        read_manifest_table(spark, wh, "ev")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum("value"), 4).alias("value_sum"),
        )
    )


@query(
    "s_manifest_changefeed",
    oracle="""
    WITH m AS (SELECT (max(event_id) + 4) // 4 AS step FROM events)
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(event_id) AS BIGINT) AS id_sum,
           CAST(count(DISTINCT event_id // step) AS BIGINT) AS n_versions
    FROM events, m
    GROUP BY event_type
    """,
)
def s_manifest_changefeed(spark, sf_dir):
    """Incremental STREAM over the manifest table (the changefeed twin
    of the exactly-once sink): land events as four chunked appends, then
    stream every committed version's contribution through
    readStream.format("manifest_changefeed") and aggregate — the drained
    feed must equal the batch read of the final manifest, and each
    event's _change_version must be exactly the chunk that carried it
    (the oracle recomputes the chunk from the same event_id // step
    arithmetic _land_events used)."""
    from popelines_spark.streaming.changefeed import read_changefeed
    from popelines_spark.streaming.runner import run_to_completion

    wh = scratch_dir("manifest_cf", fresh=True)
    hi, step = _land_events(spark, sf_dir, wh)
    feed = read_changefeed(spark, wh, "ev")
    agg = feed.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("event_id").cast("long").alias("id_sum"),
        # countDistinct is unsupported on streams; a collect_set's size
        # is the same number with bounded state (≤ chunk count)
        F.size(F.collect_set("_change_version")).cast("long").alias("n_versions"),
    )
    return run_to_completion(agg, "complete")


@query(
    "b_manifest_upsert",
    oracle="""
    WITH src AS (
      SELECT event_id, 'upserted' AS event_type, 999.99 AS value
      FROM events WHERE event_id % 100 = 7
      UNION ALL
      SELECT 10000000 + range AS event_id, 'inserted' AS event_type,
             1.0 AS value
      FROM range(5)),
    merged AS (
      SELECT e.event_id, e.user_id,
             COALESCE(s.event_type, e.event_type) AS event_type,
             COALESCE(s.value, e.value) AS value
      FROM events e LEFT JOIN src s ON s.event_id = e.event_id
      UNION ALL
      SELECT s.event_id, NULL AS user_id, s.event_type, s.value
      FROM src s WHERE s.event_id NOT IN (SELECT event_id FROM events))
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(event_id) AS BIGINT) AS id_sum,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(20,4))) AS DOUBLE), 2)
               AS value_sum
    FROM merged GROUP BY event_type
    """,
)
def b_manifest_upsert(spark, sf_dir):
    """MERGE into the manifest layout: matched event_ids take the
    source's values (every 100th id re-typed + re-priced), unmatched
    source rows insert, unmatched target rows — and every FILE without a
    matching key — survive untouched by reference. Read-back ≡ the
    oracle's LEFT JOIN + anti-union MERGE expansion."""
    from popelines_spark.manifest import read_manifest_table
    from popelines_spark.manifest_dml import upsert_manifest_table

    wh = scratch_dir("manifest_ups", fresh=True)
    _land_events(spark, sf_dir, wh)
    hits = (
        T(spark, sf_dir, "events")
        .where("event_id % 100 = 7")
        .select(
            "event_id",
            F.lit("upserted").alias("event_type"),
            F.lit(999.99).alias("value"),
        )
    )
    inserts = spark.range(5).select(
        (F.col("id") + 10000000).alias("event_id"),
        F.lit("inserted").alias("event_type"),
        F.lit(1.0).alias("value"),
    )
    upsert_manifest_table(
        spark, wh, "ev", hits.unionByName(inserts), keys=["event_id"]
    )
    return (
        read_manifest_table(spark, wh, "ev")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("event_id").cast("long").alias("id_sum"),
            F.round(
                F.sum(F.col("value").cast("decimal(20,4)")).cast("double"), 2
            ).alias("value_sum"),
        )
    )
