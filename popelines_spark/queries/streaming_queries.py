"""SURVEY.md §2 B.9 — Structured Streaming over the events shape.

Each query replays the static events parquet through a file-source stream,
drains it to completion, and returns the final state; oracles are the
batch-equivalent DuckDB aggregations (SURVEY.md §2 B.9 oracle column).

Output-mode choices: grouped aggregates drain in ``complete`` mode (finite
replay → final state == batch result); dedup drains in ``append`` (row
emission is exactly-once per key). s_watermark_late is rows-only: its whole
point is dropping late rows, which has no batch equivalent.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from popelines_spark.registry import query
from popelines_spark.queries._util import T, sql_dsum
from popelines_spark.streaming import ops
from popelines_spark.streaming.runner import events_stream, run_to_completion


@query(
    "s_tumbling",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS win_start,
           CAST(count(*) AS BIGINT) AS n,
           {sql_dsum('value')} AS sum_value
    FROM events GROUP BY 1
    """,
)
def s_tumbling(spark, sf_dir):
    ev = events_stream(spark, sf_dir)
    return run_to_completion(ops.tumbling_counts(ev, "1 hour"), "complete")


@query(
    "s_sliding",
    oracle="""
    WITH starts AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts)
               - unnest([INTERVAL '0 minutes', INTERVAL '30 minutes'])
               AS win_start
      FROM events)
    SELECT win_start, CAST(count(*) AS BIGINT) AS n
    FROM starts GROUP BY win_start
    """,
)
def s_sliding(spark, sf_dir):
    """1h windows sliding every 30min — each event lands in exactly two
    windows; the oracle materializes both starts per event."""
    ev = events_stream(spark, sf_dir)
    return run_to_completion(ops.sliding_counts(ev, "1 hour", "30 minutes"), "complete")


@query(
    "s_session",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    numbered AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sess
      FROM flagged)
    SELECT user_id, min(ts) AS session_start,
           CAST(count(*) AS BIGINT) AS n_events
    FROM numbered GROUP BY user_id, sess
    """,
)
def s_session(spark, sf_dir):
    """Per-user session windows (30-min gap). Oracle is the classic
    gaps-and-islands rewrite; Spark merges events whose gap is < 30min, so
    the oracle starts a new session at gap >= 30min."""
    ev = events_stream(spark, sf_dir)
    return run_to_completion(ops.session_counts(ev, "30 minutes"), "complete")


@query(
    "s_watermark_late",
    oracle="""
    WITH m AS (SELECT max(ts) AS mx FROM events),
    bulk AS (SELECT ts FROM events, m WHERE ts >= mx - INTERVAL 6 HOUR)
    SELECT date_trunc('hour', ts) AS win_start,
           CAST(count(*) AS BIGINT) AS n
    FROM bulk, m
    GROUP BY win_start, m.mx
    HAVING win_start + INTERVAL 1 HOUR <= m.mx - INTERVAL 10 MINUTE
    """,
)
def s_watermark_late(spark, sf_dir):
    """Late-data drop, hash-checked. Replay is THREE files — the 6-hour
    bulk, a one-row nudge at the stream max, then stragglers (every 5th
    bulk event shifted 2h earlier) — because of the pinned one-batch-lag
    semantics (tests/test_streaming_watermark.py): the watermark computed
    from batch N takes effect in batch N+1 and state eviction runs at
    batch END, so a straggler arriving in the FIRST batch after the
    advance still merges. With the nudge batch in between, batch 2's
    stragglers all hit evicted-or-finalized windows and are DROPPED —
    every one of them, deterministically — so the append output is a pure
    function of the event times: hourly bulk counts for windows finalized
    by the watermark (window end ≤ max ts − 10 min), which is exactly
    what the oracle computes. The withheld unfinalized tail window and
    the dropped stragglers are what distinguish this from s_tumbling."""
    from popelines_spark.streaming.runner import (
        replay_scratch,
        write_replay_stages,
    )

    scratch = replay_scratch("late_events")
    ev = T(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]  # driver scalar: test setup
    bulk = ev.filter(F.col("ts") >= F.lit(max_ts) - F.expr("interval 6 hours"))
    nudge = bulk.filter(F.col("ts") == F.lit(max_ts)).limit(1)
    late = bulk.filter(F.col("event_id") % 5 == 0).withColumn(
        "ts", F.col("ts") - F.expr("interval 2 hours")
    )
    # r13: one union write job instead of three coalesce(1) jobs (runner
    # helper; mtime-pinned trigger order unchanged)
    write_replay_stages(spark, scratch, (bulk, nudge, late))

    raw = spark.read.parquet(os.path.join(scratch, "0.parquet"))
    stream = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(scratch)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("win_start"), "n")
    )
    return run_to_completion(agg, "append")


@query(
    "s_dedup_stream",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def s_dedup_stream(spark, sf_dir):
    ev = events_stream(spark, sf_dir)
    return run_to_completion(
        ops.stream_distinct(ev, ["user_id", "event_type"]), "append"
    )


@query(
    "s_custom_state",
    oracle="""
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(20,4))) * 100 AS BIGINT)
             AS total_cents,
           CAST(epoch_us(max(ts)) AS BIGINT) AS last_ts_us
    FROM events GROUP BY user_id
    """,
)
def s_custom_state(spark, sf_dir):
    """Custom stateful operator (applyInPandasWithState): per-user running
    (n_events, total_cents, high-water ts) kept in the state store and
    emitted per micro-batch — the reference's re-query-the-table watermark
    loop (popelines/main.py:225-234) as true incremental state.

    Hash-checked via the FINAL-STATE invariant: intermediate emissions
    depend on micro-batch boundaries, but each user's LAST emission (the
    one with the max running n_events — strictly increasing, so
    unambiguous) is a pure function of the event set because the state
    accumulates in integer cents. Keeping only those rows makes the
    result batch-split-invariant and equal to the batch rollup the oracle
    computes."""
    from popelines_spark.operators.keyed import keep_first
    from popelines_spark.streaming.stateful import running_user_totals

    ev = events_stream(spark, sf_dir)
    emissions = run_to_completion(running_user_totals(ev), "update")
    final = keep_first(
        emissions, keys=["user_id"],
        order=[F.col("n_events").desc()],
    )
    return final.select("user_id", "n_events", "total_cents", "last_ts_us")


@query(
    "s_incremental_max",
    oracle="SELECT max(ts) AS max_ts FROM events",
)
def s_incremental_max(spark, sf_dir):
    """The high-water mark (find_last_entry, popelines/main.py:229) as
    incrementally-maintained streaming state."""
    ev = events_stream(spark, sf_dir)
    return run_to_completion(ops.running_max(ev, "ts"), "complete")


@query(
    "s_join_interval",
    oracle="""
    SELECT e.event_id AS err_id, p.event_id AS pur_id, p.ts AS pur_ts
    FROM events e JOIN events p
      ON e.user_id = p.user_id
     AND p.ts BETWEEN e.ts - INTERVAL 1 HOUR AND e.ts
    WHERE e.event_type = 'error' AND p.event_type = 'purchase'
    """,
)
def s_join_interval(spark, sf_dir):
    """Stream-stream interval join: purchases within the hour before each
    error, per user. Replaying the full log in order makes the streaming
    result equal the batch join (no rows fall behind the watermark), so the
    oracle is exact — the state-cleanup bound is what the streaming form
    adds at scale."""
    err = events_stream(spark, sf_dir).filter(
        F.col("event_type") == "error"
    ).select(F.col("event_id").alias("err_id"), "user_id", "ts")
    pur = events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    ).select(
        F.col("event_id").alias("pur_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("pur_ts"),
    )
    joined = ops.stream_interval_join(
        err, pur, "user_id", "p_user_id", "ts", "pur_ts", lookback="1 hour"
    )
    # r13: stream-stream joins keep TWO state stores per shuffle
    # partition, so the drain uses the join-sized partition count
    # (runner.STREAM_JOIN_SHUFFLE_PARTITIONS — measured,
    # results partitioning-invariant).
    from popelines_spark.streaming.runner import STREAM_JOIN_SHUFFLE_PARTITIONS

    return run_to_completion(
        joined.select("err_id", "pur_id", "pur_ts"), "append",
        shuffle_partitions=STREAM_JOIN_SHUFFLE_PARTITIONS,
    )


@query(
    "s_cdc_latest",
    oracle="""
    WITH mx AS (SELECT user_id, max(ts) AS mt FROM events GROUP BY user_id)
    SELECT e.user_id, e.ts AS last_ts, e.event_type AS last_type,
           e.value AS last_value
    FROM events e JOIN mx ON e.user_id = mx.user_id AND e.ts = mx.mt
    """,
)
def s_cdc_latest(spark, sf_dir):
    """CDC materialization: treat the event stream as a change feed keyed
    by user and maintain each key's LATEST row — the streaming
    upsert/compaction pattern (the streaming twin of b_merge_upsert, and
    what a warehouse MERGE on a change feed converges to).

    One stateful aggregation: max of the (ts, type, value) struct — struct
    comparison is ts-first, and (user_id, ts) is unique in the testdata,
    so the winner is exact. State per key is ONE struct (bounded), update
    mode emits only keys whose latest changed in the micro-batch; each
    user's final emission is the true latest row regardless of how the
    replay splits into batches (running max is batch-split-invariant),
    which is what the oracle computes. keep_first on emission ts collapses
    the per-batch history; identical re-emissions collapse harmlessly."""
    from popelines_spark.operators.keyed import keep_first

    ev = events_stream(spark, sf_dir)
    latest = ev.groupBy("user_id").agg(
        F.max(F.struct("ts", "event_type", "value")).alias("__last")
    )
    emissions = run_to_completion(
        latest.select(
            "user_id",
            F.col("__last.ts").alias("last_ts"),
            F.col("__last.event_type").alias("last_type"),
            F.col("__last.value").alias("last_value"),
        ),
        "update",
    )
    return keep_first(
        emissions, keys=["user_id"], order=[F.col("last_ts").desc()]
    )


@query(
    "s_topk_windowed",
    oracle="""
    WITH c AS (SELECT date_trunc('hour', ts) AS win_start, event_type,
                      CAST(count(*) AS BIGINT) AS n
               FROM events GROUP BY 1, 2),
    r AS (SELECT win_start, event_type, n,
                 row_number() OVER (PARTITION BY win_start
                                    ORDER BY n DESC, event_type) AS rk
          FROM c)
    SELECT win_start, event_type, n, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 3
    """,
)
def s_topk_windowed(spark, sf_dir):
    """Streaming windowed top-k: the stream maintains per-(hour, type)
    counts (complete mode, watermark-bounded state); the top-3 rank per
    window is a batch window over the drained table — the agg-in-stream /
    rank-at-serve split (streaming/ops.py:windowed_type_counts)."""
    from pyspark.sql.window import Window as W

    ev = events_stream(spark, sf_dir)
    counts = run_to_completion(ops.windowed_type_counts(ev, "1 hour"), "complete")
    w = W.partitionBy("win_start").orderBy(F.col("n").desc(), "event_type")
    return (
        counts.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("win_start", "event_type", "n", "rk")
    )


@query(
    "s_rate_alert",
    oracle="""
    WITH w AS (SELECT date_trunc('hour', ts) AS win_start,
                      CAST(count(*) AS BIGINT) AS n_errors
               FROM events WHERE event_type = 'error' GROUP BY 1)
    SELECT win_start, n_errors FROM w WHERE n_errors >= 5
    """,
)
def s_rate_alert(spark, sf_dir):
    """Streaming threshold alerting: hourly error counts maintained by
    the stream (watermark-bounded state), alert rows emitted where the
    window's count crosses the threshold — the alerting primitive every
    ops pipeline attaches to a metrics stream. The threshold filter runs
    on the drained table here (complete mode); in production it sits
    directly on the update stream feeding a sink."""
    ev = events_stream(spark, sf_dir)
    counts = (
        ev.filter(F.col("event_type") == "error")
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count("*").alias("n_errors"))
        .select(F.col("win.start").alias("win_start"), "n_errors")
    )
    drained = run_to_completion(counts, "complete")
    return drained.filter(F.col("n_errors") >= 5)


@query(
    "s_join_interval_left",
    oracle="""
    WITH err AS (SELECT * FROM events WHERE event_type = 'error'),
         pur AS (SELECT * FROM events WHERE event_type = 'purchase')
    SELECT err.event_id AS err_id, p.event_id AS pur_id,
           p.ts AS pur_ts
    FROM err LEFT JOIN pur p
      ON err.user_id = p.user_id
     AND p.ts BETWEEN err.ts - INTERVAL 1 HOUR AND err.ts
    """,
)
def s_join_interval_left(spark, sf_dir):
    """Stream-stream LEFT OUTER interval join: purchases within the hour
    before each error, AND every error with no such purchase emitted
    with NULLs — the alerting shape ("errors with no recent purchase
    activity") that the inner join (s_join_interval) cannot express.

    The outer semantics are watermark-driven: an unmatched error row is
    withheld until the watermark proves no matching purchase can still
    arrive. A finite replay therefore needs the sentinel recipe: file 1
    = the real log, files 2-3 = far-future sentinel rows passing BOTH
    type filters (one error + one purchase each), so the watermark
    advances past all real data under the pinned one-batch-lag
    semantics (tests/test_streaming_watermark.py) and the unmatched
    tail flushes deterministically. Sentinels are filtered from the
    output by their negative ids, making the append result exactly the
    batch LEFT JOIN the oracle runs."""
    from popelines_spark.streaming.runner import (
        replay_scratch,
        write_replay_stages,
    )

    scratch = replay_scratch("outer_join_events")
    ev = T(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]  # driver scalar: replay setup
    far = F.lit(max_ts) + F.expr("interval 30 days")

    def sentinels(base_id):
        return (
            ev.limit(1)
            .select(
                F.lit(base_id).cast("long").alias("event_id"),
                far.alias("ts"),
                F.lit(-1).cast("long").alias("user_id"),
                F.explode(
                    F.array(F.lit("error"), F.lit("purchase"))
                ).alias("event_type"),
                F.lit(0.0).alias("value"),
                F.lit(None).cast("string").alias("props"),
            )
        )

    write_replay_stages(
        spark, scratch,
        (ev.select("event_id", "ts", "user_id", "event_type", "value",
                   "props"),
         sentinels(-1), sentinels(-2)),
    )

    raw = spark.read.parquet(os.path.join(scratch, "0.parquet"))
    stream = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(scratch)
    )
    err = stream.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), "user_id", "ts"
    )
    pur = stream.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pur_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("pur_ts"),
    )
    joined = ops.stream_interval_join(
        err, pur, "user_id", "p_user_id", "ts", "pur_ts",
        lookback="1 hour", how="left_outer",
    )
    # r13: join-sized drain partitions (see s_join_interval note).
    from popelines_spark.streaming.runner import STREAM_JOIN_SHUFFLE_PARTITIONS

    out = run_to_completion(
        joined.select("err_id", "pur_id", "pur_ts"), "append",
        shuffle_partitions=STREAM_JOIN_SHUFFLE_PARTITIONS,
    )
    return out.where(F.col("err_id") >= 0).select(
        "err_id",
        "pur_id",
        # sentinel purchases can match nothing real (user_id -1), but a
        # real error can never join a sentinel purchase (far-future ts
        # outside every lookback window) — only the sentinel err rows
        # need dropping
        "pur_ts",
    )


@query(
    "s_dedup_watermarked",
    oracle="""
    WITH m AS (SELECT max(ts) AS mx FROM events)
    SELECT DISTINCT user_id, event_type
    FROM events, m WHERE ts >= mx - INTERVAL 6 HOUR
    """,
)
def s_dedup_watermarked(spark, sf_dir):
    """Streaming dedup with BOUNDED state: dropDuplicatesWithinWatermark
    keeps a key's state only until the watermark passes its event time +
    delay — the 100 TB-stream-safe spelling of s_dedup_stream, whose
    plain dropDuplicates grows state forever.

    Replay = the s_watermark_late 3-file recipe (6-hour bulk, nudge at
    the stream max, then 2-hour-early straggler copies). Empirically
    pinned semantics this entry encodes (prototyped before
    registration): rows BELOW the watermark are dropped BEFORE the
    dedup operator — the stragglers never re-emit even where their
    key's state has expired — so the append output is exactly the
    distinct key set of the 6-hour bulk, which is what the oracle
    computes. The state-store peak is bounded by keys active within the
    watermark horizon (vs the full-history key set in s_dedup_stream;
    both recorded in BASELINE.md)."""
    from popelines_spark.streaming.runner import (
        replay_scratch,
        write_replay_stages,
    )

    scratch = replay_scratch("wm_dedup_events")
    ev = T(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]  # driver scalar: replay setup
    bulk = ev.filter(
        F.col("ts") >= F.lit(max_ts) - F.expr("interval 6 hours")
    )
    nudge = bulk.filter(F.col("ts") == F.lit(max_ts)).limit(1)
    late = bulk.filter(F.col("event_id") % 5 == 0).withColumn(
        "ts", F.col("ts") - F.expr("interval 2 hours")
    )
    write_replay_stages(spark, scratch, (bulk, nudge, late))

    raw = spark.read.parquet(os.path.join(scratch, "0.parquet"))
    stream = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(scratch)
    )
    out = (
        stream.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_to_completion(out, "append")
