"""Run-to-completion harness for Structured Streaming queries.

The reference's incremental loop (find_last_entry + chunk_date_range +
append, popelines/main.py:208-234,137-139) is a hand-rolled micro-batch
pipeline; its Spark form is Structured Streaming. For correctness checks we
replay the static events parquet through a file source and drain it
synchronously into a memory sink (processAllAvailable), so the final state
is comparable to a batch oracle.

At 100 TB the same streaming DAGs run against Kafka/object-store sources
with checkpointing; nothing here is test-only except the memory sink.
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from popelines_spark.session import scratch_dir

_COUNTER = itertools.count()


def events_stream(spark: SparkSession, sf_dir: str, path: str | None = None) -> DataFrame:
    """readStream over the events parquet (ns→µs conversion as in
    tables.load). ``path`` overrides the source location (e.g. a scratch
    dir with multiple files for multi-micro-batch replays)."""
    src = path or os.path.join(sf_dir, "events.parquet")
    if os.path.isfile(src):
        # The file source requires a directory; expose the single parquet
        # file through a scratch dir symlink (testdata stays untouched).
        link_dir = scratch_dir(
            os.path.join("stream_src", src.strip("/").replace("/", "_"))
        )
        os.makedirs(link_dir, exist_ok=True)
        link = os.path.join(link_dir, "events.parquet")
        try:
            os.symlink(src, link)
        except FileExistsError:
            pass  # another process linked it first — same target
        src = link_dir
    raw_schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(raw_schema).parquet(src)
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    from .. import tables

    return tables._ntz_to_ltz(stream)


def replay_scratch(name: str) -> str:
    """Dir for a named replay's TRANSIENT stage files (the
    multi-micro-batch parquet stages write_replay_stages lays out),
    under the engine's scratch root; rewritten from the parquet inputs
    on every invocation, never reused across runs. r13 measured a tmpfs
    location neutral here (tools/exp_replay_scratch.py @ b9babdb: ±0.1 s,
    inside noise, all three replay queries) — unlike the per-micro-batch
    checkpoint commits, the stage files are a few large sequential
    writes the page cache already absorbs."""
    return scratch_dir(name)


def write_replay_stages(spark, scratch: str, stages) -> None:
    """Write each frame of ``stages`` as ``<i>.parquet`` under ``scratch``
    with pinned ascending mtimes (the file source triggers in mtime order)
    — the multi-micro-batch replay recipe used by s_watermark_late /
    s_join_interval_left / s_dedup_watermarked.

    r13: ONE Spark job (union + dynamic-partition write, each stage hash-
    routed to a single task so each partition dir holds exactly one file)
    instead of one coalesce(1) write job per stage — the per-stage jobs
    were pure scheduling overhead inside the timed replay setup
    (OPTIMIZATION_r13.md; ~3 jobs -> 1, bytes and file contents'
    row sets unchanged).
    """
    import glob
    import shutil

    from pyspark.sql import functions as F

    shutil.rmtree(scratch, ignore_errors=True)
    tmp = os.path.join(scratch, "_stage_all")
    union = None
    for i, df in enumerate(stages):
        part = df.withColumn("__stage", F.lit(i))
        union = part if union is None else union.unionByName(part)
    (
        union.repartition(F.col("__stage"))
        .write.partitionBy("__stage")
        .parquet(tmp)
    )
    for i in range(len(stages)):
        files = glob.glob(os.path.join(tmp, f"__stage={i}", "part-*.parquet"))
        assert len(files) == 1, f"stage {i}: expected 1 file, got {files}"
        dest = os.path.join(scratch, f"{i}.parquet")
        os.rename(files[0], dest)
        os.utime(dest, (1600000000 + i * 10,) * 2)
    shutil.rmtree(tmp)


#: State-store metrics of the most recently drained query (peak across
#: micro-batches), for perf evidence collection (VERDICT r6 next #7):
#: {"batches", "state_rows_peak", "state_bytes_peak"}. Read it right
#: after the run_to_completion call you want to measure.
LAST_STATE_METRICS: dict = {}


#: Shuffle-partition count for the replay harness's STATEFUL queries.
#: Stateful operators spawn one state-store task per shuffle partition
#: per micro-batch; at the replay's state sizes (10^2..10^5 rows) the
#: session default (32) is pure scheduling overhead — 8 keeps all 32
#: cores busy across concurrent stages while quartering the per-batch
#: task constant. PRODUCTION deployments size this to state volume
#: (state is hash-partitioned by key; the count is fixed at first
#: checkpoint) through run_to_completion(shuffle_partitions=).
STREAM_SHUFFLE_PARTITIONS = 8

#: Shuffle-partition count for STREAM-STREAM JOIN drains specifically.
#: A stream-stream join keeps TWO state stores per shuffle partition
#: (left and right side), so its per-micro-batch checkpoint constant is
#: 2 x partitions x (delta + commit files) — double every other
#: stateful operator's. r13 measured (tools/exp_stream_parts2.py @
#: b9babdb, interleaved calm-gated minima, every round won):
#: s_join_interval 2.119 -> 1.720 s and s_join_interval_left 3.801 ->
#: 3.317 s at 2 partitions vs the uniform 8, while non-join stateful
#: operators were neutral (s_cdc_latest, s_topk_windowed) or SLOWER
#: (s_session — the sessionization compute wants the width).
STREAM_JOIN_SHUFFLE_PARTITIONS = 2

#: State-store provider for the replay harness. Default "hdfs" (Spark's
#: in-JVM-heap HDFSBackedStateStoreProvider) — at replay state sizes
#: (10^2..10^5 rows) it measures faster than RocksDB, whose JNI +
#: WAL/compaction constants only pay off when state outgrows the heap
#: (measured: see BASELINE.md §Round 10 state-store sweep). PRODUCTION
#: jobs with large or long-lived state should set
#: POPELINES_STREAM_STATE_PROVIDER=rocksdb: bounded-memory state with
#: incremental checkpointing, the standard choice at 100-TB stream
#: volumes.
_PROVIDERS = {
    "hdfs": (
        "org.apache.spark.sql.execution.streaming."
        "state.HDFSBackedStateStoreProvider"
    ),
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming."
        "state.RocksDBStateStoreProvider"
    ),
}
STREAM_STATE_PROVIDER = os.environ.get(
    "POPELINES_STREAM_STATE_PROVIDER", "hdfs"
).lower()

#: Base dir for the replay harness's TRANSIENT checkpoints. Each drain
#: gets a fresh uuid subdir (no offset/state reuse across runs — every
#: invocation recomputes from the parquet inputs) deleted after the
#: drain. Default: tmpfs (/dev/shm) when present — the micro-batch loop
#: commits offsets + one delta file per (state store x partition) per
#: batch, and at replay state sizes those synchronous little writes are
#: a measurable constant of every micro-batch (OPTIMIZATION_r13.md:
#: 0.2-0.6 s/query on this host's disk). PRODUCTION streams must point
#: this at durable shared storage (object store/HDFS) — a RAM-backed
#: checkpoint cannot survive a node loss; it is correct here only
#: because the drain is a synchronous single-process replay whose
#: checkpoint is garbage the moment it returns.
STREAM_CHECKPOINT_BASE = os.environ.get(
    "POPELINES_STREAM_CHECKPOINT_DIR",
    "/dev/shm/popelines_stream_ckpt" if os.path.isdir("/dev/shm") else "",
)


def run_to_completion(
    result: DataFrame,
    output_mode: str,
    max_files_per_trigger: int | None = None,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Drain a streaming DataFrame into a memory sink; return the final
    table as a batch DataFrame. Side effect: LAST_STATE_METRICS records
    the drained query's micro-batch count and peak state-store size.

    ``shuffle_partitions`` (default STREAM_SHUFFLE_PARTITIONS) bounds the
    stateful operators' per-micro-batch task count for the duration of
    the drain; the session value is restored afterwards (batch queries
    are unaffected — the conf is captured at stream start)."""
    name = f"pls_stream_{next(_COUNTER)}_{os.getpid()}"
    # recentProgress retains only numRecentProgressUpdates entries
    # (default 100) — a replay with more micro-batches than that would
    # under-report batches/state peaks (code-review r7); raise the
    # retention well past any replay used here
    spark = result.sparkSession
    try:
        spark.conf.set(
            "spark.sql.streaming.numRecentProgressUpdates", "10000"
        )
    except Exception:
        pass  # conf locked: metrics degrade to last-100, never wrong sums
    if STREAM_STATE_PROVIDER not in _PROVIDERS:
        # validate BEFORE any conf override: raising later would leak
        # the shuffle-partition override into the session
        raise ValueError(
            f"POPELINES_STREAM_STATE_PROVIDER={STREAM_STATE_PROVIDER!r}: "
            f"use one of {sorted(_PROVIDERS)}"
        )
    n_shuffle = shuffle_partitions or STREAM_SHUFFLE_PARTITIONS
    try:
        prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    except Exception:
        prev_shuffle = None
    spark.conf.set("spark.sql.shuffle.partitions", str(n_shuffle))
    provider_conf = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = None
    if STREAM_STATE_PROVIDER != "hdfs":
        try:
            prev_provider = spark.conf.get(provider_conf)
        except Exception:
            prev_provider = None
        spark.conf.set(provider_conf, _PROVIDERS[STREAM_STATE_PROVIDER])
    # start() sits INSIDE the try: a start-time AnalysisException (e.g.
    # append mode without a watermark) must not leak the shuffle-
    # partition / state-provider overrides into the session (review r12)
    q = None
    ckpt = None
    try:
        writer = (
            result.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
        )
        if STREAM_CHECKPOINT_BASE:
            import uuid

            ckpt = os.path.join(
                STREAM_CHECKPOINT_BASE, f"{name}_{uuid.uuid4().hex}"
            )
            writer = writer.option("checkpointLocation", ckpt)
        q = writer.start()
        q.processAllAvailable()
        metrics = {
            "batches": 0,
            "state_rows_peak": 0,
            "state_bytes_peak": 0,
            "shuffle_partitions": 0,
        }
        for p in q.recentProgress:
            metrics["batches"] += 1
            for so in (p.get("stateOperators") or []):
                metrics["state_rows_peak"] = max(
                    metrics["state_rows_peak"], so.get("numRowsTotal", 0)
                )
                metrics["state_bytes_peak"] = max(
                    metrics["state_bytes_peak"], so.get("memoryUsedBytes", 0)
                )
                # evidence the harness partition override took effect
                metrics["shuffle_partitions"] = max(
                    metrics["shuffle_partitions"],
                    so.get("numShufflePartitions", 0),
                )
        LAST_STATE_METRICS.clear()
        LAST_STATE_METRICS.update(metrics)
    finally:
        if q is not None:
            q.stop()
            q.awaitTermination()
        if ckpt is not None:
            import shutil

            shutil.rmtree(ckpt, ignore_errors=True)
        if prev_shuffle is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
        if STREAM_STATE_PROVIDER != "hdfs":
            if prev_provider is not None:
                spark.conf.set(provider_conf, prev_provider)
            else:
                spark.conf.unset(provider_conf)
    return result.sparkSession.table(name)
