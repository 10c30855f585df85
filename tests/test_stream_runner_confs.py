"""Replay-harness conf discipline (streaming/runner.py).

run_to_completion drains stateful queries at STREAM_SHUFFLE_PARTITIONS
(one state-store task per shuffle partition per micro-batch — the
session's 32 was pure scheduling overhead at replay state sizes, the
round-9 "streaming ratio cluster"). Contract pinned here: the override
applies to the streamed plan, and the SESSION value is restored after
the drain so batch queries are untouched.
"""

from pyspark.sql import functions as F

from popelines_spark.streaming import runner
from tests.conftest import SF_DIR


def test_session_shuffle_partitions_restored_after_drain(spark):
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    ev = runner.events_stream(spark, SF_DIR)
    agg = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    runner.run_to_completion(agg, "complete")
    assert spark.conf.get("spark.sql.shuffle.partitions") == "32"


def test_drain_uses_reduced_partitions(spark):
    """The streamed stateful plan runs with the harness partition count:
    the state operator's reported numShufflePartitions equals the
    override, not the session conf."""
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    ev = runner.events_stream(spark, SF_DIR)
    agg = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    out = runner.run_to_completion(agg, "complete", shuffle_partitions=2)
    assert out.count() > 0
    # explicit override wins over the module default and the session conf
    assert runner.LAST_STATE_METRICS["shuffle_partitions"] == 2
    assert spark.conf.get("spark.sql.shuffle.partitions") == "32"


def test_state_provider_override_and_restore(spark, monkeypatch):
    """POPELINES_STREAM_STATE_PROVIDER=rocksdb drains with the RocksDB
    state store and restores (unsets) the session conf afterwards."""
    conf = "spark.sql.streaming.stateStore.providerClass"
    monkeypatch.setattr(runner, "STREAM_STATE_PROVIDER", "rocksdb")
    ev = runner.events_stream(spark, SF_DIR)
    agg = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    hdfs = runner.run_to_completion(agg, "complete").count()
    # restored: session conf is back to unset (get raises / returns default)
    try:
        val = spark.conf.get(conf)
    except Exception:
        val = None
    assert not val or "RocksDB" not in val
    monkeypatch.setattr(runner, "STREAM_STATE_PROVIDER", "hdfs")
    assert runner.run_to_completion(agg, "complete").count() == hdfs


def test_invalid_state_provider_fails_before_conf_override(spark, monkeypatch):
    import pytest as _pytest

    monkeypatch.setattr(runner, "STREAM_STATE_PROVIDER", "rocks-db")  # typo
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    ev = runner.events_stream(spark, SF_DIR)
    agg = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    with _pytest.raises(ValueError, match="rocks-db"):
        runner.run_to_completion(agg, "complete")
    # the session conf was never touched (validation precedes override)
    assert spark.conf.get("spark.sql.shuffle.partitions") == "32"


def test_interval_join_drains_at_join_sized_partitions(spark):
    """r13 (tools/exp_stream_parts2.py @ b9babdb): stream-stream joins
    keep TWO state stores per shuffle partition, so the two interval-join
    queries drain at STREAM_JOIN_SHUFFLE_PARTITIONS (2) — measured
    faster every interleaved round while non-join stateful drains stay
    at STREAM_SHUFFLE_PARTITIONS. The state operator's
    reported numShufflePartitions is the evidence the wiring holds."""
    import __spark_entry__ as entry

    qs = entry.queries()
    out = qs["s_join_interval"](spark, SF_DIR)
    assert out.count() > 0
    assert (
        runner.LAST_STATE_METRICS["shuffle_partitions"]
        == runner.STREAM_JOIN_SHUFFLE_PARTITIONS
    )
