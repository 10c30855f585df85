"""Manifest changefeed source (streaming/changefeed.py): version-diff
incremental reads, checkpointed restart without duplication, compaction
invisibility, replace commits surfacing as updates."""

import itertools
import os

from pyspark.sql import functions as F

from popelines_spark.manifest import (
    append_manifest_table,
    compact_manifest_table,
)
from popelines_spark.manifest_dml import update_manifest_rows
from popelines_spark.streaming.changefeed import read_changefeed

_N = itertools.count()


def _mk(spark, lo, n, tag):
    return spark.range(lo, lo + n).select(
        F.col("id"), F.lit(tag).alias("tag")
    )


def _drain(spark, feed, ckpt, out):
    """Drain into a parquet sink (recoverable across restarts, unlike
    memory) and return the CUMULATIVE sink contents."""
    q = (
        feed.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    return spark.read.parquet(out)


def test_changefeed_streams_appends_and_restarts_without_dups(
    spark, scratch, tmp_path
):
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    append_manifest_table(spark, scratch, "cf", _mk(spark, 0, 10, "a"))
    append_manifest_table(spark, scratch, "cf", _mk(spark, 10, 5, "b"))
    got = _drain(spark, read_changefeed(spark, scratch, "cf"), ckpt, out)
    rows = got.collect()
    assert len(rows) == 15
    assert {r["_change_version"] for r in rows} == {1, 2}
    # restart mid-stream: a new append lands, the SAME checkpoint resumes
    # and emits ONLY the new version's rows — 22 cumulative, no dups
    append_manifest_table(spark, scratch, "cf", _mk(spark, 15, 7, "c"))
    got2 = _drain(spark, read_changefeed(spark, scratch, "cf"), ckpt, out)
    rows2 = got2.collect()
    assert len(rows2) == 22
    assert sum(1 for r in rows2 if r["_change_version"] == 3) == 7
    assert len({r["id"] for r in rows2}) == 22  # every row exactly once


def test_changefeed_arrow_batches_evolved_table(spark, scratch, tmp_path):
    """The changefeed emits Arrow batches only, so they alone must carry
    a TIMESTAMP column and an add-only evolved column: files written
    before the evolution surface the new column as NULL, and the latest
    feed row per key equals the table row."""
    from popelines_spark.manifest import read_manifest_table

    def batch(lo, n, promo):
        df = spark.range(lo, lo + n).select(
            F.col("id"),
            F.timestamp_seconds(F.col("id") * 3600 + 1_600_000_000).alias("ts"),
            (F.col("id") * 10).alias("amount"),
        )
        return df if promo is None else df.withColumn("promo", F.lit(promo))

    append_manifest_table(spark, scratch, "cfe", batch(0, 10, None))
    append_manifest_table(spark, scratch, "cfe", batch(10, 5, "p"))
    update_manifest_rows(spark, scratch, "cfe", {"promo": "'UPD'"}, "id < 3")

    out = str(tmp_path / "out")
    q = (
        read_changefeed(spark, scratch, "cfe")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    feed = spark.read.parquet(out).collect()

    assert {r["promo"] for r in feed if r["_change_version"] == 1} == {None}
    latest = {}
    for r in feed:
        if r["id"] not in latest or r["_change_version"] > latest[r["id"]][0]:
            latest[r["id"]] = (r["_change_version"], r)
    cols = ["id", "ts", "amount", "promo"]
    table = {
        r["id"]: tuple(r[c] for c in cols)
        for r in read_manifest_table(spark, scratch, "cfe").collect()
    }
    assert len(table) == 15
    assert {k: tuple(r[c] for c in cols) for k, (_, r) in latest.items()} == table
    assert table[0][3] == "UPD" and table[5][3] is None and table[12][3] == "p"


def test_changefeed_skips_compaction(spark, scratch, tmp_path):
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    # two files, so compacting to one commits a compaction version
    append_manifest_table(
        spark, scratch, "cfc", _mk(spark, 0, 10, "a"), n_files=2
    )
    _drain(spark, read_changefeed(spark, scratch, "cfc"), ckpt, out)
    assert compact_manifest_table(spark, scratch, "cfc", n_files=1) == 2
    got = _drain(spark, read_changefeed(spark, scratch, "cfc"), ckpt, out)
    assert got.count() == 10  # compaction moves bytes, not rows


def test_changefeed_surfaces_replace_as_updates(spark, scratch, tmp_path):
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    append_manifest_table(spark, scratch, "cfu", _mk(spark, 0, 10, "a"))
    _drain(spark, read_changefeed(spark, scratch, "cfu"), ckpt, out)
    update_manifest_rows(
        spark, scratch, "cfu", {"tag": "'UPD'"}, "id < 3"
    )
    got = _drain(spark, read_changefeed(spark, scratch, "cfu"), ckpt, out)
    new = [r for r in got.collect() if r["_change_version"] == 2]
    # the rewritten file's SURVIVING rows re-emit (updates as new rows)
    assert {r["tag"] for r in new} == {"UPD", "a"}
    assert sum(1 for r in new if r["tag"] == "UPD") == 3


def test_changefeed_start_version_skips_history(spark, scratch, tmp_path):
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    append_manifest_table(spark, scratch, "cfs", _mk(spark, 0, 10, "a"))
    append_manifest_table(spark, scratch, "cfs", _mk(spark, 10, 5, "b"))
    got = _drain(
        spark, read_changefeed(spark, scratch, "cfs", start_version=1),
        ckpt, out,
    )
    rows = got.collect()
    assert len(rows) == 5 and {r["tag"] for r in rows} == {"b"}


def test_changefeed_replays_across_compact_gc_boundary_segmented(
    spark, scratch, tmp_path, monkeypatch
):
    """Round 12 (VERDICT r11 next #7): a checkpointed feed resumed
    AFTER a compact + GC cycle, with manifest segmentation forced on,
    must see exactly the committed row deltas — the compaction emits
    nothing, the GC'd history doesn't break planning (the spared-parent
    lineage closure keeps the compact's parent manifest), and the
    post-boundary append's contribution is computed through segment
    expansion on both the driver (planning) and the DataSource worker
    (changefeed._read_manifest)."""
    from popelines_spark.manifest import gc_manifest_table

    monkeypatch.setenv("POPELINES_SEGMENT_THRESHOLD", "1")
    monkeypatch.setenv("POPELINES_SEGMENT_TARGET", "2")
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    append_manifest_table(spark, scratch, "cfg", _mk(spark, 0, 10, "a"))
    append_manifest_table(spark, scratch, "cfg", _mk(spark, 10, 5, "b"))
    got = _drain(spark, read_changefeed(spark, scratch, "cfg"), ckpt, out)
    assert got.count() == 15

    # the boundary: compact (v3), append (v4), GC everything older than
    # the last two versions with a zero age floor — v1/v2 manifests drop
    # and their now-unreferenced segment chunks are swept
    compact_manifest_table(spark, scratch, "cfg", n_files=1)
    append_manifest_table(spark, scratch, "cfg", _mk(spark, 15, 7, "c"))
    dropped, _files = gc_manifest_table(
        spark, scratch, "cfg", keep_versions=2, min_file_age_sec=0.0
    )
    assert dropped >= 1

    got2 = _drain(spark, read_changefeed(spark, scratch, "cfg"), ckpt, out)
    rows = got2.collect()
    # exactly the append's 7 new rows crossed the boundary: no dups, no
    # compaction rows, nothing lost
    assert len(rows) == 22
    assert len({r["id"] for r in rows}) == 22
    assert sum(1 for r in rows if r["_change_version"] == 4) == 7
    assert {r["tag"] for r in rows if r["_change_version"] == 4} == {"c"}
    assert not any(r["_change_version"] == 3 for r in rows)
