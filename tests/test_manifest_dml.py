"""Row-level DML on manifest tables (popelines_spark/manifest_dml.py):
copy-on-write at FILE granularity — files without matching rows are
carried by reference (byte-identical), only hit files are rewritten,
time travel still sees the pre-DML table."""

import glob
import hashlib
import os

from pyspark.sql import functions as F

from popelines_spark.manifest import (
    append_manifest_table,
    manifest_file_list,
    read_manifest_table,
)
from popelines_spark.manifest_dml import (
    delete_manifest_rows,
    update_manifest_rows,
    upsert_manifest_table,
)


def _local(f):
    return f[len("file:"):] if f.startswith("file:") else f


def _digests(files):
    return {
        f: hashlib.sha256(open(_local(f), "rb").read()).hexdigest()
        for f in files
    }


def _setup(spark, scratch, name):
    """Three appends with disjoint id ranges + recorded stats, 2 files
    each — 6 data files whose batch ranges the DML can target."""
    for lo in (0, 100, 200):
        batch = spark.range(lo, lo + 50).select(
            F.col("id"), F.lit(f"b{lo}").alias("tag")
        )
        append_manifest_table(
            spark, scratch, name, batch, n_files=2, stats_cols=["id"]
        )


def test_delete_rewrites_only_hit_files(spark, scratch):
    _setup(spark, scratch, "d1")
    before = manifest_file_list(spark, scratch, "d1")
    assert len(before) == 6
    untouched = [
        f for f in before
        if f not in manifest_file_list(spark, scratch, "d1", prune=[("id", 120, 130)])
    ]
    dig_before = _digests(untouched)
    mt_before = {f: os.path.getmtime(_local(f)) for f in untouched}
    v, n = delete_manifest_rows(
        spark, scratch, "d1", "id BETWEEN 120 AND 130",
        prune=[("id", 120, 130)],
    )
    assert n == 11 and v == 4
    now = read_manifest_table(spark, scratch, "d1")
    assert now.count() == 150 - 11
    assert now.where("id BETWEEN 120 AND 130").count() == 0
    # untouched files: same paths, same bytes, same mtimes — carried by
    # reference, never rewritten
    after = manifest_file_list(spark, scratch, "d1")
    assert set(untouched) <= set(after)
    assert _digests(untouched) == dig_before
    assert {f: os.path.getmtime(_local(f)) for f in untouched} == mt_before
    # time travel still sees the pre-delete rows
    assert read_manifest_table(spark, scratch, "d1", version=3).count() == 150


def test_delete_null_predicate_keeps_rows(spark, scratch):
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 3)], "k long, v long"
    )
    append_manifest_table(spark, scratch, "dn", df)
    _, n = delete_manifest_rows(spark, scratch, "dn", "v > 5")
    assert n == 1
    ks = sorted(
        r["k"] for r in read_manifest_table(spark, scratch, "dn").collect()
    )
    assert ks == [2, 3]


def test_delete_no_match_is_noop_commit_free(spark, scratch):
    _setup(spark, scratch, "d0")
    v, n = delete_manifest_rows(spark, scratch, "d0", "id > 10000")
    assert n == 0 and v == 3  # latest version unchanged, no new commit
    assert read_manifest_table(spark, scratch, "d0").count() == 150


def test_update_rewrites_only_hit_files(spark, scratch):
    _setup(spark, scratch, "u1")
    before = manifest_file_list(spark, scratch, "u1")
    hit_before = manifest_file_list(
        spark, scratch, "u1", prune=[("id", 200, 249)]
    )
    spared = [f for f in before if f not in hit_before]
    dig_before = _digests(spared)
    v, n = update_manifest_rows(
        spark, scratch, "u1",
        {"tag": "concat(tag, '!')"},
        "id BETWEEN 200 AND 249",
        prune=[("id", 200, 249)],
    )
    assert n == 50
    now = read_manifest_table(spark, scratch, "u1")
    assert now.where("tag = 'b200!'").count() == 50
    assert now.where("tag = 'b0'").count() == 50
    # the four files of the first two batches are carried by reference
    after = set(manifest_file_list(spark, scratch, "u1"))
    assert len(spared) == 4 and set(spared) <= after
    assert _digests(spared) == dig_before


def test_update_swap_semantics(spark, scratch):
    df = spark.createDataFrame(
        [(1, 10, 20), (2, 30, 40)], "k long, a long, b long"
    )
    append_manifest_table(spark, scratch, "usw", df)
    _, n = update_manifest_rows(
        spark, scratch, "usw", {"a": "b", "b": "a"}, "k = 1"
    )
    assert n == 1
    rows = {
        r["k"]: (r["a"], r["b"])
        for r in read_manifest_table(spark, scratch, "usw").collect()
    }
    assert rows == {1: (20, 10), 2: (30, 40)}


def test_upsert_merges_and_spares_unmatched_files(spark, scratch):
    _setup(spark, scratch, "m1")
    before = manifest_file_list(spark, scratch, "m1")
    dig_before = _digests(before)
    src = spark.createDataFrame(
        [(120, "UPD"), (9999, "NEW")], "id long, tag string"
    )
    v = upsert_manifest_table(spark, scratch, "m1", src, keys=["id"])
    now = read_manifest_table(spark, scratch, "m1")
    assert now.count() == 151  # 150 - 1 replaced + 1 replaced + 1 inserted
    assert now.where("id = 120").collect()[0]["tag"] == "UPD"
    assert now.where("id = 9999").count() == 1
    # files not holding id=120 survive by reference, bytes unchanged
    after = set(manifest_file_list(spark, scratch, "m1"))
    survivors = [f for f in before if f in after]
    assert len(survivors) == 5
    assert _digests(survivors) == {f: dig_before[f] for f in survivors}
    # time travel: the pre-merge version is intact
    assert read_manifest_table(spark, scratch, "m1", version=3).count() == 150



def test_upsert_added_column_is_stored_nullable(spark, scratch):
    """A column added by a MERGE source is NULL in every target row the
    source did not match, so the manifest records it nullable."""
    import json

    base = spark.range(4).select(F.col("id"), F.lit("a").alias("tag"))
    append_manifest_table(spark, scratch, "mun", base)
    src = spark.range(2, 6).select(
        F.col("id"), F.lit("b").alias("tag"), F.lit("p").alias("promo")
    )
    v = upsert_manifest_table(spark, scratch, "mun", src, keys=["id"])
    with open(f"{scratch}/mun/versions/{v}/manifest.json") as fh:
        fields = json.loads(json.load(fh)["schema"])["fields"]
    assert {f["name"]: f["nullable"] for f in fields}["promo"] is True


def test_upsert_duplicate_source_keys_raise(spark, scratch):
    import pytest as _pytest

    append_manifest_table(
        spark, scratch, "mdup",
        spark.createDataFrame([(1, "a")], "id long, tag string"),
    )
    src = spark.createDataFrame(
        [(1, "x"), (1, "y")], "id long, tag string"
    )
    with _pytest.raises(Exception, match="duplicate source rows"):
        upsert_manifest_table(spark, scratch, "mdup", src, keys=["id"])


def test_delete_replayed_append_still_idempotent_after_dml(spark, scratch):
    """batch_ids survive a replace commit: a replayed append after a
    DELETE is still a no-op."""
    append_manifest_table(
        spark, scratch, "dk",
        spark.range(10).select(F.col("id"), F.lit("a").alias("tag")),
        batch_id=7,
    )
    delete_manifest_rows(spark, scratch, "dk", "id < 3")
    append_manifest_table(
        spark, scratch, "dk",
        spark.range(10).select(F.col("id"), F.lit("a").alias("tag")),
        batch_id=7,
    )
    assert read_manifest_table(spark, scratch, "dk").count() == 7
