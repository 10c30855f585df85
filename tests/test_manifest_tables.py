"""Manifest tables (popelines_spark/manifest.py): incremental ACID
appends — a version is a file list, so appending a batch costs O(batch),
old files are never rewritten, and GC only deletes what no retained
version references."""

import glob
import os

from pyspark.sql import functions as F

from popelines_spark.manifest import (
    append_manifest_table,
    compact_manifest_table,
    gc_manifest_table,
    read_manifest_table,
)


def _mk(spark, n, tag):
    return spark.range(n).select(F.col("id"), F.lit(tag).alias("tag"))


def test_append_is_incremental_not_copy_on_write(spark, scratch):
    """After two appends, version-1's data files are bit-identical on
    disk (same paths, same mtimes) and version 2's manifest is a strict
    superset — the batch was written, the table was NOT rewritten."""
    v1 = append_manifest_table(spark, scratch, "m", _mk(spark, 100, "a"))
    d1 = sorted(glob.glob(f"{scratch}/m/data/v1/*.parquet"))
    mtimes_before = {f: os.path.getmtime(f) for f in d1}
    v2 = append_manifest_table(spark, scratch, "m", _mk(spark, 50, "b"))
    assert (v1, v2) == (1, 2)
    assert {f: os.path.getmtime(f) for f in d1} == mtimes_before
    assert read_manifest_table(spark, scratch, "m").count() == 150
    # time travel still sees the pre-append table
    assert read_manifest_table(spark, scratch, "m", version=1).count() == 100


def test_schema_evolution_applies_on_read(spark, scratch):
    """A batch with a new column evolves the manifest schema; old files
    (written without it) surface NULLs through the manifest's schema."""
    append_manifest_table(spark, scratch, "me", _mk(spark, 4, "a"))
    append_manifest_table(
        spark, scratch, "me", _mk(spark, 3, "b").withColumn("x", F.lit(5))
    )
    now = read_manifest_table(spark, scratch, "me")
    assert "x" in now.columns
    assert now.where(F.col("x").isNull()).count() == 4
    assert now.where(F.col("x") == 5).count() == 3



def _stored_nullability(scratch, name, version):
    """{column: nullable} as the version's manifest.json records it."""
    import json

    with open(f"{scratch}/{name}/versions/{version}/manifest.json") as fh:
        doc = json.load(fh)
    return {
        f["name"]: f["nullable"]
        for f in json.loads(doc["schema"])["fields"]
    }


def test_appended_column_is_stored_nullable(spark, scratch):
    """A column added by an append is NULL in every older file, so the
    manifest must record it nullable even when the batch computed it
    from a non-null expression."""
    append_manifest_table(spark, scratch, "mn", _mk(spark, 4, "a"))
    v = append_manifest_table(
        spark, scratch, "mn", _mk(spark, 3, "b").select(
            "id", "tag", F.lit("p").alias("promo")
        ),
    )
    assert _stored_nullability(scratch, "mn", v)["promo"] is True


def test_null_free_append_keeps_column_nullable(spark, scratch):
    """A batch with no NULLs must not flip a nullable column to
    NOT NULL: older files may hold NULLs in it."""
    seed = spark.createDataFrame([(1, None)], "id long, tag string")
    v1 = append_manifest_table(spark, scratch, "mk", seed)
    assert _stored_nullability(scratch, "mk", v1)["tag"] is True
    v2 = append_manifest_table(spark, scratch, "mk", _mk(spark, 3, "b"))
    assert _stored_nullability(scratch, "mk", v2)["tag"] is True



def test_append_of_null_elements_relaxes_array_type(spark, scratch):
    """The merged schema, not the table's old one, bounds what a batch
    may hold: NULL array elements in a batch make the recorded element
    type nullable even when the table started without any."""
    import json

    first = spark.range(2).select(F.array(F.col("id")).alias("a"))
    append_manifest_table(spark, scratch, "ma", first)
    nulls = spark.range(2).select(
        F.array(F.lit(None).cast("long")).alias("a")
    )
    v = append_manifest_table(spark, scratch, "ma", nulls)
    with open(f"{scratch}/ma/versions/{v}/manifest.json") as fh:
        fields = json.loads(json.load(fh)["schema"])["fields"]
    assert fields[0]["type"]["containsNull"] is True
    assert read_manifest_table(spark, scratch, "ma").count() == 4


def test_compaction_and_gc_respect_retention(spark, scratch):
    """Compact → new single-file-set version; GC beyond retention
    deletes exactly the data files no retained manifest references,
    and the retained reader still answers. Lineage closure: a kept
    manifest's PARENT survives one extra GC cycle (heal may still need
    it to compute the child's contribution if a racing commit orphans
    the child), so pre-compaction files are reclaimed on the NEXT cycle,
    not the same one."""
    for i in range(3):
        append_manifest_table(
            spark, scratch, "mg", _mk(spark, 10, f"b{i}"), n_files=2
        )
    vc = compact_manifest_table(spark, scratch, "mg", n_files=1)
    assert read_manifest_table(spark, scratch, "mg").count() == 30
    dropped, deleted = gc_manifest_table(
        spark, scratch, "mg", keep_versions=1, min_file_age_sec=0
    )
    # v3 (the compact's parent) is spared by lineage closure; v1/v2 drop
    assert dropped == 2 and deleted == 0
    assert read_manifest_table(spark, scratch, "mg").count() == 30
    assert (
        read_manifest_table(spark, scratch, "mg", version=vc).count() == 30
    )
    # one more commit + cycle: the old parent leaves the closure and its
    # pre-compaction files are reclaimed
    append_manifest_table(spark, scratch, "mg", _mk(spark, 5, "b3"))
    dropped2, deleted2 = gc_manifest_table(
        spark, scratch, "mg", keep_versions=1, min_file_age_sec=0
    )
    assert deleted2 > 0
    assert read_manifest_table(spark, scratch, "mg").count() == 35
    # pre-compaction data dirs are gone
    assert glob.glob(f"{scratch}/mg/data/v1/*.parquet") == []


def test_compact_of_compact_tip_commits_nothing(spark, scratch):
    """A second compaction of a tip already at ``n_files`` files is a
    no-op: the version list, the data directories and the reservation
    markers are exactly as the first compaction left them, and the call
    returns the tip version."""
    for i in range(3):
        append_manifest_table(
            spark, scratch, "mc", _mk(spark, 10, f"b{i}"), n_files=2
        )
    vc = compact_manifest_table(spark, scratch, "mc", n_files=1)

    def state():
        return (
            sorted(os.listdir(f"{scratch}/mc/versions")),
            sorted(os.listdir(f"{scratch}/mc/data")),
        )

    before = state()
    assert compact_manifest_table(spark, scratch, "mc", n_files=1) == vc
    assert state() == before
    assert not glob.glob(f"{scratch}/mc/versions/*.__reserved")
    assert read_manifest_table(spark, scratch, "mc").count() == 30


def test_gc_keeps_files_shared_with_retained_versions(spark, scratch):
    """A dropped version's files survive if a retained version still
    lists them (append chains share files across versions)."""
    append_manifest_table(spark, scratch, "ms", _mk(spark, 10, "a"))
    append_manifest_table(spark, scratch, "ms", _mk(spark, 10, "b"))
    append_manifest_table(spark, scratch, "ms", _mk(spark, 10, "c"))
    append_manifest_table(spark, scratch, "ms", _mk(spark, 10, "d"))
    # keep v3+v4; v2 spared (parent of kept v3, lineage closure); v1
    # drops — its files survive because every retained manifest (append
    # chain) still lists them
    dropped, deleted = gc_manifest_table(
        spark, scratch, "ms", keep_versions=2, min_file_age_sec=0
    )
    assert dropped == 1 and deleted == 0
    assert read_manifest_table(spark, scratch, "ms").count() == 40
    assert read_manifest_table(spark, scratch, "ms", version=2).count() == 20
    assert read_manifest_table(spark, scratch, "ms", version=3).count() == 30


def test_concurrent_appends_serialize_to_distinct_versions(spark, scratch):
    """Two racing appends must both land, on distinct version ids, with
    the later manifest containing both batches (reservation protocol)."""
    import threading

    errs = []

    def run(tag):
        try:
            append_manifest_table(
                spark, scratch, "mc", _mk(spark, 5, tag)
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    append_manifest_table(spark, scratch, "mc", _mk(spark, 5, "base"))
    t1 = threading.Thread(target=run, args=("r1",))
    t2 = threading.Thread(target=run, args=("r2",))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs
    final = read_manifest_table(spark, scratch, "mc")
    # Racing appends rebase after the reservation and heal after the
    # commit, so BOTH batches must be visible at the tip — no lost
    # update, no duplicated rows.
    tags = {r["tag"] for r in final.select("tag").distinct().collect()}
    assert tags == {"base", "r1", "r2"}
    assert final.count() == 15


def test_heal_reconciles_out_of_order_commits(spark, scratch):
    """Deterministic commit-order inversion: writer A reserves version 2
    but commits AFTER writer B committed version 3 (parented on 1) — the
    classic lost update the reservation alone cannot prevent. The heal
    pass must fold A's contribution into a reconciliation tip without
    rewriting any data file, and carry A's batch id forward."""
    import json as _json

    from popelines_spark import manifest as M

    v1 = append_manifest_table(spark, scratch, "mh", _mk(spark, 5, "base"))
    assert v1 == 1
    root, vroot, droot = M._paths(scratch, "mh")
    fs, _, jvm = M._hadoop_fs(spark, root)
    # writer A: wins reservation 2, stalls after writing its data files
    vA = M._reserve_version(fs, vroot, jvm)
    assert vA == 2
    _mk(spark, 5, "slow").write.mode("overwrite").parquet(f"{droot}/v{vA}")
    a_files = M._list_parquet(fs, droot + f"/v{vA}", jvm)
    base_man = M._read_manifest(fs, vroot, 1, jvm)
    # writer B: reserves 3, rebases on 1, commits, heals (no orphans yet)
    vB = append_manifest_table(spark, scratch, "mh", _mk(spark, 5, "fast"))
    assert vB == 3
    # writer A finally commits version 2 parented on 1 — now orphaned
    M._commit_manifest(
        spark, fs, vroot, vA,
        base_man["files"] + a_files, base_man["schema"], jvm,
        parent=1, op="append", batch_ids=["slow-batch"],
        enforce_linear=False,
    )
    healed = M.heal_manifest_table(spark, scratch, "mh")
    assert healed == 1
    final = read_manifest_table(spark, scratch, "mh")
    tags = {r["tag"] for r in final.select("tag").distinct().collect()}
    assert tags == {"base", "slow", "fast"} and final.count() == 15
    # data files untouched: the reconciliation tip references A's files
    tip = M._committed_manifest_versions(fs, vroot, jvm)[-1]
    tipman = M._read_manifest(fs, vroot, tip, jvm)
    assert set(a_files) <= set(tipman["files"])
    assert "slow-batch" in tipman["batch_ids"]
    # idempotent: a second heal finds nothing to do
    assert M.heal_manifest_table(spark, scratch, "mh") == 0


def test_batch_id_replay_detection_survives_compact_and_gc(spark, scratch):
    """The exactly-once contract must hold even after compaction + GC
    drop the manifest that originally recorded a batch_id: the id set is
    carried forward in every descendant manifest."""
    append_manifest_table(spark, scratch, "mb", _mk(spark, 10, "a"), batch_id=0)
    append_manifest_table(spark, scratch, "mb", _mk(spark, 10, "b"), batch_id=1)
    compact_manifest_table(spark, scratch, "mb", n_files=1)
    gc_manifest_table(spark, scratch, "mb", keep_versions=1,
                      min_file_age_sec=0)
    # replay of batch 0 after its manifest is gone: still a no-op
    v = append_manifest_table(
        spark, scratch, "mb", _mk(spark, 10, "a"), batch_id=0
    )
    assert read_manifest_table(spark, scratch, "mb").count() == 20
    # the original version is GC'd, so the tip is reported
    assert v == 3


def test_streaming_sink_exactly_once_across_replay(spark, scratch, tmp_path):
    """The foreachBatch manifest sink must not duplicate a replayed
    micro-batch: running the same availableNow drain twice over the same
    checkpoint adds nothing, and a DIRECT re-append with the same
    batch_id is a no-op returning the original version."""
    import os

    from popelines_spark.manifest import append_manifest_table
    from popelines_spark.streaming.manifest_sink import (
        write_stream_to_manifest,
    )

    src = str(tmp_path / "src")
    _mk(spark, 40, "a").coalesce(1).write.parquet(src)
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    q = write_stream_to_manifest(stream, scratch, "msk", ckpt)
    q.awaitTermination()
    assert read_manifest_table(spark, scratch, "msk").count() == 40
    # restart over the same checkpoint: nothing new to process, nothing
    # duplicated
    stream2 = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    q2 = write_stream_to_manifest(stream2, scratch, "msk", ckpt)
    q2.awaitTermination()
    assert read_manifest_table(spark, scratch, "msk").count() == 40
    # simulate the crash-replay: re-deliver batch 0 by hand with the
    # sink's checkpoint-derived namespace (review r12) — idempotent
    import hashlib

    app_id = hashlib.sha256(ckpt.encode()).hexdigest()[:16]
    v = append_manifest_table(
        spark, scratch, "msk", _mk(spark, 40, "a"),
        batch_id=f"{app_id}:0",
    )
    assert read_manifest_table(spark, scratch, "msk").count() == 40
    assert v == 1


def test_stats_are_interned_at_rest_and_roundtrip_exactly(spark, scratch):
    """At rest the manifest stores each distinct stat dict ONCE
    (``stats_pool``) with file → index references — appends stamp one
    batch-level range onto every file of the batch, so per-file storage
    would make the stats term O(files × stats) at scale. The in-memory
    contract (``file_stats: {file: {col: [lo, hi]}}``) is unchanged:
    reads expand the pool, pruning and DML behave identically."""
    import json as _json

    from popelines_spark.manifest import manifest_file_list

    for lo in (0, 100, 200):
        append_manifest_table(
            spark, scratch, "mi",
            spark.range(lo, lo + 50).select(
                F.col("id"), F.lit(f"b{lo}").alias("tag")
            ),
            n_files=3, stats_cols=["id"],
        )
    raw = _json.load(open(f"{scratch}/mi/versions/3/manifest.json"))
    assert len(raw["stats_pool"]) == 3, "one pooled entry per batch"
    # the aligned file list may itself be inline or segmented
    # (POPELINES_SEGMENT_THRESHOLD) — stats interning composes with both
    n_listed = (
        len(raw["files"]) if "files" in raw
        else len(manifest_file_list(spark, scratch, "mi"))
    )
    # the aligned index itself is RLE'd when runs dominate (they do:
    # one range dict per batch) — accept either at-rest spelling
    if "stats_idx_rle" in raw:
        idx = [i for i, n in raw["stats_idx_rle"] for _ in range(n)]
    else:
        idx = raw["stats_idx"]
    assert len(idx) == n_listed == 9
    assert all(isinstance(i, int) for i in idx)
    assert "file_stats" not in raw, "no duplicated path keys at rest"
    # expanded read prunes exactly as the per-file encoding did
    assert len(manifest_file_list(
        spark, scratch, "mi", prune=[("id", 120, 130)]
    )) == 3
    assert manifest_file_list(
        spark, scratch, "mi", prune=[("id", 900, 950)]
    ) == []
    # a DML rewrite carries the surviving references through re-commit:
    # the matching batch's stats still prune, and the DML's stat-less
    # rewrite file is conservatively kept (exactly the pre-pool rule)
    from popelines_spark.manifest_dml import delete_manifest_rows

    before = set(manifest_file_list(
        spark, scratch, "mi", prune=[("id", 120, 130)]
    ))
    delete_manifest_rows(spark, scratch, "mi", "id >= 200")
    assert read_manifest_table(spark, scratch, "mi").count() == 100
    after = set(manifest_file_list(
        spark, scratch, "mi", prune=[("id", 120, 130)]
    ))
    assert before <= after
    assert all("/data/v4/" in f for f in after - before), (
        "only the stat-less DML rewrite may be added"
    )


def test_stats_pruning_skips_disjoint_batches(spark, scratch):
    """Three appends with disjoint id ranges + stats_cols: a range
    predicate plans only the matching batch's files — and the pruned
    read still returns exactly the right rows."""
    from popelines_spark.manifest import manifest_file_list

    for lo in (0, 100, 200):
        batch = spark.range(lo, lo + 50).select(
            F.col("id"), F.lit(f"b{lo}").alias("tag")
        )
        append_manifest_table(
            spark, scratch, "mp", batch, n_files=2, stats_cols=["id"]
        )
    all_files = manifest_file_list(spark, scratch, "mp")
    hit = manifest_file_list(spark, scratch, "mp", prune=[("id", 120, 130)])
    assert len(hit) == 2 and len(all_files) == 6
    pruned = read_manifest_table(
        spark, scratch, "mp", prune=[("id", 120, 130)]
    ).where("id BETWEEN 120 AND 130")
    assert pruned.count() == 11
    # a predicate outside every range plans zero files
    assert manifest_file_list(
        spark, scratch, "mp", prune=[("id", 900, 950)]
    ) == []


def test_stats_pruning_never_loses_rows_without_stats(spark, scratch):
    """Files appended WITHOUT stats are always kept — pruning is
    conservative by construction."""
    from popelines_spark.manifest import manifest_file_list

    append_manifest_table(spark, scratch, "mns", _mk(spark, 10, "nostats"))
    append_manifest_table(
        spark, scratch, "mns",
        spark.range(100, 110).select(F.col("id"), F.lit("s").alias("tag")),
        stats_cols=["id"],
    )
    files = manifest_file_list(
        spark, scratch, "mns", prune=[("id", 5000, 6000)]
    )
    # stats-bearing batch pruned away; stat-less files conservatively kept
    assert files == manifest_file_list(spark, scratch, "mns", version=1)


def test_register_manifest_table_at_sql_surface(spark, scratch):
    """register_table(manifest=True) exposes the ACID layout to
    Pipeline.query(), version= pins time travel."""
    from popelines_spark.pipeline import Popeline

    p = Popeline(warehouse=scratch, spark=spark)
    append_manifest_table(spark, scratch, "msql", _mk(spark, 10, "a"))
    append_manifest_table(spark, scratch, "msql", _mk(spark, 5, "b"))
    p.register_table("msql", manifest=True)
    assert p.query("SELECT count(*) AS n FROM msql")[0]["n"] == 15
    p.register_table("msql", manifest=True, version=1)
    assert p.query("SELECT count(*) AS n FROM msql")[0]["n"] == 10


def test_mixed_append_dml_race_converges(spark, scratch):
    """Four writers race: two appends (disjoint new key ranges) against
    a DELETE and an UPDATE over ranges fully present BEFORE the race —
    so the final state is interleaving-independent:

      rows  = initial − deleted + both appends
      k<50  gone, 50≤k<100 updated, appended ranges complete

    Replace-commits may lose the optimistic race repeatedly
    (ConcurrentWriteError after internal retries); the client-side loop
    here is the documented recovery — what must NEVER happen is a lost
    update, a double-applied DML, or a torn append."""
    import threading

    from pyspark.sql import functions as F

    from popelines_spark.manifest import ConcurrentWriteError
    from popelines_spark.manifest_dml import (
        delete_manifest_rows,
        update_manifest_rows,
    )

    base = spark.range(100).selectExpr("id AS k", "CAST(1 AS LONG) AS v")
    append_manifest_table(spark, scratch, "mr", base)

    errs = []

    def retrying(fn):
        def run():
            for _ in range(20):
                try:
                    fn()
                    return
                except ConcurrentWriteError:
                    continue
                except Exception as e:  # pragma: no cover
                    errs.append(e)
                    return
            errs.append(RuntimeError("retries exhausted"))  # pragma: no cover
        return run

    def appender(lo):
        df = spark.range(lo, lo + 100).selectExpr(
            "id AS k", "CAST(2 AS LONG) AS v"
        )
        append_manifest_table(spark, scratch, "mr", df)

    threads = [
        threading.Thread(target=retrying(lambda: appender(1000))),
        threading.Thread(target=retrying(lambda: appender(2000))),
        threading.Thread(target=retrying(
            lambda: delete_manifest_rows(spark, scratch, "mr", "k < 50"))),
        threading.Thread(target=retrying(
            lambda: update_manifest_rows(
                spark, scratch, "mr", {"v": "-1"},
                "k >= 50 AND k < 100"))),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs

    final = read_manifest_table(spark, scratch, "mr")
    assert final.count() == 100 - 50 + 200
    assert final.filter(F.col("k") < 50).count() == 0
    assert (
        final.filter((F.col("k") >= 50) & (F.col("k") < 100))
        .filter(F.col("v") != -1).count() == 0
    )
    for lo in (1000, 2000):
        got = final.filter(
            (F.col("k") >= lo) & (F.col("k") < lo + 100)
        ).count()
        assert got == 100, f"append at {lo} torn or lost: {got}"


def test_race_with_concurrent_gc_and_heal(spark, scratch):
    """The retract-tolerant read paths under fire: GC (which heals, then
    reads every retained manifest) runs CONCURRENTLY with the 4-writer
    race. keep_versions is large, so retention never bites — what this
    pins is the metadata protocol: GC reading a version the retract
    path deletes mid-listing must skip it, never crash, and the final
    state must still be the interleaving-independent one."""
    import threading

    from pyspark.sql import functions as F

    from popelines_spark.manifest import ConcurrentWriteError, gc_manifest_table
    from popelines_spark.manifest_dml import (
        delete_manifest_rows,
        update_manifest_rows,
    )

    base = spark.range(100).selectExpr("id AS k", "CAST(1 AS LONG) AS v")
    append_manifest_table(spark, scratch, "mg", base)

    errs = []
    stop = threading.Event()

    def retrying(fn):
        def run():
            for _ in range(20):
                try:
                    fn()
                    return
                except ConcurrentWriteError:
                    continue
                except Exception as e:  # pragma: no cover
                    errs.append(e)
                    return
            errs.append(RuntimeError("retries exhausted"))  # pragma: no cover
        return run

    def gc_loop():
        while not stop.is_set():
            try:
                gc_manifest_table(spark, scratch, "mg", keep_versions=50)
            except ConcurrentWriteError:
                # a replace is committed but its owner has not retracted
                # it yet — heal refuses to touch row-level DML, and the
                # maintenance contract is the same as the writers': retry
                continue
            except Exception as e:  # pragma: no cover
                errs.append(e)
                return

    def appender(lo):
        df = spark.range(lo, lo + 100).selectExpr(
            "id AS k", "CAST(2 AS LONG) AS v"
        )
        append_manifest_table(spark, scratch, "mg", df)

    gc_t = threading.Thread(target=gc_loop)
    writers = [
        threading.Thread(target=retrying(lambda: appender(1000))),
        threading.Thread(target=retrying(lambda: appender(2000))),
        threading.Thread(target=retrying(
            lambda: delete_manifest_rows(spark, scratch, "mg", "k < 50"))),
        threading.Thread(target=retrying(
            lambda: update_manifest_rows(
                spark, scratch, "mg", {"v": "-1"},
                "k >= 50 AND k < 100"))),
    ]
    gc_t.start()
    for t in writers:
        t.start()
    for t in writers:
        t.join()
    stop.set()
    gc_t.join()
    assert not errs

    final = read_manifest_table(spark, scratch, "mg")
    assert final.count() == 250
    assert final.filter(F.col("k") < 50).count() == 0
    assert (
        final.filter((F.col("k") >= 50) & (F.col("k") < 100))
        .filter(F.col("v") != -1).count() == 0
    )


def test_cleanup_orphan_files(spark, scratch):
    """Orphan sweeper: files no committed manifest references (the
    debris a retracted replace leaves) are removed; referenced files
    and in-flight/reserved version dirs are untouched."""
    from popelines_spark.manifest import (
        _hadoop_fs,
        _paths,
        cleanup_orphan_files,
        manifest_file_list,
    )

    append_manifest_table(spark, scratch, "mo", _mk(spark, 5, "a"))
    append_manifest_table(spark, scratch, "mo", _mk(spark, 5, "b"))
    root, vroot, droot = _paths(scratch, "mo")
    fs, _, jvm = _hadoop_fs(spark, root)
    HPath = jvm.org.apache.hadoop.fs.Path
    # fabricate debris: an unreferenced parquet inside a committed
    # version's dir, and a whole never-committed version dir
    spark.range(3).write.mode("overwrite").parquet(f"{droot}/v1/__orphan")
    spark.range(3).write.mode("overwrite").parquet(f"{droot}/v2/also_orphan")
    # age the debris past the vacuum-retention floor (young unreferenced
    # files are presumed in-flight and never touched)
    for f in glob.glob(f"{droot}/v*/*orphan/*.parquet"):
        os.utime(f, (0, 0))
    # a reserved (in-flight) dir must be skipped even when unreferenced
    fs.create(HPath(f"{vroot}/2.__reserved"), True).close()
    before = set(manifest_file_list(spark, scratch, "mo"))
    # ANY live reservation aborts the sweep wholesale: an in-flight
    # writer may be about to commit references to "orphan" files
    assert cleanup_orphan_files(spark, scratch, "mo") == 0
    fs.delete(HPath(f"{vroot}/2.__reserved"), False)
    removed = cleanup_orphan_files(spark, scratch, "mo")
    assert removed > 0
    # young unreferenced files survive the sweep (vacuum retention)
    spark.range(3).write.mode("overwrite").parquet(f"{droot}/v1/__young")
    assert cleanup_orphan_files(spark, scratch, "mo") == 0
    assert glob.glob(f"{droot}/v1/__young/*.parquet")
    # every referenced file is still there and the table reads clean
    after = set(manifest_file_list(spark, scratch, "mo"))
    assert after == before
    assert read_manifest_table(spark, scratch, "mo").count() == 10
    # idempotent
    assert cleanup_orphan_files(spark, scratch, "mo") == 0


def test_orphan_replace_detection_rules(spark, scratch):
    """_orphan_replaces: flags a committed replace missing from the tip
    lineage; fails OPEN (returns nothing) when the walk hits a dangling
    parent — blocking writers on unknowable history would turn a
    transient race into a permanent outage."""
    from popelines_spark import manifest as M
    from popelines_spark.manifest_dml import delete_manifest_rows

    append_manifest_table(spark, scratch, "md", _mk(spark, 5, "a"))   # v1
    delete_manifest_rows(spark, scratch, "md", "id = 0")               # v2
    append_manifest_table(spark, scratch, "md", _mk(spark, 5, "b"))   # v3
    root, vroot, _ = M._paths(scratch, "md")
    fs, _, jvm = M._hadoop_fs(spark, root)
    HPath = jvm.org.apache.hadoop.fs.Path
    versions = M._committed_manifest_versions(fs, vroot, jvm)
    tip = versions[-1]
    # healthy chain: nothing is orphaned
    assert M._orphan_replaces(fs, vroot, jvm, tip) == []
    # fabricate a stale sibling that skipped the replace: parent = v1
    bogus = tip + 10
    man_tip = M._read_manifest(fs, vroot, tip, jvm)
    M._commit_manifest(
        spark, fs, vroot, bogus, man_tip["files"], man_tip["schema"],
        jvm, parent=versions[0], op="append", enforce_linear=False,
    )
    orphans = M._orphan_replaces(fs, vroot, jvm, bogus)
    assert orphans == [v for v in versions
                       if M._read_manifest(fs, vroot, v, jvm).get("op")
                       == "replace"]
    # dangling parent on the tip lineage: fail open
    fs.delete(HPath(f"{vroot}/{versions[0]}"), True)  # v1 vanishes
    assert M._orphan_replaces(fs, vroot, jvm, bogus) == []


def test_cleanup_proceeds_past_abandoned_reservation(spark, scratch):
    """A reservation marker older than ``reservation_timeout_sec`` is an
    abandoned writer (killed between reserve and release): it must not
    disable the orphan sweep forever, but its own data/v{N} directory is
    still skipped — presumed-dead is not proven-dead."""
    import os as _os

    from popelines_spark.manifest import (
        _hadoop_fs,
        _paths,
        cleanup_orphan_files,
        manifest_file_list,
    )

    append_manifest_table(spark, scratch, "mab", _mk(spark, 5, "a"))
    root, vroot, droot = _paths(scratch, "mab")
    fs, _, jvm = _hadoop_fs(spark, root)
    HPath = jvm.org.apache.hadoop.fs.Path
    spark.range(3).write.mode("overwrite").parquet(f"{droot}/v1/__orphan")
    spark.range(3).write.mode("overwrite").parquet(f"{droot}/v2/inflight")
    for f in glob.glob(f"{droot}/v*/*/*.parquet"):
        _os.utime(f, (0, 0))  # past the vacuum-retention floor
    fs.create(HPath(f"{vroot}/2.__reserved"), True).close()
    # fresh marker: abort wholesale, exactly as before
    assert cleanup_orphan_files(spark, scratch, "mab") == 0
    # age the marker past the cutoff: the abandoned writer no longer
    # blocks the sweep of OTHER versions' debris
    _os.utime(f"{vroot}/2.__reserved", (0, 0))
    before = set(manifest_file_list(spark, scratch, "mab"))
    removed = cleanup_orphan_files(spark, scratch, "mab")
    assert removed > 0
    assert set(manifest_file_list(spark, scratch, "mab")) == before
    # the abandoned reservation's own directory was NOT touched
    assert glob.glob(f"{droot}/v2/inflight/*.parquet")
    assert read_manifest_table(spark, scratch, "mab").count() == 5


def test_heal_releases_reservation_on_commit_failure(spark, scratch,
                                                     monkeypatch):
    """heal_manifest_table must not leak its version reservation when
    the reconciliation commit fails — a leaked marker would stall
    cleanup_orphan_files until the abandoned-marker timeout."""
    import pytest

    from popelines_spark import manifest as M

    append_manifest_table(spark, scratch, "mhr", _mk(spark, 4, "a"))  # v1
    append_manifest_table(spark, scratch, "mhr", _mk(spark, 4, "b"))  # v2
    root, vroot, _ = M._paths(scratch, "mhr")
    fs, _, jvm = M._hadoop_fs(spark, root)
    # stale sibling tip v3 parented on v1: v2's contribution is orphaned,
    # so heal must attempt a reconciliation commit
    man1 = M._read_manifest(fs, vroot, 1, jvm)
    M._commit_manifest(
        spark, fs, vroot, 3, man1["files"], man1["schema"], jvm,
        parent=1, op="append", enforce_linear=False,
    )

    def boom(*a, **k):
        raise RuntimeError("injected commit failure")

    monkeypatch.setattr(M, "_commit_manifest", boom)
    with pytest.raises(RuntimeError, match="injected"):
        M.heal_manifest_table(spark, scratch, "mhr")
    HPath = jvm.org.apache.hadoop.fs.Path
    names = [st.getPath().getName() for st in fs.listStatus(HPath(vroot))]
    assert not [n for n in names if n.endswith(".__reserved")]
    monkeypatch.undo()
    assert M.heal_manifest_table(spark, scratch, "mhr") == 1
    # tip v3 carried v1's files (4 rows "a"); heal unioned v2's own
    # contribution (4 rows "b") — shared files dedupe in the manifest
    assert read_manifest_table(spark, scratch, "mhr").count() == 8


def test_heal_tolerates_dangling_parent_append(spark, scratch):
    """An orphaned append whose parent manifest was RETRACTED under it
    (a hole WITHIN the retained version range — the post-flip
    self-retract race) heals by its own data/v{N} directory's files.
    A parent missing because it fell below the retention floor (GC'd)
    still raises: a GC'd compact on the tip lineage may already carry
    those rows in rewritten files, so re-adding could silently
    duplicate them."""
    import pytest

    from popelines_spark import manifest as M

    append_manifest_table(spark, scratch, "mdp", _mk(spark, 4, "a"))  # v1
    append_manifest_table(spark, scratch, "mdp", _mk(spark, 4, "b"))  # v2
    append_manifest_table(spark, scratch, "mdp", _mk(spark, 4, "c"))  # v3
    root, vroot, _ = M._paths(scratch, "mdp")
    fs, _, jvm = M._hadoop_fs(spark, root)
    HPath = jvm.org.apache.hadoop.fs.Path
    # sibling tip v4 parented on v1 (so v2, v3 are off v4's lineage),
    # then retract v2: v3's parent pointer dangles INSIDE the retained
    # range [1..4] — the retraction-race shape
    man1 = M._read_manifest(fs, vroot, 1, jvm)
    M._commit_manifest(
        spark, fs, vroot, 4, man1["files"], man1["schema"], jvm,
        parent=1, op="append", enforce_linear=False,
    )
    fs.delete(HPath(f"{vroot}/2"), True)
    assert M.heal_manifest_table(spark, scratch, "mdp") == 1
    got = read_manifest_table(spark, scratch, "mdp")
    # v3's own contribution (c) recovered; the RETRACTED v2's content
    # (b) is its owner's responsibility (restore/re-commit), not heal's
    assert got.count() == 8
    assert {r["tag"] for r in got.select("tag").distinct().collect()} == {
        "a", "c"
    }
    # GC'd-floor shape: parent below the oldest retained version and the
    # orphan's own files missing from the tip → loud, never a silent
    # possible-duplicate
    append_manifest_table(spark, scratch, "mgf", _mk(spark, 4, "a"))  # v1
    append_manifest_table(spark, scratch, "mgf", _mk(spark, 4, "b"))  # v2
    rootg, vrootg, _ = M._paths(scratch, "mgf")
    fsg, _, jvmg = M._hadoop_fs(spark, rootg)
    man2 = M._read_manifest(fsg, vrootg, 2, jvmg)
    # stale sibling v3 parented on v1 whose own-dir files are NOT on the
    # tip: fabricate by committing v3 with a file under data/v3
    _mk(spark, 2, "x").write.mode("overwrite").parquet(
        f"{scratch}/mgf/data/v3"
    )
    own = M._list_parquet(fsg, f"{scratch}/mgf/data/v3", jvmg)
    M._commit_manifest(
        spark, fsg, vrootg, 3,
        M._read_manifest(fsg, vrootg, 1, jvmg)["files"] + own,
        man2["schema"], jvmg, parent=1, op="append", enforce_linear=False,
    )
    # tip v4 parented on v2 (skips v3), then v1 falls below the floor
    M._commit_manifest(
        spark, fsg, vrootg, 4, man2["files"], man2["schema"], jvmg,
        parent=2, op="append", enforce_linear=False,
    )
    HPathg = jvmg.org.apache.hadoop.fs.Path
    fsg.delete(HPathg(f"{vrootg}/1"), True)
    fsg.delete(HPathg(f"{vrootg}/2"), True)  # v3's parent 1 < floor (3)
    with pytest.raises(M.ConcurrentWriteError, match="GC'd"):
        M.heal_manifest_table(spark, scratch, "mgf")


def test_heal_uses_recorded_own_dir_for_burned_number_appends(
    spark, scratch
):
    """A contended append can BURN its reserved number M and commit as
    version N while its data stays under data/vM (the data dir is never
    rewritten). If such a commit is later orphaned with a dangling
    parent, heal must use the manifest's RECORDED own_dir marker —
    inferring from /data/vN/ reads an empty contribution as 'already on
    the tip' and silently drops the batch."""
    from popelines_spark import manifest as M

    append_manifest_table(spark, scratch, "mb", _mk(spark, 5, "a"))   # v1
    append_manifest_table(spark, scratch, "mb", _mk(spark, 5, "b"))   # v2
    root, vroot, droot = M._paths(scratch, "mb")
    fs, _, jvm = M._hadoop_fs(spark, root)
    # the burned append's data landed under data/v3 ...
    _mk(spark, 5, "burn").write.mode("overwrite").parquet(f"{droot}/v3")
    files3 = M._list_parquet(fs, f"{droot}/v3", jvm)
    man2 = M._read_manifest(fs, vroot, 2, jvm)
    # ... but it committed as v5, parented on a now-dangling v4
    M._commit_manifest(
        spark, fs, vroot, 5, man2["files"] + files3, man2["schema"], jvm,
        parent=4, op="append", batch_ids=["burn"], batch_id="burn",
        own_dir="/data/v3/", enforce_linear=False,
    )
    # a racing sibling then took the tip, skipping v5 entirely
    M._commit_manifest(
        spark, fs, vroot, 6, man2["files"], man2["schema"], jvm,
        parent=2, op="append", enforce_linear=False,
    )
    assert M.heal_manifest_table(spark, scratch, "mb") == 1
    got = read_manifest_table(spark, scratch, "mb")
    assert got.count() == 15, "burned-number append's batch dropped"
    assert got.where("tag = 'burn'").count() == 5
    assert M.heal_manifest_table(spark, scratch, "mb") == 0  # convergent


def test_commits_are_linearized(spark, scratch):
    """The commit lock refuses any flip whose parent is not the live
    tip (StaleParentError -> rebase and retry), so COMMITTED history is
    linear by construction: under a many-writer race, every committed
    manifest's parent pointer is exactly the previous committed version
    in lineage order, no divergence, no orphans, nothing for heal to
    reconcile. This replaces the retract/restore machinery the old
    optimistic flip needed (divergent histories were not always
    mergeable — see the N-writer stress in tools/stress_manifest.py)."""
    import threading

    from popelines_spark import manifest as M

    append_manifest_table(spark, scratch, "mlin", _mk(spark, 4, "base"))
    errs = []

    def run(tag):
        try:
            for r in range(3):
                append_manifest_table(
                    spark, scratch, "mlin", _mk(spark, 4, f"{tag}{r}"),
                    batch_id=f"{tag}{r}",
                )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [
        threading.Thread(target=run, args=(t,)) for t in ("x", "y", "z")
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    root, vroot, _ = M._paths(scratch, "mlin")
    fs, _, jvm = M._hadoop_fs(spark, root)
    versions = M._committed_manifest_versions(fs, vroot, jvm)
    mans = {v: M._read_manifest(fs, vroot, v, jvm) for v in versions}
    # strict linearity: each commit's parent is its predecessor
    for prev, cur in zip(versions, versions[1:]):
        assert mans[cur].get("parent") == prev, (
            f"divergence: v{cur} parented on {mans[cur].get('parent')}, "
            f"expected {prev}"
        )
    assert M.heal_manifest_table(spark, scratch, "mlin") == 0
    final = read_manifest_table(spark, scratch, "mlin")
    assert final.count() == 4 + 9 * 4
    # every batch id landed exactly once
    tip_ids = set(mans[versions[-1]]["batch_ids"])
    assert {f"{t}{r}" for t in "xyz" for r in range(3)} <= tip_ids


def test_heal_replays_orphaned_replace(spark, scratch):
    """An orphaned replace whose affected files are all still on the tip
    is REPLAYED by heal at file granularity (remove affected, add
    rewrites) instead of raising — the permanent manual-intervention
    state the N-writer stress exposed. The replay is exactly-once per
    lineage via its __replayed_replace_{v} marker id, and a replayed
    replace no longer counts as orphaned for writers."""
    from popelines_spark import manifest as M
    from popelines_spark.manifest_dml import delete_manifest_rows

    append_manifest_table(spark, scratch, "mrp", _mk(spark, 5, "a"))  # v1
    delete_manifest_rows(spark, scratch, "mrp", "id = 0")             # v2
    root, vroot, _ = M._paths(scratch, "mrp")
    fs, _, jvm = M._hadoop_fs(spark, root)
    man1 = M._read_manifest(fs, vroot, 1, jvm)
    # stale higher-numbered append parented on v1: becomes the tip and
    # skips the replace (the near-simultaneous-walks race shape)
    M._commit_manifest(
        spark, fs, vroot, 5, man1["files"], man1["schema"], jvm,
        parent=1, op="append", enforce_linear=False,
    )
    assert M._orphan_replaces(fs, vroot, jvm, 5) == [2]
    assert M.heal_manifest_table(spark, scratch, "mrp") == 1
    got = read_manifest_table(spark, scratch, "mrp")
    assert got.count() == 4                       # DML effect recovered
    assert got.filter("id = 0").count() == 0
    # convergent + exactly-once: second heal is a no-op, the replayed
    # replace is no longer an orphan for writers, and the marker rides
    # the tip's carried-forward batch ids
    assert M.heal_manifest_table(spark, scratch, "mrp") == 0
    versions = M._committed_manifest_versions(fs, vroot, jvm)
    tip = versions[-1]
    assert M._orphan_replaces(fs, vroot, jvm, tip) == []
    tipman = M._read_manifest(fs, vroot, tip, jvm)
    assert "__replayed_replace_2" in tipman["batch_ids"]
    # appends after the replay proceed without retract churn
    append_manifest_table(spark, scratch, "mrp", _mk(spark, 3, "c"))
    assert read_manifest_table(spark, scratch, "mrp").count() == 7


def test_append_default_output_is_rebalance_sized(spark, scratch):
    """r13 guide §6: the default (no n_files) append sizes its output by
    BYTES via a REBALANCE hint — a many-partition micro-batch lands as
    few advisory-sized files, not one tiny file per input partition
    (each commit's manifest carries the full file list, so the batch's
    file count is the metadata-growth slope). Explicit n_files still
    wins."""
    wide = spark.range(100_000).repartition(16).select(
        F.col("id"), F.lit("a").alias("tag")
    )
    append_manifest_table(spark, scratch, "mrb", wide, batch_id="b1")
    files_v1 = glob.glob(f"{scratch}/mrb/data/v1/*.parquet")
    assert len(files_v1) <= 2, "AQE should coalesce a ~1 MB batch"
    assert read_manifest_table(spark, scratch, "mrb").count() == 100_000

    append_manifest_table(spark, scratch, "mrb", wide, n_files=2,
                          batch_id="b2")
    assert len(glob.glob(f"{scratch}/mrb/data/v2/*.parquet")) == 2
    assert read_manifest_table(spark, scratch, "mrb").count() == 200_000


def test_commit_trace_is_one_debug_record_per_commit(spark, scratch, caplog):
    """The commit trace is a DEBUG record on the module's logger, one
    per written version; the logging level turns it on."""
    import logging

    caplog.set_level(logging.DEBUG, logger="popelines_spark.manifest")
    append_manifest_table(spark, scratch, "mtr", _mk(spark, 3, "a"), batch_id="b1")
    append_manifest_table(spark, scratch, "mtr", _mk(spark, 2, "b"), batch_id="b2")
    got = [
        r.getMessage().rsplit(" thr=", 1)[0]
        for r in caplog.records
        if r.name == "popelines_spark.manifest" and r.levelno == logging.DEBUG
    ]
    assert got == [
        "commit v=1 op=append parent=None nfiles=1 bid=b1",
        "commit v=2 op=append parent=1 nfiles=2 bid=b2",
    ]


def test_append_rebalance_composes_with_stats_cols(spark, scratch):
    """The stats path localCheckpoints the batch before writing; the
    rebalance must land BEFORE that barrier so stats + write share one
    sized computation and the written files stay coalesced."""
    wide = spark.range(5_000).repartition(16).select(
        F.col("id"), F.lit("s").alias("tag")
    )
    append_manifest_table(
        spark, scratch, "mrs", wide, stats_cols=["id"]
    )
    assert len(glob.glob(f"{scratch}/mrs/data/v1/*.parquet")) <= 2
    from popelines_spark.manifest import manifest_file_list

    hit = manifest_file_list(spark, scratch, "mrs", prune=[("id", 0, 10)])
    assert len(hit) >= 1
    assert read_manifest_table(
        spark, scratch, "mrs", prune=[("id", 0, 10)]
    ).where("id <= 10").count() == 11
