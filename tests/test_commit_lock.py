"""Stale-holder takeover of the manifest COMMIT LOCK
(popelines_spark/manifest.py::_with_commit_lock).

The lock linearizes manifest commits; a holder that died must not wedge
the table forever, but a waiter must never break a FRESH lock. These
tests pin the lease rules end-to-end on the local ``file://`` scheme —
the same Hadoop FileSystem calls an object store would see.
"""

import os
import time

import pytest

from popelines_spark.io import _hadoop_fs
from popelines_spark.manifest import (
    ConcurrentWriteError,
    _with_commit_lock,
    append_manifest_table,
    read_manifest_table,
)


def _vroot(scratch, name):
    return f"{scratch}/{name}/versions"


def _touch(path, age_sec=0.0):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    open(path, "w").close()
    if age_sec:
        past = time.time() - age_sec
        os.utime(path, (past, past))


def test_dead_holders_lock_is_broken_and_commit_proceeds(spark, scratch):
    """A lock file older than stale_sec is presumed dead: the waiter
    breaks it and the commit goes through (no operator intervention)."""
    append_manifest_table(
        spark, scratch, "t", spark.range(3).selectExpr("id")
    )
    vroot = _vroot(scratch, "t")
    _touch(f"{vroot}/.__commit_lock", age_sec=3600)
    append_manifest_table(
        spark, scratch, "t", spark.range(3).selectExpr("id as id")
    )
    assert read_manifest_table(spark, scratch, "t").count() == 6
    assert not os.path.exists(f"{vroot}/.__commit_lock")
    assert not os.path.exists(f"{vroot}/.__commit_lock_break")


def test_fresh_lock_is_never_broken(spark, scratch):
    """A live holder's lock (mtime inside stale_sec) blocks waiters to
    their timeout and SURVIVES: waiters time out, they don't steal."""
    vroot = _vroot(scratch, "lk")
    _touch(f"{vroot}/.__commit_lock")  # fresh == held by a live writer
    fs, _, jvm = _hadoop_fs(spark, vroot)
    with pytest.raises(ConcurrentWriteError):
        _with_commit_lock(
            fs, vroot, jvm, lambda: None, timeout_sec=0.3, stale_sec=300.0
        )
    assert os.path.exists(f"{vroot}/.__commit_lock")


def test_break_recheck_spares_a_lock_renewed_under_the_break_claim(
    spark, scratch
):
    """The takeover re-checks staleness UNDER the break claim: a lock
    whose mtime became fresh between the first stat and the claim (the
    stale file was swept and a new claimant locked) is left alone."""
    vroot = _vroot(scratch, "rk")
    lock = f"{vroot}/.__commit_lock"
    _touch(lock, age_sec=3600)
    fs, _, jvm = _hadoop_fs(spark, vroot)
    seen = []

    orig = fs.getFileStatus

    class _FS:
        """First stat of the LOCK reports it stale; before the re-check
        runs, a new claimant 'renews' the file — simulating the race."""

        def __getattr__(self, item):
            return getattr(fs, item)

        def getFileStatus(self, p):
            st = orig(p)
            if p.getName() == ".__commit_lock":
                seen.append(1)
                if len(seen) == 2:  # the under-claim re-check
                    os.utime(lock, None)  # freshened by the new holder
                    st = orig(p)
            return st

    with pytest.raises(ConcurrentWriteError):
        _with_commit_lock(
            _FS(), vroot, jvm, lambda: None, timeout_sec=0.5,
            stale_sec=300.0,
        )
    assert os.path.exists(lock), "re-check must spare the renewed lock"


def test_abandoned_break_claim_is_itself_swept(spark, scratch):
    """A breaker that died between claiming .__commit_lock_break and
    releasing it must not wedge takeover forever: an over-age break
    file is removed and the next waiter completes the takeover."""
    append_manifest_table(
        spark, scratch, "bk", spark.range(2).selectExpr("id")
    )
    vroot = _vroot(scratch, "bk")
    _touch(f"{vroot}/.__commit_lock", age_sec=3600)
    _touch(f"{vroot}/.__commit_lock_break", age_sec=3600)
    append_manifest_table(
        spark, scratch, "bk", spark.range(2).selectExpr("id")
    )
    assert read_manifest_table(spark, scratch, "bk").count() == 4
    assert not os.path.exists(f"{vroot}/.__commit_lock_break")


def test_torn_commit_is_invisible_and_lock_released(spark, scratch):
    """A writer that died AFTER writing manifest.json but BEFORE the
    _COMMITTED flip left a torn version: readers never see it, and the
    lock it held (stale by now) doesn't block the next writer."""
    append_manifest_table(
        spark, scratch, "tv", spark.range(5).selectExpr("id")
    )
    vroot = _vroot(scratch, "tv")
    # fabricate the crash debris: version dir + manifest, no _COMMITTED
    os.makedirs(f"{vroot}/2", exist_ok=True)
    with open(f"{vroot}/2/manifest.json", "w") as f:
        f.write('{"version": 2, "files": [], "schema": "", "parent": 1,'
                ' "op": "append"}')
    _touch(f"{vroot}/2.__reserved", age_sec=7200)
    _touch(f"{vroot}/.__commit_lock", age_sec=7200)
    assert read_manifest_table(spark, scratch, "tv").count() == 5
    # next writer takes over; its commit must land ABOVE the torn number
    append_manifest_table(
        spark, scratch, "tv", spark.range(4).selectExpr("id")
    )
    assert read_manifest_table(spark, scratch, "tv").count() == 9


def test_commit_arbiter_seam_is_used_by_every_commit_path(spark, scratch):
    """Round 12 (VERDICT r11 next #4): _with_commit_lock delegates to
    the process-wide CommitArbiter, so plugging one covers append / DML
    / compact / heal uniformly. A recording arbiter wrapping the default
    must see every commit, and set_commit_arbiter(None) must restore the
    default."""
    from popelines_spark.manifest import (
        LockFileArbiter,
        compact_manifest_table,
        get_commit_arbiter,
        set_commit_arbiter,
    )

    class Recording(LockFileArbiter):
        def __init__(self):
            self.calls = []

        def run_locked(self, fs, vroot, jvm, fn, timeout_sec=None,
                       stale_sec=None):
            self.calls.append(vroot)
            return super().run_locked(
                fs, vroot, jvm, fn, timeout_sec, stale_sec
            )

    rec = Recording()
    prev = set_commit_arbiter(rec)
    try:
        append_manifest_table(
            spark, scratch, "arb", spark.range(5).selectExpr("id")
        )
        n_after_append = len(rec.calls)
        assert n_after_append >= 1
        append_manifest_table(
            spark, scratch, "arb", spark.range(5, 9).selectExpr("id")
        )
        assert len(rec.calls) > n_after_append
        # n_files=1: the two appends' files are more than that, so the
        # compaction rewrites and commits (a tip already at n_files or
        # fewer files is left alone, uncommitted)
        compact_manifest_table(spark, scratch, "arb", n_files=1)
        assert len(rec.calls) > n_after_append + 1
        assert all("arb/versions" in v for v in rec.calls)
        assert read_manifest_table(spark, scratch, "arb").count() == 9
    finally:
        set_commit_arbiter(prev)
    assert isinstance(get_commit_arbiter(), LockFileArbiter)
    # restored default still commits — and no longer records
    n_restored = len(rec.calls)
    append_manifest_table(
        spark, scratch, "arb", spark.range(9, 10).selectExpr("id")
    )
    assert len(rec.calls) == n_restored
    assert read_manifest_table(spark, scratch, "arb").count() == 10


def test_commit_arbiter_mutual_exclusion_contract(spark, scratch):
    """A (deliberately broken) arbiter that runs fn() WITHOUT exclusion
    still works for a single writer — the seam adds no hidden coupling
    beyond mutual exclusion itself."""
    from popelines_spark.manifest import CommitArbiter, set_commit_arbiter

    class NoLock(CommitArbiter):
        def run_locked(self, fs, vroot, jvm, fn, timeout_sec=None,
                       stale_sec=None):
            return fn()

    prev = set_commit_arbiter(NoLock())
    try:
        append_manifest_table(
            spark, scratch, "nolock", spark.range(4).selectExpr("id")
        )
        assert read_manifest_table(spark, scratch, "nolock").count() == 4
    finally:
        set_commit_arbiter(prev)


def test_arbiter_claim_covers_both_layouts(spark, scratch):
    """Round-12 unification: version reservations — manifest AND
    snapshot — and the snapshot vacuum's delete-claims all funnel
    through CommitArbiter.claim, so one store-native conditional-PUT
    plug covers every atomic-create in both protocols. (The raw
    fs.create(overwrite=False) they replaced is exists-check-then-create
    on Hadoop's LocalFileSystem — not atomic even locally.)"""
    import os
    import time

    from popelines_spark import io
    from popelines_spark.manifest import (
        LockFileArbiter,
        set_commit_arbiter,
    )

    class RecordingClaims(LockFileArbiter):
        def __init__(self):
            self.claims = []

        def claim(self, fs, path, jvm):
            self.claims.append(str(path))
            return super().claim(fs, path, jvm)

    rec = RecordingClaims()
    prev = set_commit_arbiter(rec)
    try:
        df = spark.range(3).selectExpr("id")
        append_manifest_table(spark, scratch, "cl_m", df)
        assert any("cl_m" in p and ".__reserved" in p for p in rec.claims)

        io.write_table_snapshot(spark, scratch, "cl_s", df)
        assert any("cl_s" in p and ".__reserved" in p for p in rec.claims)

        # vacuum's delete-claim: fabricate an aged torn dir + marker
        vdir = os.path.join(scratch, "cl_s", "_versions")
        os.makedirs(os.path.join(vdir, "v00000009"))
        marker = os.path.join(vdir, "v00000009.__reserved")
        open(marker, "w").close()
        past = time.time() - 7200
        os.utime(marker, (past, past))
        n_before = len(rec.claims)
        cleaned = io.vacuum_snapshot_debris(spark, scratch, "cl_s")
        assert cleaned["torn_dirs"] == [9]
        assert any(
            "v00000009.__reserved" in p for p in rec.claims[n_before:]
        )
    finally:
        set_commit_arbiter(prev)
