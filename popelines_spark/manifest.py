"""Manifest tables: an Iceberg-style ACID layout where a version is a
FILE LIST, not a directory of rewritten data.

The snapshot layout (io.py:write/append_table_snapshot) gives atomic
visibility and time travel but its append is copy-on-write — at 100 TB
rewriting the table per batch is the wrong cost model. Manifest tables
fix exactly that:

 - data files are immutable, written ONCE under ``data/v{N}/`` by the
   batch that created them;
 - a version is ``versions/{N}/manifest.json`` — the list of member data
   files (old + new) — made visible by the same commit-marker flip and
   create-no-overwrite version reservation as the snapshot layout, so
   readers never see a torn state;
 - append cost is O(batch) + one manifest write, never O(table);
 - time travel = read any retained manifest; compaction = rewrite into
   one new file set + a manifest that references ONLY it; GC = delete
   data files referenced by NO retained manifest (never by membership
   in a "latest" directory — a file can serve many versions).

Concurrency contract (linearized commits, Iceberg-style):
 - the create-no-overwrite reservation serializes version IDS — each
   writer owns a unique ``versions/{N}`` it alone writes its data under;
 - the COMMIT itself happens under a short per-table lock
   (:func:`_with_commit_lock`) that refuses any flip whose parent is
   not the live tip or whose number is below it
   (:class:`StaleParentError` → the writer rebases, re-reserving a
   higher number if needed, and retries). Committed history is
   therefore LINEAR BY CONSTRUCTION and number order equals commit
   order — the atomic-swap contract of Iceberg/Delta, on a bare
   filesystem;
 - appends rebase on METADATA only (:func:`_append_rebase` re-reads
   the tip's manifest JSON; their data files are parent-independent);
 - DML (DELETE/UPDATE/MERGE) and compaction share ONE replace loop
   (:func:`_replace_commit`): their payloads are snapshots of their
   parent, so a lost race gives way and the whole operation retries
   against the new tip (:class:`ConcurrentWriteError` after bounded
   retries);
 - only GC (:func:`gc_manifest_table`) deletes a committed version, so
   a listed version can vanish under a reader only by collection;
 - every manifest records its ``parent`` version and ``op``
   (append/compact/replace); :func:`heal_manifest_table` remains as the
   REPAIR layer for crash debris and legacy divergent histories
   (pre-linearization states fabricated in tests, partial writer
   crashes): it re-appends orphaned append contributions, REPLAYS
   orphaned replaces at file granularity when the tip still holds every
   affected file (exactly-once via ``__replayed_replace_{v}`` marker
   ids), and fails loud on genuinely conflicting row-level divergence.
   An earlier design allowed divergent commits and relied on heal to
   merge them; the N-writer stress (tools/stress_manifest.py) showed
   non-commutative histories are not always mergeable, which is exactly
   why real lakehouse formats linearize at the commit point.

Exactly-once streaming: every append may carry a ``batch_id``; the set
of all batch ids ever committed is carried forward in EVERY manifest
(``batch_ids``), compaction and reconciliation included, so replay
detection survives compact + GC of old manifests.

Reference basis: BigQuery gives the reference atomic load jobs and
snapshot decorators (popelines/main.py:100-155's WRITE_APPEND /
WRITE_TRUNCATE); this is that contract on a bare object store, through
the same Hadoop FS calls that run against s3a:// and gs://.
"""

from __future__ import annotations

import json
import logging
import os
import threading

from pyspark.sql import DataFrame, SparkSession

from popelines_spark.io import _align_to, _hadoop_fs, table_path
from popelines_spark.operators.par import rebalance_output
from popelines_spark.schemas import merge_schemas

_log = logging.getLogger(__name__)

_COMMIT = "_COMMITTED"
_LEGACY = object()  # sentinel: manifest predates parent tracking

#: Above this many live files the manifest's file list is split into
#: content-addressed SEGMENT objects (versions/_segments/<sha>.json)
#: shared structurally across versions — the Iceberg manifest-list idea.
#: A commit then writes O(batch) new segments + a list of references,
#: not the whole O(live files) list (80 MB per commit at the 800k-file /
#: 100-TB point; tools/bench_manifest_meta.py). Boundaries are
#: CONTENT-DEFINED (a path ends a segment when its crc32 % target == 0),
#: so inserting a batch into the sorted list disturbs only the
#: neighboring segments, never re-chunks the table. Below the threshold
#: the list stays inline — small tables pay nothing. Overridable via
#: the POPELINES_SEGMENT_THRESHOLD env var (tests/stress force low
#: values to exercise the path).
_SEGMENT_THRESHOLD = 4096
_SEGMENT_TARGET = 2048  # expected paths per segment
_SEGMENT_CACHE: dict[str, list] = {}  # immutable content-addressed chunks
#: must exceed the design-point working set (~390 chunks at 800k files /
#: 2048 target) or a sequential tip expansion would evict every entry
#: before its next use; LRU via pop-and-reinsert on hit
_SEGMENT_CACHE_MAX = 1024


class SegmentLossError(RuntimeError):
    """A committed manifest references a segment chunk that no longer
    exists. This is METADATA CORRUPTION (a vacuum-lease violation or
    external deletion), not a transient race — it must surface loudly.
    It deliberately does NOT read as "version vanished": treating it
    that way would let gc_manifest_table silently skip the
    version's contribution to the retained set and delete data files a
    committed, retained version still references."""


def _segment_threshold() -> int:
    return int(
        os.environ.get("POPELINES_SEGMENT_THRESHOLD", _SEGMENT_THRESHOLD)
    )


def _segment_cache_put(sha: str, chunk: list) -> None:
    _SEGMENT_CACHE[sha] = chunk
    while len(_SEGMENT_CACHE) > _SEGMENT_CACHE_MAX:
        _SEGMENT_CACHE.pop(next(iter(_SEGMENT_CACHE)))


def _chunk_paths(listed: list[str], target: int) -> list[list[str]]:
    """Content-defined chunking of an ordered path list: a path ENDS a
    chunk when its crc32 % target == 0, giving expected chunk size
    ``target``. Because the boundary decision depends only on each
    item, inserting a contiguous run of paths disturbs only the chunk
    containing the insertion point (re-syncing at the next surviving
    boundary) — the invariant structural sharing rests on, pinned by
    tests/test_segment_properties.py."""
    import zlib

    chunks: list[list[str]] = []
    cur: list[str] = []
    for p in listed:
        cur.append(p)
        if zlib.crc32(p.encode()) % target == 0:
            chunks.append(cur)
            cur = []
    if cur:
        chunks.append(cur)
    return chunks


def _write_segments(fs, vroot, listed: list[str], jvm) -> list[str]:
    """Chunk the sorted file list at content-defined boundaries and
    persist each chunk once under its content hash. Reused chunks are
    not rewritten, but their mtime IS refreshed — the same vacuum-lease
    rule data files follow, so the GC segment sweep (age floor) can
    never delete a chunk an in-flight commit is about to reference."""
    import hashlib
    import time

    HPath = jvm.org.apache.hadoop.fs.Path
    target = int(
        os.environ.get("POPELINES_SEGMENT_TARGET", _SEGMENT_TARGET)
    )
    chunks = _chunk_paths(listed, target)
    seg_root = f"{vroot}/_segments"
    fs.mkdirs(HPath(seg_root))
    refs: list[str] = []
    now_ms = int(time.time() * 1000)
    for chunk in chunks:
        body = json.dumps(chunk).encode("utf-8")
        sha = hashlib.sha256(body).hexdigest()[:32]
        refs.append(sha)
        path = HPath(f"{seg_root}/{sha}.json")
        refreshed = False
        if fs.exists(path):
            try:
                fs.setTimes(path, now_ms, -1)  # refresh the vacuum lease
                refreshed = fs.exists(path)  # vanished under the refresh?
            except Exception:
                refreshed = False  # deleted between exists and setTimes
        if not refreshed:
            # write-then-rename: a racing writer of the SAME chunk (same
            # name ⇒ same bytes) must never expose a torn in-place write
            # to a concurrent reader. Rename is atomic; a failed rename
            # is trusted ONLY if the destination verifiably exists
            # (Hadoop rename returns false for more reasons than
            # dest-exists) — a commit must never reference a chunk that
            # was not durably materialized.
            import uuid

            tmp = HPath(f"{seg_root}/.{sha}.{uuid.uuid4().hex[:8]}.tmp")
            out = fs.create(tmp, True)
            try:
                out.write(body)
            finally:
                out.close()
            if not fs.rename(tmp, path):
                fs.delete(tmp, False)
                if not fs.exists(path):
                    raise IOError(
                        f"segment chunk {sha} could not be materialized "
                        f"under {seg_root} (rename failed, dest absent)"
                    )
        _segment_cache_put(sha, chunk)
    return refs


def _expand_files(fs, vroot, doc: dict, jvm) -> dict:
    """Inflate segment references back to the in-memory ``files`` list
    every consumer uses. ``files_segments`` stays in the doc so GC can
    compute live segment references without re-deriving chunk hashes.
    Inline manifests pass through untouched."""
    segs = doc.get("files_segments")
    if segs is None:
        return doc
    HPath = jvm.org.apache.hadoop.fs.Path
    files: list[str] = []
    for sha in segs:
        chunk = _SEGMENT_CACHE.get(sha)
        if chunk is None:
            try:
                stream = fs.open(HPath(f"{vroot}/_segments/{sha}.json"))
            except Exception as exc:
                if "FileNotFoundException" in str(exc):
                    raise SegmentLossError(
                        f"manifest v{doc.get('version')} under {vroot} "
                        f"references missing segment chunk {sha} — "
                        "metadata corruption, not a vanished version"
                    ) from exc
                raise
            try:
                text = jvm.org.apache.commons.io.IOUtils.toString(
                    stream, "UTF-8"
                )
            finally:
                stream.close()
            chunk = json.loads(text)
            _segment_cache_put(sha, chunk)
        else:
            # LRU: a hit must not be evicted as if it were cold
            _SEGMENT_CACHE.pop(sha, None)
            _SEGMENT_CACHE[sha] = chunk
        files.extend(chunk)
    doc["files"] = files
    return doc


class ConcurrentWriteError(RuntimeError):
    """A replace-type commit (row-level DML) lost an optimistic race and
    cannot be auto-merged; the caller must retry against the new tip."""


def _paths(warehouse: str, name: str):
    root = table_path(warehouse, name)
    return root, f"{root}/versions", f"{root}/data"


def _committed_manifest_versions(fs, vroot, jvm) -> list[int]:
    HPath = jvm.org.apache.hadoop.fs.Path
    out = []
    p = HPath(vroot)
    if not fs.exists(p):
        return out
    for st in fs.listStatus(p):
        n = st.getPath().getName()
        if n.isdigit() and fs.exists(HPath(f"{vroot}/{n}/{_COMMIT}")):
            out.append(int(n))
    return sorted(out)


def _expand_stats(doc: dict) -> dict:
    """Inflate the interned at-rest stats encoding back to the in-memory
    contract every consumer uses (``file_stats: {file: {col: [lo,hi]}}``).

    At rest: ``stats_pool`` stores each DISTINCT stat dict once (appends
    stamp the same batch-level range onto every file of the batch) and
    ``stats_idx`` is a pool-index array POSITIONALLY aligned with
    ``files`` (null = no stats) — so the stats term costs
    O(distinct stats) + one small int per file, instead of repeating
    both the stat dict and the ~110-char file path per file
    (222 MB → 78 MB at the 800k-file / 100-TB design point;
    tools/bench_manifest_meta.py). The expanded dicts ALIAS the pool
    entries, so re-committing carried stats re-interns by object
    identity at O(files) dict lookups. A residual ``file_stats`` dict
    (legacy per-file manifests, or stats for a path outside ``files``)
    passes through / merges unchanged — pruning stays exact on old
    manifests."""
    pool = doc.pop("stats_pool", None)
    idx = doc.pop("stats_idx", None)
    rle = doc.pop("stats_idx_rle", None)
    if rle is not None:
        idx = [i for i, n in rle for _ in range(n)]
    if idx is not None:
        fstats = dict(doc.get("file_stats") or {})
        for f, i in zip(doc.get("files", []), idx):
            if i is not None:
                fstats[f] = pool[i]
        doc["file_stats"] = fstats
    elif pool is not None:
        # a pool with no index array is not a format any writer ever
        # shipped — refuse to guess rather than mis-read stats
        raise ValueError(
            f"manifest v{doc.get('version')} carries stats_pool without "
            "stats_idx/stats_idx_rle — unknown stats encoding"
        )
    return doc


def _read_manifest(fs, vroot, version, jvm) -> dict:
    HPath = jvm.org.apache.hadoop.fs.Path
    stream = fs.open(HPath(f"{vroot}/{version}/manifest.json"))
    try:
        # py4j passes Python buffers to Java BY VALUE — a read(byte[])
        # loop mutates only the Java copy. Drain JVM-side instead.
        text = jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()
    return _expand_stats(
        _expand_files(fs, vroot, json.loads(text), jvm)
    )


def _read_manifest_or_none(fs, vroot, version, jvm) -> dict | None:
    """``_read_manifest`` that returns None when the version directory
    vanished — GC (:func:`gc_manifest_table`, the only path that deletes
    a committed version) may drop a version that a concurrent reader
    has just listed; every list-then-read site must treat that as
    "re-resolve against a fresh listing", not an error."""
    try:
        return _read_manifest(fs, vroot, version, jvm)
    except SegmentLossError:
        # a COMMITTED manifest whose segment chunk is gone is metadata
        # corruption, not a GC'd version — mapping it to None would
        # let GC treat the version as absent and delete its data files
        raise
    except Exception as exc:  # py4j wraps java.io.FileNotFoundException
        # match the exception CLASS name only: broader substrings like
        # "does not exist" appear in unrelated py4j signature errors,
        # which must surface, not read as a vanished manifest
        if "FileNotFoundException" in str(exc):
            return None
        raise


def _orphan_replaces(fs, vroot, jvm, tip: int | None) -> list[int]:
    """Committed ``op=replace`` versions NOT on ``tip``'s lineage — DML
    whose effect a commit parented on ``tip`` would silently drop.
    Membership is by LINEAGE, never by version-number comparison: a
    stale append can carry a HIGHER number than the replace it misses.

    DIAGNOSTIC ONLY since the linearization (round 11): the pre-flip /
    post-flip walks that consulted it were deleted along with the
    divergence they policed, so new histories cannot produce what it
    detects. It remains as the classification oracle the heal tests pin
    legacy/crash histories against.

    FAIL-OPEN on unknowable history: if the walk from ``tip`` hits a
    DANGLING parent pointer (a GC'd manifest, or one a legacy history
    retracted, that some committed child still references), the true
    lineage cannot be decided — returning a false orphan there would
    brick a caller over a transient race, so heal/GC report loudly
    instead."""
    versions = _committed_manifest_versions(fs, vroot, jvm)
    mans: dict[int, dict] = {}
    for v in versions:
        m = _read_manifest_or_none(fs, vroot, v, jvm)
        if m is not None:
            mans[v] = m
    versions = [v for v in versions if v in mans]
    if tip is None or tip not in mans:
        return []  # tip vanished under us: unknowable, fail open
    chain: set[int] = set()
    v: int | None = tip
    while v is not None and v not in chain:
        chain.add(v)
        p = _parent_of(mans, versions, v)
        if p is not None and p not in mans:
            return []  # dangling parent: lineage unknowable, fail open
        v = p
    # a replace heal already REPLAYED into this lineage is satisfied,
    # not orphaned — its marker id is carried forward by every commit
    # (without this filter a replayed replace would classify as
    # orphaned forever: its own manifest stays off-chain)
    tip_ids = set(mans[tip].get("batch_ids", []))
    return [
        v for v in versions
        if v not in chain
        and mans[v].get("op") == "replace"
        and f"__replayed_replace_{v}" not in tip_ids
    ]


def _resolve_tip(fs, vroot, jvm, label: str) -> tuple[int, dict]:
    """List committed versions and read the tip, re-resolving (≤10×)
    when the tip vanishes between the listing and the read — the
    vanished-version race every list-then-read site must tolerate
    (:func:`_read_manifest_or_none`). Raises FileNotFoundError when no
    version is committed."""
    for _ in range(10):
        versions = _committed_manifest_versions(fs, vroot, jvm)
        if not versions:
            raise FileNotFoundError(
                f"no committed manifest versions under {label}"
            )
        man = _read_manifest_or_none(fs, vroot, versions[-1], jvm)
        if man is not None:
            return versions[-1], man
    raise ConcurrentWriteError(f"tip of {label} kept vanishing")


def _crash_point(name: str) -> None:
    """Fault injection for crash-recovery tests
    (tests/test_crash_recovery.py): when the environment names this
    point, die the way a SIGKILL'd / OOM-killed writer dies —
    ``os._exit``, no Python finally blocks, no JVM shutdown hooks — so
    the debris on disk (reservation markers, orphan data dirs, torn
    manifests, a held commit lock) is EXACTLY what the real code
    produces up to that instant, not a hand-fabricated approximation.
    Production cost: one dict lookup against an unset variable."""
    if os.environ.get("POPELINES_MANIFEST_CRASH_POINT") == name:
        os._exit(42)


def _claim_path(fs, path: str, jvm) -> bool:
    """Atomically create ``path``; True iff WE created it.

    Hadoop's LocalFileSystem implements ``create(path, overwrite=False)``
    as exists-check-then-create — two racing claimants can BOTH succeed
    and then write the same ``data/v{N}`` directory concurrently (their
    FileOutputCommitter _temporary dirs clobber each other; caught by
    tests/test_manifest_tables.py::test_mixed_append_dml_race_converges).
    For file:// schemes, route through java.io.File.createNewFile —
    POSIX O_CREAT|O_EXCL, genuinely atomic. Other schemes keep
    fs.create(overwrite=False), which HDFS implements atomically
    (object stores without conditional create need an external lock —
    same caveat as every manifest-file table format)."""
    HPath = jvm.org.apache.hadoop.fs.Path
    # decide by the FILESYSTEM's scheme, not the path string: a
    # scheme-less path resolves against fs.defaultFS, which is only the
    # local disk when the fs object itself is local
    if fs.getUri().getScheme() == "file":
        local = HPath(path).toUri().getPath()
        return bool(jvm.java.io.File(local).createNewFile())
    try:
        fs.create(HPath(path), False).close()
        return True
    except Exception as exc:
        msg = str(exc)
        if (
            "FileAlreadyExists" not in msg
            and "already exists" not in msg.lower()
        ):
            raise
        return False


def _claim_marker(fs, vroot, version, jvm) -> bool:
    """Atomically claim ``{version}.__reserved`` — through the active
    arbiter, so a store-native conditional-PUT plug covers version
    reservations the same way it covers the commit lock."""
    return _COMMIT_ARBITER.claim(fs, f"{vroot}/{version}.__reserved", jvm)


class StaleParentError(RuntimeError):
    """A linearized commit found the tip moved past its chosen parent —
    the caller must rebase (re-read the tip) and retry the flip."""


class CommitArbiter:
    """The pluggable seam that serializes manifest commits (VERDICT r11
    next #4). ``run_locked`` must run ``fn()`` such that, per table
    (``vroot``), no two callers' ``fn`` bodies overlap — the mutual-
    exclusion contract the linearized-commit protocol rests on.

    Guarantee by scheme of the DEFAULT :class:`LockFileArbiter`:

    - ``file://`` — genuine mutual exclusion: the lock file is claimed
      via ``java.io.File.createNewFile`` (POSIX ``O_CREAT|O_EXCL``).
    - ``hdfs://`` — genuine mutual exclusion: the NameNode implements
      ``create(overwrite=false)`` atomically.
    - raw ``s3a://`` / object stores without conditional create — the
      claim degrades to exists-check-then-PUT: two writers inside the
      check/PUT window can both believe they hold the lock. Do NOT rely
      on the default there; plug an arbiter backed by the store's
      conditional write (S3 ``If-None-Match: *`` PUT, GCS
      ``ifGenerationMatch=0``) or an external coordination service, via
      :func:`set_commit_arbiter`. The rest of the protocol (reserved
      version numbers, ``_COMMITTED`` flips, heal) is unchanged — only
      this one claim needs the store-native compare-and-set.

    A custom arbiter implements ONE method and may ignore ``fs``/``jvm``
    if it coordinates out-of-band; ``vroot`` is the table identity to
    scope the exclusion to."""

    def run_locked(self, fs, vroot, jvm, fn, timeout_sec=None,
                   stale_sec=None):
        raise NotImplementedError

    def claim(self, fs, path: str, jvm) -> bool:
        """Atomically create ``path``; True iff THIS caller created it;
        False ONLY when the path already exists (lost the race); any
        other failure propagates. This is the second primitive both
        layouts' protocols rest on — manifest version reservations and
        snapshot version reservations/vacuum claims all funnel through
        the active arbiter's ``claim`` (review r12; the snapshot layer
        used raw ``fs.create(overwrite=False)``, which Hadoop's
        LocalFileSystem implements as exists-check-then-create — two
        local racers could both claim one version id). Stores with
        conditional writes override this with the store-native
        compare-and-set (S3 ``If-None-Match: *``, GCS
        ``ifGenerationMatch=0``); the default routes file:// through
        ``java.io.File.createNewFile`` (POSIX O_CREAT|O_EXCL)."""
        return _claim_path(fs, path, jvm)


class LockFileArbiter(CommitArbiter):
    """Default arbiter: the lock-file lease protocol (see
    :class:`CommitArbiter` for the per-scheme guarantee table)."""

    def run_locked(self, fs, vroot, jvm, fn, timeout_sec=None,
                   stale_sec=None):
        return _lock_file_run(fs, vroot, jvm, fn, timeout_sec, stale_sec)


_COMMIT_ARBITER: CommitArbiter = LockFileArbiter()


def set_commit_arbiter(arbiter: CommitArbiter | None) -> CommitArbiter:
    """Install a process-wide commit arbiter (None restores the
    default). Returns the PREVIOUS arbiter so callers can restore it."""
    global _COMMIT_ARBITER
    prev = _COMMIT_ARBITER
    _COMMIT_ARBITER = arbiter if arbiter is not None else LockFileArbiter()
    return prev


def get_commit_arbiter() -> CommitArbiter:
    return _COMMIT_ARBITER


def _install_arbiter_from_env() -> None:
    """Honor ``POPELINES_COMMIT_ARBITER`` (e.g. ``sqlite:/x/cas.db``) —
    the hook that lets multi-process drills (tools/stress_manifest.py,
    tools/chaos_concurrent.py) run every subprocess writer under the
    same external CAS arbiter. Read once at import; no-op when unset."""
    if os.environ.get("POPELINES_COMMIT_ARBITER"):
        from popelines_spark.arbiters import arbiter_from_env

        set_commit_arbiter(arbiter_from_env())


def _with_commit_lock(fs, vroot, jvm, fn, timeout_sec=None,
                      stale_sec=None):
    """Run ``fn()`` under the active :class:`CommitArbiter` — every
    commit-path caller funnels through here, so plugging an arbiter
    covers append / DML / compact / heal / streaming sink uniformly."""
    return _COMMIT_ARBITER.run_locked(
        fs, vroot, jvm, fn, timeout_sec, stale_sec
    )


def _lock_file_run(fs, vroot, jvm, fn, timeout_sec=None,
                   stale_sec=None):
    """Run ``fn()`` holding the table's COMMIT LOCK — the linearization
    point of the whole protocol. Version-number reservations serialize
    NUMBERS, not commits: two writers could still flip manifests whose
    parents were both the old tip, creating divergent committed
    histories that only commute for appends (the N-writer stress showed
    DML/compact divergence needs genuinely unmergeable repairs). Holding
    one short lock around [re-read tip → write manifest → flip marker]
    makes every commit's parent the TRUE latest commit — Iceberg's
    atomic-swap contract — so new histories are linear by construction
    and heal demotes to crash-debris repair.

    The lock is an atomically-created file; held for ~2 metadata IO ops.
    A holder that died is broken after ``stale_sec`` (same presumed-dead
    contract as reservation markers). Breaking is itself serialized
    under an atomically-claimed BREAK file and the staleness re-checked
    under that claim — otherwise a waiter that statted a stale lock
    could delete a FRESH lock created in the gap (dead holder's file
    swept by another breaker, new claimant in) and let two writers into
    the critical section. The residual window (lock re-statted stale,
    then released-and-reclaimed before the delete lands) needs a
    presumed-dead holder to resurrect inside a two-metadata-op gap —
    the same epsilon every mtime-based lease carries on a store without
    compare-and-delete."""
    import random
    import time

    # env knobs exist for crash/chaos drills that need short leases to
    # exercise takeover in wall-clock-bounded runs; production defaults
    # (120 s acquire, 300 s presumed-dead) apply when unset
    if timeout_sec is None:
        timeout_sec = float(
            os.environ.get("POPELINES_LOCK_TIMEOUT_SEC", 120.0)
        )
    if stale_sec is None:
        stale_sec = float(
            os.environ.get("POPELINES_LOCK_STALE_SEC", 300.0)
        )
    HPath = jvm.org.apache.hadoop.fs.Path
    lock = f"{vroot}/.__commit_lock"
    breaker = f"{vroot}/.__commit_lock_break"

    def _stale(path) -> bool:
        st = fs.getFileStatus(HPath(path))
        return time.time() * 1000.0 - st.getModificationTime() \
            > stale_sec * 1000.0

    deadline = time.time() + timeout_sec
    while True:
        if _claim_path(fs, lock, jvm):
            # owner identity (round 13, unifying with io.py's verified
            # leases): a holder presumed dead and superseded must not
            # free its SUCCESSOR's lock on release — one stat per
            # commit buys the verified delete
            try:
                own = fs.getFileStatus(HPath(lock)).getModificationTime()
            except Exception:
                try:
                    own = fs.getFileStatus(
                        HPath(lock)
                    ).getModificationTime()
                except Exception:
                    own = None
            try:
                return fn()
            finally:
                from popelines_spark.io import _release_verified_lock

                _release_verified_lock(fs, HPath(lock), own)
        try:
            if _stale(lock):
                if _claim_path(fs, breaker, jvm):
                    try:
                        if _stale(lock):  # re-check under the break claim
                            fs.delete(HPath(lock), False)
                    except Exception:
                        pass  # lock vanished: nothing left to break
                    finally:
                        fs.delete(HPath(breaker), False)
                elif _stale(breaker):
                    # a breaker that died between claim and release would
                    # block every future takeover — same lease rule
                    fs.delete(HPath(breaker), False)
        except Exception:
            pass  # lock vanished between claim and stat: retry
        # every path falls through to the deadline check + backoff —
        # a `continue` here would let a persistently-failing stat (or a
        # repeated stale-break) bypass the timeout contract and hot-spin
        # the filesystem (review r11)
        if time.time() > deadline:
            raise ConcurrentWriteError(
                f"commit lock under {vroot} not acquired in "
                f"{timeout_sec}s"
            )
        time.sleep(0.002 + random.random() * 0.01)


def _reserve_version(fs, vroot, jvm) -> int:
    HPath = jvm.org.apache.hadoop.fs.Path
    fs.mkdirs(HPath(vroot))
    existing = _committed_manifest_versions(fs, vroot, jvm)
    version = (existing[-1] + 1) if existing else 1
    attempts = 0
    while True:
        if _claim_marker(fs, vroot, version, jvm):
            # the marker may have been RELEASED by a commit that is
            # already visible (_commit_manifest creates _COMMITTED
            # BEFORE releasing): a claim on a version ≤ the committed
            # tip would overwrite committed data — recheck and move past
            latest = _committed_manifest_versions(fs, vroot, jvm)
            if latest and latest[-1] >= version:
                _release_reservation(fs, vroot, version, jvm)
                version = latest[-1] + 1
                continue
            return version
        attempts += 1
        if attempts > 10_000:
            raise RuntimeError(
                f"manifest reservation spinning under {vroot}"
            )
        version += 1


def _release_reservation(fs, vroot, version, jvm) -> None:
    jpath = jvm.org.apache.hadoop.fs.Path(f"{vroot}/{version}.__reserved")
    fs.delete(jpath, False)


def _commit_manifest(
    spark, fs, vroot, version, files: list[str], schema_json: str, jvm,
    parent: int | None,
    op: str,
    batch_ids: list[str] | None = None,
    batch_id: str | None = None,
    file_stats: dict | None = None,
    enforce_linear: bool = True,
    own_dir: str | None = None,
    reconciliation: bool = False,
    _precomputed_segments: tuple[list[str], list[str]] | None = None,
) -> None:
    """Write + flip one manifest version. With ``enforce_linear`` (the
    default) the flip happens under the table's commit lock and is
    REFUSED (:class:`StaleParentError`) unless ``parent`` is the current
    tip — every caller rebases and retries, so committed history is
    linear by construction. ``enforce_linear=False`` is the unlocked
    inner write the locked flip calls once its check passed, and the
    hook tests use to fabricate divergent legacy histories that
    exercise heal."""
    if enforce_linear:
        # segment materialization happens BEFORE the lock: chunks are
        # content-addressed and parent-independent, so writing them
        # early is always safe (at worst they become over-age debris
        # for the GC sweep), and it keeps the lock hold at its
        # documented ~2 metadata ops instead of O(chunks) RPCs — a
        # long-held lock risks a stale-break mid-commit.
        pre_listed = sorted(set(files))
        pre = None
        if len(pre_listed) >= _segment_threshold():
            pre = (pre_listed, _write_segments(fs, vroot, pre_listed, jvm))

        def _flip():
            tips = _committed_manifest_versions(fs, vroot, jvm)
            tip = tips[-1] if tips else None
            if tip != parent:
                raise StaleParentError(
                    f"commit {version}: parent {parent} is not the tip "
                    f"({tip}) — rebase and retry"
                )
            if tip is not None and version <= tip:
                # number order must equal commit order: the whole
                # protocol (and every reader) resolves the tip as the
                # HIGHEST committed number, so a lower-numbered late
                # commit would be invisible — burn the number, take a
                # fresh one above the tip
                raise StaleParentError(
                    f"commit {version}: a higher version ({tip}) already "
                    "committed — re-reserve above it"
                )
            _commit_manifest(
                spark, fs, vroot, version, files, schema_json, jvm,
                parent=parent, op=op, batch_ids=batch_ids,
                batch_id=batch_id, file_stats=file_stats,
                enforce_linear=False, own_dir=own_dir,
                reconciliation=reconciliation,
                _precomputed_segments=pre,
            )

        _with_commit_lock(fs, vroot, jvm, _flip)
        return
    # set-dedupe: reconciliation unions may hand the same immutable
    # file twice; a duplicate path would double-read its rows
    listed = sorted(set(files))
    _log.debug(
        "commit v=%s op=%s parent=%s nfiles=%d bid=%s thr=%d",
        version, op, parent, len(listed), batch_id,
        threading.get_ident() % 1000,
    )
    HPath = jvm.org.apache.hadoop.fs.Path
    vdir = f"{vroot}/{version}"
    fs.mkdirs(HPath(vdir))
    doc = {
        "version": version,
        "schema": schema_json,
        "parent": parent,
        "op": op,
        "batch_ids": sorted(set(batch_ids or [])),
    }
    if batch_id is not None:
        doc["batch_id"] = batch_id  # legacy per-version field, kept
    if reconciliation:
        # heal's reconciliation commits move METADATA only: every file
        # they add vs their parent is a re-add from an already-committed
        # orphan version, so the changefeed treats them like compaction
        # (zero row contribution; review r12)
        doc["reconciliation"] = True
    if own_dir is not None:
        # the append's own data directory MARKER ("/data/v{M}/"): after
        # a burned-number rebase the commit's version number N no longer
        # matches its data dir M, and heal's dangling-parent branch must
        # not infer an empty contribution from /data/vN/ (review r11)
        doc["own_dir"] = own_dir
    if _precomputed_segments is not None \
            and _precomputed_segments[0] == listed:
        doc["files_segments"] = _precomputed_segments[1]
    elif len(listed) >= _segment_threshold():
        doc["files_segments"] = _write_segments(fs, vroot, listed, jvm)
    else:
        doc["files"] = listed
    if file_stats:
        # intern identical stat dicts and reference them POSITIONALLY
        # (see _expand_stats): batch-level ranges repeat per file and
        # the file path is already in the (possibly segmented) file
        # list, so the at-rest
        # stats term is O(distinct stats) + one small int per file.
        # Identity first (carried stats alias their pool entries),
        # content key as the dedupe of last resort.
        pool: list = []
        by_id: dict[int, int] = {}
        by_key: dict[str, int] = {}

        def _intern(st) -> int:
            i = by_id.get(id(st))
            if i is None:
                k = json.dumps(st, sort_keys=True)
                i = by_key.get(k)
                if i is None:
                    i = len(pool)
                    pool.append(st)
                    by_key[k] = i
                by_id[id(st)] = i
            return i

        idx = [
            None if (st := file_stats.get(f)) is None else _intern(st)
            for f in listed
        ]
        # the index array is runs of the same value (every file of a
        # batch shares one range dict, and a batch's files are near-
        # contiguous in path order), so RLE collapses the one remaining
        # O(files) stats term to O(runs) ≈ O(batches)
        rle: list[list] = []
        for i in idx:
            if rle and rle[-1][0] == i:
                rle[-1][1] += 1
            else:
                rle.append([i, 1])
        if 2 * len(rle) < len(idx):
            doc["stats_idx_rle"] = rle
        else:
            doc["stats_idx"] = idx
        doc["stats_pool"] = pool
        # stats for a path outside the file list (never produced by the
        # shipped writers; tolerated from fabricated/legacy histories)
        listed_set = set(listed)
        extra = {f: s for f, s in file_stats.items() if f not in listed_set}
        if extra:
            doc["file_stats"] = extra
    body = json.dumps(doc).encode("utf-8")
    out = fs.create(HPath(f"{vdir}/manifest.json"), True)
    try:
        out.write(body)
    finally:
        out.close()
    _crash_point("after_manifest_write")  # torn: manifest, no _COMMITTED
    # visibility flip: one atomic object creation, manifest already durable
    fs.create(HPath(f"{vdir}/{_COMMIT}"), False).close()
    _crash_point("after_flip")  # committed, reservation+lock leaked
    _release_reservation(fs, vroot, version, jvm)
    # every manifest mutation (append / replace-DML / heal / streaming
    # sink) lands here, so this is the one place to age the planner's
    # ANALYZE stats — best-effort, same contract as write_table appends
    from popelines_spark.io import _mark_stats_stale

    _mark_stats_stale(spark, vroot.removesuffix("/versions"))


class _Conflict(Exception):
    """A replace-type commit lost its race: retry against the new tip."""


def _is_missing_file_error(exc: Exception) -> bool:
    """A scan that lost the race to GC (its pinned parent's files were
    reclaimed mid-build) surfaces as a missing-path error from the
    parquet reader. That is a CONCURRENCY event, not a caller error —
    the standard lakehouse contract (Iceberg/Delta concurrent writers
    re-validate and retry after a vacuum) — so callers map it to a
    rebase-and-retry instead of failing the DML."""
    s = str(exc)
    # match only the specific phrasings Spark's readers use for a
    # vanished input path — the bare substring "does not exist" also
    # appears in py4j "Method ... does not exist" signature errors and
    # catalog "Table or view ... does not exist" errors, which are
    # deterministic bugs that must SURFACE, not be retried as races
    # (same rule as _read_manifest_or_none)
    # FAILED_READ_FILE is an UMBRELLA class that also covers corrupt
    # footers and parquet type mismatches — deterministic failures that
    # retrying as races would bury under a bogus ConcurrentWriteError
    # (review r12); match only its vanished-file subclass
    return (
        "PATH_NOT_FOUND" in s
        or "FileNotFoundException" in s
        or "FAILED_READ_FILE.FILE_NOT_EXIST" in s
        or "Path does not exist" in s
    )


def _replace_commit(
    spark: SparkSession,
    warehouse: str,
    table_name: str,
    build,  # (tip_manifest, schema) -> (affected, rewritten_df, schema_out)
    max_retries: int = 3,
    op: str = "replace",
    n_files: int | None = None,
) -> int:
    """The one OCC loop for commits whose payload is a SNAPSHOT of their
    parent: row-level DML (``op="replace"``) and compaction
    (``op="compact"``). ``build`` runs against the tip read after the
    reservation and returns which files to drop, the rewrite of their
    surviving rows, and the (possibly evolved) output schema. The
    rewrite lands in ``data/v{N}`` — ``n_files`` files when given, else
    rebalance-sized — and the manifest is the tip's files minus the
    affected ones plus the rewrite, carrying every batch id forward.
    A ``build`` that returns ``None`` has nothing to rewrite: the
    reservation is released and the tip version returned, uncommitted.

    Unlike an append, whose files are parent-independent, the payload
    targeted one exact state, so a lost race gives way: a flip refused
    by the linearized commit (:class:`StaleParentError`) or a parent
    whose files GC reclaimed mid-build retries the WHOLE operation
    against the new tip, and :class:`ConcurrentWriteError` is raised
    after ``max_retries`` lost races. Returns the committed version."""
    from pyspark.sql.types import StructType

    root, vroot, droot = _paths(warehouse, table_name)
    fs, _, jvm = _hadoop_fs(spark, root)
    last: Exception | None = None
    healed_once = False
    for _ in range(max_retries):
        version = _reserve_version(fs, vroot, jvm)
        try:
            parent, man = _resolve_tip(
                fs, vroot, jvm, f"{table_name} ({root})"
            )
            schema = StructType.fromJson(json.loads(man["schema"]))
            ddir = f"{droot}/v{version}"
            try:
                built = build(man, schema)
                if built is None:
                    _release_reservation(fs, vroot, version, jvm)
                    return parent
                affected, rewritten, schema_out = built
                # r13 (guide §6): the survivor rewrite otherwise
                # inherits one partition per affected input file, so
                # a CoW UPDATE touching N small files writes ~N small
                # files again — rebalance heals the layout instead of
                # perpetuating it (same sizing as the append path).
                out = (
                    rewritten.repartition(n_files)
                    if n_files else rebalance_output(rewritten)
                )
                out.write.mode("overwrite").parquet(ddir)
            except Exception as exc:
                if not _is_missing_file_error(exc):
                    raise
                # the pinned parent's files were GC'd mid-build: rebase
                # onto the current tip and rebuild against live files
                raise _Conflict(
                    f"parent {parent} files reclaimed by GC mid-build"
                ) from exc
            # debris: survivor rewrite on disk, commit never ran
            _crash_point("after_rewrite_write")
            affected_set = set(affected)
            files = [f for f in man["files"] if f not in affected_set]
            files += _list_parquet(fs, ddir, jvm)
            file_stats = {
                f: s
                for f, s in man.get("file_stats", {}).items()
                if f not in affected_set
            }
            # cheap early check before taking the commit lock: a racing
            # commit since the rebase read means our rewrite targeted a
            # stale tip (the lock would refuse it anyway — this just
            # skips the lock round-trip for definitely-stale flips)
            now = _committed_manifest_versions(fs, vroot, jvm)
            if now and now[-1] != parent:
                raise _Conflict(f"tip moved {parent} -> {now[-1]}")
            try:
                _commit_manifest(
                    spark, fs, vroot, version, files,
                    json.dumps(schema_out.jsonValue()), jvm,
                    parent=parent, op=op,
                    batch_ids=man.get("batch_ids", []),
                    file_stats=file_stats,
                )
            except StaleParentError as exc:
                # the linearized flip refused a stale parent: the
                # rewrite targeted superseded state — retry the whole
                # operation against the new tip. (This closed the
                # near-simultaneous-walk race where two replaces flipped
                # parented on the same manifest and neither's own
                # post-commit walk saw the other.)
                raise _Conflict(str(exc)) from exc
            try:
                heal_manifest_table(spark, warehouse, table_name)
            except Exception:
                # OUR commit is durably on the tip; NO best-effort heal
                # failure (transient orphan ConcurrentWriteError,
                # reservation churn) may convert this success into a
                # caller-visible failure — an application-level retry of
                # a non-idempotent UPDATE would double-apply (review
                # r12). The next writer/GC heals.
                _log.warning(
                    "post-%s heal of %s deferred", op, table_name,
                    exc_info=True,
                )
            return version
        except _Conflict as exc:
            _release_reservation(fs, vroot, version, jvm)
            last = exc
            # heal once, on the FIRST conflict only: under linearized
            # commits a refused flip leaves nothing of OURS to repair —
            # the heal is for crash debris or a legacy divergent
            # history that may be blocking the table, and that either
            # heals on the first pass or needs the loud post-retry
            # failure. Healing on every conflict paid an O(all
            # manifests) scan per lost race for a removed failure mode
            # (review r11).
            if not healed_once:
                healed_once = True
                try:
                    heal_manifest_table(spark, warehouse, table_name)
                except (ConcurrentWriteError, FileNotFoundError):
                    pass
        except Exception:
            _release_reservation(fs, vroot, version, jvm)
            raise
    raise ConcurrentWriteError(
        f"{op} on {table_name} lost {max_retries} optimistic races"
    ) from last


def _list_parquet(fs, path, jvm) -> list[str]:
    HPath = jvm.org.apache.hadoop.fs.Path
    return [
        st.getPath().toString()
        for st in fs.listStatus(HPath(path))
        if st.getPath().getName().endswith(".parquet")
    ]


def _parent_of(mans: dict[int, dict], versions: list[int], v: int):
    """Parent version of ``v``: the recorded pointer, or (for manifests
    written before parent tracking) the immediately preceding committed
    version — the old protocol was single-writer-linear by assumption."""
    p = mans[v].get("parent", _LEGACY)
    if p is _LEGACY:
        idx = versions.index(v)
        return versions[idx - 1] if idx > 0 else None
    return p


def _lineage(mans: dict[int, dict], versions: list[int], tip: int) -> set[int]:
    chain: set[int] = set()
    v: int | None = tip
    while v is not None and v in mans and v not in chain:
        chain.add(v)
        v = _parent_of(mans, versions, v)
    return chain


def _find_batch_version(fs, vroot, versions, jvm, batch_id: str):
    """The committed version that already carries ``batch_id``, or None.
    Fast path: ONE manifest read — the tip's carried-forward
    ``batch_ids`` set is the complete id history of its lineage
    (appends, reconciliations, and compactions all union it forward),
    and every append heals orphans before returning, so a miss there is
    authoritative. Only a pre-``batch_ids`` legacy tip falls back to the
    per-version field scan. (Replays of the SAME batch_id are sequential
    by the foreachBatch contract — never raced concurrently.)"""
    for _ in range(10):
        if not versions:
            return None
        tip = versions[-1]
        tipman = _read_manifest_or_none(fs, vroot, tip, jvm)
        if tipman is None:  # tip vanished under us: re-list, re-resolve
            versions = _committed_manifest_versions(fs, vroot, jvm)
            continue
        if "batch_ids" in tipman:
            if batch_id not in tipman["batch_ids"]:
                return None
            for v in versions:  # report the ORIGINAL commit when retained
                m = _read_manifest_or_none(fs, vroot, v, jvm)
                if m is not None and m.get("batch_id") == batch_id:
                    return v
            return tip
        for v in versions:
            m = _read_manifest_or_none(fs, vroot, v, jvm)
            if m is not None and m.get("batch_id") == batch_id:
                return v
        return None
    raise ConcurrentWriteError(
        f"tip kept vanishing while resolving batch {batch_id!r}"
    )


def manifest_batch_version(
    spark: SparkSession,
    warehouse: str,
    table_name: str,
    batch_id: str | int,
) -> int | None:
    """The committed version that already carries ``batch_id``, or None
    (also None for a table with no committed versions). Public read-only
    probe over the same lineage-carried ``batch_ids`` set the append's
    idempotency check uses — the streaming sink's legacy-id dual lookup
    (streaming/manifest_sink.py) is its first caller."""
    root, vroot, _droot = _paths(warehouse, table_name)
    fs, _, jvm = _hadoop_fs(spark, root)
    versions = _committed_manifest_versions(fs, vroot, jvm)
    return _find_batch_version(fs, vroot, versions, jvm, str(batch_id))


def heal_manifest_table(
    spark: SparkSession,
    warehouse: str,
    table_name: str,
    max_rounds: int = 10,
) -> int:
    """Reconcile commit-order inversions: every committed APPEND whose
    own contribution (its files minus its parent's) is missing from the
    current tip gets re-appended, and every committed REPLACE the tip
    lineage skipped gets REPLAYED at file granularity — both folded into
    ONE reconciliation commit; manifest surgery only, no data movement.
    Orphaned compacts are skipped (redundant rewrites; GC reclaims their
    files).

    Replace replay: a replace manifest is ``parent.files − affected +
    rewrites``, and data files are immutable, so whenever the tip still
    holds EVERY affected file, removing them and adding the rewrites
    applies exactly the DML's effect to exactly the rows it committed
    against — concurrent appends' rows are untouched, the same
    serialization the live protocol produces when the replace wins the
    race. A synthetic ``__replayed_replace_{v}`` batch id (carried
    forward like every id) makes the replay exactly-once per lineage.
    When some affected file is GONE from the tip (another replace or a
    compact on the tip lineage consumed it) the conflict is genuinely
    row-level and :class:`ConcurrentWriteError` is raised — that is the
    only remaining unmergeable state, down from "any orphaned replace"
    (the N-writer stress showed near-simultaneous racing walks can leave
    orphaned replaces that no writer's own retract catches).

    Returns the number of reconciliation commits made (0 = already
    convergent). Every writer calls this after its own commit, and GC
    calls it before dropping manifests, so unhealed orphans are never
    garbage-collected."""
    root, vroot, _ = _paths(warehouse, table_name)
    fs, _, jvm = _hadoop_fs(spark, root)
    healed = 0
    for _ in range(max_rounds):
        versions = _committed_manifest_versions(fs, vroot, jvm)
        if not versions:
            return healed
        mans = {}
        for v in versions:
            m = _read_manifest_or_none(fs, vroot, v, jvm)
            if m is not None:
                mans[v] = m
        versions = [v for v in versions if v in mans]
        if not versions:
            continue  # everything listed vanished (GC): re-list
        tip = versions[-1]
        chain = _lineage(mans, versions, tip)
        tipman = mans[tip]
        tip_ids = set(tipman.get("batch_ids", []))
        working = set(tipman["files"])
        # files DELIBERATELY removed on the tip lineage (replace commits
        # and replayed reconciliations): an orphan whose files intersect
        # this set must NOT re-add them — when the chain walk breaks at
        # a dangling link, even the ROOT manifest classifies as orphaned,
        # and unioning its full list back resurrected rows both DMLs had
        # removed (N-writer stress: +325 duplicate keys, the exact
        # original∩rewrite overlap, with the delete undone)
        removed_on_chain: set[str] = set()
        for cv in chain:
            cp = _parent_of(mans, versions, cv)
            if cp in mans:
                removed_on_chain |= set(mans[cp]["files"]) - set(
                    mans[cv]["files"]
                )
        file_stats = dict(tipman.get("file_stats", {}))
        ids_add: set[str] = set()
        schemas_add = []
        changed = False
        def _apply_delta(v, m, adds, removes, own_ids):
            """Fold one orphan's (adds, removes) file delta into the
            working set, idempotently. Removal deltas are order- and
            state-sensitive: applying one twice — or onto a lineage that
            already consumed the files another way — would corrupt, so
            an already-applied delta is a no-op and a partially
            applicable one raises."""
            nonlocal changed

            def _register_ids():
                # even when the FILE delta is already applied, its ids
                # must reach the lineage: a missing batch id lets a
                # client retry re-append the same batch as new files
                # (duplicate rows), and a missing replay marker makes
                # downstream checks re-litigate a replay that already
                # ran (false conflicts)
                nonlocal changed
                new = own_ids - tip_ids - ids_add
                if new:
                    ids_add.update(new)
                    changed = True

            # never resurrect a file the tip lineage deliberately removed
            adds = [f for f in adds if f not in removed_on_chain]
            adds = [f for f in adds if f not in working] if not removes \
                else list(adds)
            if removes:
                if all(a in working for a in adds) and not (
                    removes & working
                ):
                    _register_ids()
                    return  # delta already applied on this lineage
                if not removes <= working:
                    raise ConcurrentWriteError(
                        f"version {v} of {table_name} is an orphaned "
                        f"commit whose removed files are no longer on "
                        f"the tip ({tip}) — genuinely conflicting "
                        "row-level changes; retry the DML"
                    )
                working.difference_update(removes)
                for f in removes:
                    file_stats.pop(f, None)
            elif not adds:
                _register_ids()
                return
            working.update(adds)
            fstats = m.get("file_stats", {})
            for f in adds:
                if f in fstats:
                    file_stats[f] = fstats[f]
            ids_add.update(own_ids)
            schemas_add.append(m["schema"])
            changed = True

        for v in versions:  # ascending: a consistent serialization order
            if v in chain:
                continue
            m = mans[v]
            op = m.get("op", "append")
            if op == "compact":
                continue
            p = _parent_of(mans, versions, v)
            if op == "replace":
                marker = f"__replayed_replace_{v}"
                if marker in tip_ids or marker in ids_add:
                    continue  # already replayed on this lineage
                if p is None or p not in mans:
                    raise ConcurrentWriteError(
                        f"orphaned replace {v} of {table_name}: its "
                        f"parent manifest {p} is gone, so its affected "
                        "file set cannot be computed — retry the DML"
                    )
                pf = set(mans[p]["files"])
                _apply_delta(
                    v, m,
                    [f for f in m["files"] if f not in pf],
                    pf - set(m["files"]),
                    {marker},
                )
                continue
            if op != "append":
                raise ConcurrentWriteError(
                    f"version {v} of {table_name} is an orphaned {op!r} "
                    f"commit (tip {tip} skipped it) — unknown op, cannot "
                    "reconcile"
                )
            if p is None:
                _apply_delta(
                    v, m, list(m["files"]), set(),
                    set(m.get("batch_ids", [])),
                )
            elif p in mans:
                pf = set(mans[p]["files"])
                # FULL delta, not a union: a heal reconciliation commit
                # is op=append but may carry REMOVALS (replayed DML).
                # Re-adding only its additions while importing its
                # __replayed_replace markers would both duplicate the
                # rewrite rows against the originals AND suppress the
                # re-replay that could have fixed it (caught by the
                # N-writer stress: +75 rows, exactly one partial-file
                # DML-overlap). Own ids only — the ids it INTRODUCED —
                # because its inherited ids describe ITS parent's
                # lineage, whose files are not part of this delta.
                own_ids = set(m.get("batch_ids", [])) - set(
                    mans[p].get("batch_ids", [])
                )
                on_lineage = tip_ids | ids_add
                if own_ids and own_ids <= on_lineage:
                    # every id this orphan introduced already reached
                    # this lineage through other commits (batch ids =
                    # the batches landed, possibly as retry-written
                    # copies with DIFFERENT files — re-adding the
                    # originals would duplicate the batch; markers = the
                    # replays ran), so its delta is semantically applied
                    # even when the FILES have since been rewritten
                    continue
                removes = pf - set(m["files"])
                own_markers = {
                    i for i in own_ids
                    if i.startswith("__replayed_replace_")
                }
                if removes and own_markers and own_markers <= on_lineage:
                    # all of its REMOVAL content (replays) already ran on
                    # this lineage; its remaining add-only pieces belong
                    # to source append manifests that this same loop
                    # re-discovers directly — applying the stale file
                    # delta here would raise a false conflict on the
                    # partial overlap (stranded-reconciliation shape
                    # from the N-writer stress)
                    continue
                _apply_delta(
                    v, m,
                    [f for f in m["files"] if f not in pf],
                    removes,
                    own_ids,
                )
            else:
                # DANGLING parent. An append's own contribution is
                # structurally the files under its own data/v{N}
                # directory — exact for data-writing appends, and it
                # cannot resurrect rows a replace deleted (the inherited
                # part of the child's list, which may predate that
                # replace, is excluded). But WHICH dangling case decides
                # whether re-adding is safe:
                # prefer the RECORDED marker: a burned-number rebase
                # commits version N with data under data/vM, and
                # inferring from /data/vN/ would read an empty
                # contribution as "already on the tip" and silently
                # drop the batch (review r11); the positional fallback
                # covers pre-marker manifests
                own_dir = m.get("own_dir") or f"/data/v{v}/"
                own = [f for f in m["files"] if own_dir in f]
                if all(f in working for f in own):
                    # contribution already on the tip (the common state
                    # after GC drops an already-reconciled orphan's
                    # parent) — nothing to heal. Note a reconciliation
                    # commit has NO own-dir files, so its delta
                    # (including removals) is deliberately dropped here:
                    # its imported appends are committed manifests that
                    # are re-discovered directly, and its replays stay
                    # un-marked so the replace replays again when safe.
                    continue
                if p >= versions[0]:
                    # hole WITHIN the retained range = a parent retracted
                    # under this racing child; no descendant compact can
                    # already carry these rows (it would put v on the tip
                    # lineage), so the own-dir files are the exact,
                    # safe-to-add contribution. Own batch id only — the
                    # inherited id set cannot be split without the parent
                    own_ids = {m["batch_id"]} if m.get("batch_id") else set()
                    if own_ids and own_ids <= (tip_ids | ids_add):
                        continue  # the batch already landed here
                    _apply_delta(v, m, own, set(), own_ids)
                else:
                    # parent below the retention floor = GC'd history: a
                    # GC'd compact on the tip lineage may ALREADY carry
                    # these rows in rewritten files — re-adding would
                    # silently duplicate them (caught by the N-writer
                    # stress). Unknowable → fail loud, never corrupt.
                    raise ConcurrentWriteError(
                        f"orphaned append {v} of {table_name}: its parent "
                        f"manifest {p} was GC'd and the tip is missing "
                        "some of its files — cannot prove the rows are "
                        "not already present in compacted form"
                    )
        if not changed:
            return healed
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(tipman["schema"]))
        for sj in schemas_add:
            schema = merge_schemas(
                schema, StructType.fromJson(json.loads(sj))
            )
        version = _reserve_version(fs, vroot, jvm)
        try:
            _commit_manifest(
                spark, fs, vroot, version,
                sorted(working),
                json.dumps(schema.jsonValue()), jvm,
                parent=tip, op="append",
                batch_ids=sorted(tip_ids | ids_add),
                file_stats=file_stats,
                # every file this commit ADDS vs its parent is a re-add
                # from an already-committed orphan version — the
                # changefeed must NOT emit it again (the orphan's own
                # version already did); flagged like compaction's
                # byte-movement (review r12)
                reconciliation=True,
            )
        except StaleParentError:
            # a writer committed while this round computed: its commit
            # (linear) subsumes the tip we reconciled against — re-list
            # and reconcile against the new tip next round
            _release_reservation(fs, vroot, version, jvm)
            continue
        except BaseException:
            # same discipline as append/compact: a reservation leaked on
            # a failed commit would permanently stall cleanup_orphan_files
            _release_reservation(fs, vroot, version, jvm)
            raise
        healed += 1
    return healed


def _append_rebase(
    fs, vroot, jvm, label: str, schema
) -> tuple[int | None, list[str], dict, list[str], object]:
    """An append's rebase state against the current tip: (parent, its
    files, its file stats, its batch ids, ``schema`` merged add-only
    onto its schema). Metadata only — the append's data files are
    parent-independent, so a rebase never rewrites them. An empty table
    rebases onto nothing: ``(None, [], {}, [], schema)``; a tip that
    vanishes between the listing and the read is re-resolved
    (:func:`_resolve_tip`)."""
    from pyspark.sql.types import StructType

    try:
        parent, man = _resolve_tip(fs, vroot, jvm, label)
    except FileNotFoundError:
        return None, [], {}, [], schema
    live = StructType.fromJson(json.loads(man["schema"]))
    return (
        parent,
        man["files"],
        man.get("file_stats", {}),
        man.get("batch_ids", []),
        merge_schemas(live, schema),
    )


def append_manifest_table(
    spark: SparkSession,
    warehouse: str,
    table_name: str,
    df: DataFrame,
    n_files: int | None = None,
    batch_id: str | int | None = None,
    stats_cols: list[str] | None = None,
) -> int:
    """Append ``df`` as a new version whose manifest = parent files +
    this batch's files. O(batch) data written; old files untouched.
    Add-only schema evolution: the batch is aligned to the merged schema
    (missing fields NULL, conflicting primitives coerced); EXISTING files
    stay as written — the reader supplies the evolved schema, exactly the
    parquet-mergeSchema economics of write_table.

    Concurrency: the parent manifest is read AFTER the version
    reservation is won, and the linearized flip refuses any parent that
    is no longer the tip; the append then rebases on METADATA only
    (:func:`_append_rebase` — its data files are parent-independent)
    and retries the flip, so racing appends converge to a tip
    containing both batches.

    ``batch_id`` makes the append IDEMPOTENT: if the table has ever
    committed this id, the call is a no-op returning that version (the
    tip manifest carries ALL ids forward — compaction and GC included) —
    the exactly-once contract a streaming foreachBatch sink needs across
    restarts (streaming/manifest_sink.py).

    ``stats_cols`` records the batch's min/max for those columns against
    every file the batch created — Iceberg-style scan-planning stats:
    ``read_manifest_table(prune=[(col, lo, hi)])`` then drops files whose
    recorded range misses the predicate WITHOUT opening a single footer
    (batch granularity — daily batches make this date-range pruning of
    history, the incremental-query fast path)."""
    root, vroot, droot = _paths(warehouse, table_name)
    fs, _, jvm = _hadoop_fs(spark, root)
    versions = _committed_manifest_versions(fs, vroot, jvm)
    if batch_id is not None:
        seen = _find_batch_version(fs, vroot, versions, jvm, str(batch_id))
        if seen is not None:
            return seen
    version = _reserve_version(fs, vroot, jvm)
    _crash_point("after_reserve")  # debris: a bare __reserved marker
    label = f"{table_name} ({root})"
    try:
        # REBASE: everything about the parent is read after the
        # reservation (idempotency recheck included — its tip-churn
        # retries must not leak the reservation on exhaustion)
        versions = _committed_manifest_versions(fs, vroot, jvm)
        if batch_id is not None:
            seen = _find_batch_version(
                fs, vroot, versions, jvm, str(batch_id)
            )
            if seen is not None:
                _release_reservation(fs, vroot, version, jvm)
                return seen
        parent, prev_files, prev_stats, prev_ids, target_schema = (
            _append_rebase(fs, vroot, jvm, label, df.schema)
        )
        if parent is not None:
            df = _align_to(df, target_schema)
        ddir = f"{droot}/v{version}"
        # the data dir is pinned to the ORIGINAL reserved number: a
        # burned-number rebase re-commits under a fresh version WITHOUT
        # rewriting data, so the commit records this marker for heal
        own_marker = f"/data/v{version}/"
        # r13 (guide §6): default-path appends are REBALANCE-sized so a
        # micro-batch lands as one advisory-sized file instead of one
        # tiny file per input partition — every commit's manifest carries
        # the full live file list, so the batch's file count IS the
        # metadata slope (measured: bench.py write_paths
        # meta_bytes_per_commit). Explicit n_files still wins.
        out = df.repartition(n_files) if n_files else rebalance_output(df)
        batch_stats = None
        if stats_cols:
            from pyspark.sql import functions as F

            out = out.localCheckpoint(eager=True)  # stats+write: one compute
            row = out.agg(
                *[F.min(c).alias(f"__lo_{c}") for c in stats_cols],
                *[F.max(c).alias(f"__hi_{c}") for c in stats_cols],
            ).collect()[0]

            def _j(v):
                # JSON-safe stat values; non-primitives (timestamps,
                # dates, decimals) become ISO-format strings, which
                # compare lexicographically consistently — pass prune
                # bounds in the same string form for those columns
                return (
                    v
                    if isinstance(v, (int, float, str, type(None)))
                    else str(v)
                )

            batch_stats = {
                c: [_j(row[f"__lo_{c}"]), _j(row[f"__hi_{c}"])]
                for c in stats_cols
            }
        out.write.mode("overwrite").parquet(ddir)
        _crash_point("after_data_write")  # debris: orphan data dir + marker
        new_files = _list_parquet(fs, ddir, jvm)
        # LINEARIZED FLIP: the commit lock inside _commit_manifest
        # refuses any parent that is not the live tip, so committed
        # history is linear by construction — no stale flip can orphan a
        # concurrent replace's DML (the N-writer stress showed divergent
        # histories are not always mergeable). Our data files are
        # parent-independent: a rebase re-reads only manifest JSON.
        for _ in range(60):
            file_stats = dict(prev_stats)
            if batch_stats is not None:
                for f in new_files:
                    file_stats[f] = batch_stats
            batch_ids = set(prev_ids)
            if batch_id is not None:
                batch_ids.add(str(batch_id))
            try:
                _commit_manifest(
                    spark, fs, vroot, version,
                    prev_files + new_files,
                    json.dumps(target_schema.jsonValue()), jvm,
                    parent=parent, op="append",
                    batch_ids=sorted(batch_ids),
                    batch_id=None if batch_id is None else str(batch_id),
                    file_stats=file_stats,
                    own_dir=own_marker,
                )
                break
            except StaleParentError:
                # another writer committed first: rebase onto the new
                # tip (idempotency recheck included — it may have been a
                # replay of OUR batch id from a competing client)
                versions = _committed_manifest_versions(fs, vroot, jvm)
                if versions and version <= versions[-1]:
                    # our number is now BELOW the tip: number order must
                    # equal commit order, so burn it and take a fresh
                    # one (the data stays in its original dir — the
                    # manifest references files by path, not by number)
                    _release_reservation(fs, vroot, version, jvm)
                    version = _reserve_version(fs, vroot, jvm)
                    versions = _committed_manifest_versions(fs, vroot, jvm)
                if batch_id is not None:
                    seen = _find_batch_version(
                        fs, vroot, versions, jvm, str(batch_id)
                    )
                    if seen is not None:
                        _release_reservation(fs, vroot, version, jvm)
                        return seen
                parent, prev_files, prev_stats, prev_ids, target_schema = (
                    _append_rebase(fs, vroot, jvm, label, target_schema)
                )
        else:
            raise ConcurrentWriteError(
                f"tip of {table_name} kept moving during append rebase"
            )
    except Exception:
        # the reservation must not leak on ANY pre-commit failure
        # (_find_batch_version churn, write failure, rebase exhaustion)
        _release_reservation(fs, vroot, version, jvm)
        raise
    try:
        heal_manifest_table(spark, warehouse, table_name)
    except ConcurrentWriteError:
        # heal found an orphan it cannot merge (crash debris or a
        # legacy divergent history); OUR append is durably committed —
        # re-raising would make retry-driven callers append the same
        # batch twice. The next writer/GC heals or reports it.
        _log.warning(
            "post-append heal of %s deferred: unmergeable orphan",
            table_name,
        )
    return version


def is_manifest_table(
    spark: SparkSession, warehouse: str, table_name: str
) -> bool:
    """True when the table carries a committed manifest layout — the
    signal io.analyze_table uses to profile LIVE rows/bytes instead of
    globbing a directory that also holds dead (pre-GC) rewrite files."""
    root, vroot, _ = _paths(warehouse, table_name)
    fs, _, jvm = _hadoop_fs(spark, root)
    return bool(_committed_manifest_versions(fs, vroot, jvm))


def live_file_bytes(
    spark: SparkSession, warehouse: str, table_name: str
) -> int:
    """Total on-disk bytes of the TIP manifest's member files only —
    copy-on-write DML leaves replaced files on disk until GC, so a
    directory content summary overstates the live table (and with it
    every size-derived planner decision). O(#live files) metadata
    calls, no data read."""
    root, _, _ = _paths(warehouse, table_name)
    fs, _, jvm = _hadoop_fs(spark, root)
    HPath = jvm.org.apache.hadoop.fs.Path
    total = 0
    for f in manifest_file_list(spark, warehouse, table_name):
        total += int(fs.getFileStatus(HPath(f)).getLen())
    return total


def manifest_file_list(
    spark: SparkSession,
    warehouse: str,
    table_name: str,
    version: int | None = None,
    prune: list[tuple] | None = None,
) -> list[str]:
    """The version's member files after stats pruning — the scan-planning
    primitive read_manifest_table builds on (exposed for tests/tooling).
    ``prune`` entries are (col, lo, hi) closed ranges; a file is dropped
    only when its RECORDED range provably misses one — files without
    stats for the column are always kept (pruning may keep extra files,
    never lose rows)."""
    root, vroot, _ = _paths(warehouse, table_name)
    fs, _, jvm = _hadoop_fs(spark, root)
    _, man = _resolve_manifest(fs, vroot, jvm, root, table_name, version)
    return _prune_files(man, prune)


def _resolve_manifest(
    fs, vroot, jvm, root: str, table_name: str, version: int | None
) -> tuple[int, dict]:
    """Resolve (version, manifest): the tip when ``version`` is None
    (vanish-tolerant via _resolve_tip), else the pinned version —
    which fails LOUDLY when missing or GC'd (time travel to a
    collected version has no consistent answer)."""
    if version is None:
        return _resolve_tip(fs, vroot, jvm, f"{table_name} ({root})")
    versions = _committed_manifest_versions(fs, vroot, jvm)
    if not versions:
        raise FileNotFoundError(
            f"no committed manifest versions under {root}"
        )
    if version not in versions:
        raise FileNotFoundError(
            f"manifest version {version} of {table_name} not available"
            f" (committed: {versions})"
        )
    man = _read_manifest_or_none(fs, vroot, version, jvm)
    if man is None:
        raise FileNotFoundError(
            f"manifest version {version} of {table_name} was GC'd"
        )
    return version, man


def _prune_files(man: dict, prune: list[tuple] | None) -> list[str]:
    """Apply (col, lo, hi) recorded-range pruning to a manifest's file
    list (files without stats for a column are always kept — pruning
    may keep extra files, never lose rows)."""
    files = man["files"]
    if prune:
        stats = man.get("file_stats", {})
        kept = []
        for f in files:
            st = stats.get(f)
            drop = False
            if st:
                for col, lo, hi in prune:
                    rng = st.get(col)
                    if rng is None or rng[0] is None or rng[1] is None:
                        continue
                    if rng[1] < lo or rng[0] > hi:
                        drop = True
                        break
            if not drop:
                kept.append(f)
        files = kept
    return files


def read_manifest_table(
    spark: SparkSession,
    warehouse: str,
    table_name: str,
    version: int | None = None,
    prune: list[tuple] | None = None,
) -> DataFrame:
    """Read a committed manifest version (latest by default; explicit
    ``version`` = time travel). The manifest's schema is applied on read,
    so pre-evolution files surface NULLs for later columns without
    mergeSchema footer sampling. ``prune`` drops files by recorded batch
    stats BEFORE Spark sees a path (manifest_file_list) — callers still
    apply the row-level predicate; pruning only shrinks the scan."""
    root, vroot, _ = _paths(warehouse, table_name)
    fs, _, jvm = _hadoop_fs(spark, root)
    version, man = _resolve_manifest(
        fs, vroot, jvm, root, table_name, version
    )
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(man["schema"]))
    files = _prune_files(man, prune)
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*files)


def compact_manifest_table(
    spark: SparkSession,
    warehouse: str,
    table_name: str,
    n_files: int = 8,
    max_retries: int = 3,
) -> int:
    """Rewrite the current version into ``n_files`` files and commit a
    manifest referencing ONLY the rewrite — readers of prior versions
    keep their file lists; nothing is deleted here (see gc). The commit
    records parent + carries every seen batch_id forward, so streaming
    replay detection survives compaction + GC.

    Concurrency: a compact's payload is a SNAPSHOT of its parent's exact
    contents, so — unlike appends, whose file unions commute — flipping
    it over a tip that moved during the (slow) rewrite would drop every
    commit that landed meanwhile, including replaces whose row-level DML
    heal can never re-merge (the lost-update class the N-writer stress
    caught: a compact racing two DMLs orphaned both). The linearized
    commit (:class:`StaleParentError` from the lock) refuses exactly
    that flip; a lost race means the rewrite targeted superseded state,
    so the whole compact retries from the new tip — the same
    :func:`_replace_commit` loop as row-level DML, with every tip file
    affected. Compaction is pure optimization: contention resolution is
    simply give way. Raises :class:`ConcurrentWriteError` after
    ``max_retries`` lost races — maintenance callers retry or skip.

    A tip already at or below ``n_files`` files is left alone: nothing
    is written or committed and the tip version is returned. Rewriting
    it would buy nothing, and under a maintenance loop every such
    rewrite is one more snapshot commit racing the table's DML."""

    def build(man, schema):
        files = man["files"]
        if len(files) <= n_files:
            return None
        current = (
            spark.read.schema(schema).parquet(*files)
            if files
            else spark.createDataFrame([], schema)
        )
        return files, current, schema

    return _replace_commit(
        spark, warehouse, table_name, build,
        max_retries=max_retries, op="compact", n_files=n_files,
    )


def cleanup_orphan_files(
    spark: SparkSession,
    warehouse: str,
    table_name: str,
    reservation_timeout_sec: float = 3600.0,
    abandoned_reclaim_sec: float | None = None,
) -> int:
    """Delete data files referenced by NO committed manifest — the
    debris of writes whose commit never landed: a replace or compact
    that lost its race leaves its rewrite under ``data/v{N}`` (see
    :func:`_replace_commit`), and a crashed writer leaves its batch.
    Returns the number of files removed.

    Safety rules, both required:
      - a file is removable only if NO committed manifest lists it
        (union over every version, not just retained ones — this is the
        orphan sweeper, gc_manifest_table owns retention);
      - its ``data/v{N}`` directory must be non-live: N ≤ the committed
        tip AND not currently reserved — an in-flight writer streams
        into its reserved version's directory before committing.

    A reservation marker older than ``reservation_timeout_sec`` is
    treated as ABANDONED (a writer killed between reserve and release):
    without an age cutoff, one crashed writer would disable orphan
    cleanup for the table forever. Abandoned markers are ignored for the
    writer-in-flight abort but their ``data/v{N}`` directory is still
    skipped — presumed-dead is not proven-dead, and skipping one
    directory costs nothing while deleting a live writer's in-flight
    files would corrupt its commit.

    ``abandoned_reclaim_sec`` (opt-in; pick a proven-dead horizon, e.g.
    7 days — far beyond any legitimate write duration) closes the leak
    that rule leaves: a crashed writer's marker otherwise pins its
    partial ``data/v{N}`` write forever. A marker older than the horizon
    is reclaimed — its dir's unreferenced over-age files deleted, then
    the marker itself (marker LAST: while it exists no writer can claim
    that number, so the file deletes cannot race a fresh write into the
    dir). Two guards: a marker whose number IS committed (a writer died
    after the flip, before releasing) loses only the marker — its files
    are live; a not-committed number ABOVE the tip whose dir holds
    referenced files (a heal replay adopted them) keeps its marker as
    the reuse guard, since deleting it would let a new claimant
    parquet-overwrite referenced data.

    The writer-in-flight fence runs TWICE — before and after building
    the referenced set — and the committed version SET must be identical
    across the build. A one-shot check goes stale mid-sweep: the traced
    N-writer failure (under the pre-linearization protocol, whose
    appends retracted and re-committed) had files momentarily
    referenced by nothing between the single marker check and the
    sweep, and cleanup deleted data files the re-commit then
    referenced. Any writer activity in the window leaves evidence — a
    fresh marker (reserve always precedes commit) or a version-set
    change — so the double fence catches it and the sweep aborts to the
    next cycle. Files younger than ``reservation_timeout_sec`` are also
    never deleted (vacuum retention): an unreferenced-looking young file
    may be an in-flight writer's just-written batch."""
    import time

    root, vroot, droot = _paths(warehouse, table_name)
    fs, _, jvm = _hadoop_fs(spark, root)
    HPath = jvm.org.apache.hadoop.fs.Path

    def _fresh_reservation() -> bool:
        now_ms = time.time() * 1000.0
        for st in fs.listStatus(HPath(vroot)):
            if st.getPath().getName().endswith(".__reserved"):
                age_ms = now_ms - st.getModificationTime()
                if age_ms < reservation_timeout_sec * 1000.0:
                    return True
        return False

    # any live reservation = an in-flight writer that may be about to
    # commit references to files this sweep would classify as orphans
    # (e.g. an append whose batch is written but not yet committed) —
    # the only safe sweep is one with no FRESH reservation in flight
    if _fresh_reservation():
        return 0
    versions = _committed_manifest_versions(fs, vroot, jvm)
    if not versions:
        return 0
    tip = versions[-1]
    referenced: set[str] = set()
    for v in versions:
        m = _read_manifest_or_none(fs, vroot, v, jvm)
        if m is None:
            return 0  # GC'd under the build: collector active, abort
        referenced.update(m["files"])
    # second fence: a writer that started or committed while
    # the referenced set was building leaves a marker or changes the set
    if _fresh_reservation():
        return 0
    if _committed_manifest_versions(fs, vroot, jvm) != versions:
        return 0
    cutoff_ms = time.time() * 1000.0 - reservation_timeout_sec * 1000.0
    removed = 0
    droot_path = HPath(droot)
    if not fs.exists(droot_path):
        return 0
    for st in fs.listStatus(droot_path):
        name = st.getPath().getName()
        if not name.startswith("v"):
            continue
        try:
            n = int(name[1:])
        except ValueError:
            continue
        if n > tip:
            continue  # possibly an in-flight writer past the tip
        if fs.exists(HPath(f"{vroot}/{n}.__reserved")):
            continue  # reserved: a writer is streaming into it
        it = fs.listFiles(st.getPath(), True)
        doomed = []
        while it.hasNext():
            fst = it.next()
            f = fst.getPath()
            if (
                f.getName().endswith(".parquet")
                and f.toString() not in referenced
                # vacuum retention: never touch young files — an
                # unreferenced-LOOKING young file may be a batch an
                # in-flight writer just wrote and is about to commit
                and fst.getModificationTime() < cutoff_ms
            ):
                doomed.append(f)
        for f in doomed:
            fs.delete(f, False)
            removed += 1
    if abandoned_reclaim_sec is not None:
        reclaim_ms = time.time() * 1000.0 - abandoned_reclaim_sec * 1000.0
        committed = set(versions)
        for st in fs.listStatus(HPath(vroot)):
            mname = st.getPath().getName()
            if not mname.endswith(".__reserved"):
                continue
            if st.getModificationTime() >= reclaim_ms:
                continue  # abandoned, but not yet PROVEN dead
            try:
                n = int(mname[: -len(".__reserved")])
            except ValueError:
                continue
            ddir = HPath(f"{droot}/v{n}")
            if n not in committed and fs.exists(ddir):
                it = fs.listFiles(ddir, True)
                doomed, refs_in_dir = [], False
                while it.hasNext():
                    fst = it.next()
                    f = fst.getPath()
                    if not f.getName().endswith(".parquet"):
                        continue
                    if f.toString() in referenced:
                        refs_in_dir = True
                    elif fst.getModificationTime() < cutoff_ms:
                        doomed.append(f)
                if n > tip and refs_in_dir:
                    continue  # marker stays: it is the number-reuse guard
                for f in doomed:
                    fs.delete(f, False)
                    removed += 1
            # marker LAST: while it exists no writer can claim n, so the
            # deletes above cannot race a fresh write into data/v{n}
            fs.delete(st.getPath(), False)
    return removed


def gc_manifest_table(
    spark: SparkSession,
    warehouse: str,
    table_name: str,
    keep_versions: int = 2,
    min_file_age_sec: float = 3600.0,
) -> tuple[int, int]:
    """Drop manifests beyond the ``keep_versions`` most recent, then
    delete data files referenced by NO retained manifest. Returns
    (versions_dropped, files_deleted). Retention IS the reader contract:
    a reader pinned inside the window never loses a file, because files
    are only deleted when no retained manifest lists them. Heals first,
    so an unreconciled orphan commit is folded into the tip before its
    manifest can be dropped — and batch_ids live in every descendant
    manifest, so replay detection never regresses past GC.

    LINEAGE CLOSURE: a manifest referenced as PARENT by any kept
    manifest is also kept (one level). Dropping it would leave a hole
    inside the retained range — if the child is later orphaned by a
    racing commit, heal could no longer compute its exact contribution
    (child.files − parent.files) and would have to fail loud (the
    N-writer stress hit exactly this: an append's parent GC'd between
    the orphaning and the reconciliation). One manifest JSON per kept
    child is the entire cost."""
    heal_manifest_table(spark, warehouse, table_name)
    root, vroot, droot = _paths(warehouse, table_name)
    fs, _, jvm = _hadoop_fs(spark, root)
    HPath = jvm.org.apache.hadoop.fs.Path
    versions = _committed_manifest_versions(fs, vroot, jvm)
    drop = versions[:-keep_versions] if keep_versions else versions
    keep = versions[len(drop):]
    retained: set[str] = set()
    live_segments: set[str] = set()
    parents_kept: set[int] = set()
    for v in keep:
        m = _read_manifest_or_none(fs, vroot, v, jvm)
        if m is not None:
            retained.update(m["files"])
            live_segments.update(m.get("files_segments") or [])
            p = m.get("parent")
            if isinstance(p, int):
                parents_kept.add(p)
    if parents_kept:
        spared = [v for v in drop if v in parents_kept]
        drop = [v for v in drop if v not in parents_kept]
        for v in spared:
            m = _read_manifest_or_none(fs, vroot, v, jvm)
            if m is not None:
                retained.update(m["files"])
                live_segments.update(m.get("files_segments") or [])
    import time

    cutoff_ms = time.time() * 1000.0 - min_file_age_sec * 1000.0
    n_deleted = 0
    for v in drop:
        m = _read_manifest_or_none(fs, vroot, v, jvm)
        if m is None:
            continue  # a racing GC took it: nothing left to collect
        old = m["files"]
        fs.delete(HPath(f"{vroot}/{v}"), True)
        for f in old:
            if f not in retained and fs.exists(HPath(f)):
                # vacuum retention, same rule as cleanup_orphan_files:
                # a young file may be mid-commit in a racing writer's
                # stale-parented file list — skip it this cycle
                if fs.getFileStatus(HPath(f)).getModificationTime() \
                        >= cutoff_ms:
                    continue
                fs.delete(HPath(f), False)
                n_deleted += 1
    # segment sweep: a content-addressed chunk referenced by NO retained
    # manifest is reclaimable once past the vacuum age floor (a chunk a
    # racing commit is about to reference is always young — reuse
    # refreshes mtime, see _write_segments). Two extra guards for the
    # window mtime cannot cover: (a) any FRESH reservation = a writer
    # is between reserve and commit and may be re-adopting a cold chunk
    # whose content resurfaced (and on object stores setTimes is a
    # no-op, so its "refresh" left no trace) — abort the sweep, same
    # fence cleanup_orphan_files runs; (b) each doomed chunk is
    # re-statted immediately before its delete so a refresh that landed
    # after the listing is honored.
    seg_root = f"{vroot}/_segments"
    if fs.exists(HPath(seg_root)):
        import time as _time

        def _fresh_reservation() -> bool:
            now = _time.time() * 1000.0
            for rst in fs.listStatus(HPath(vroot)):
                if rst.getPath().getName().endswith(".__reserved") and \
                        now - rst.getModificationTime() \
                        < min_file_age_sec * 1000.0:
                    return True
            return False

        if _fresh_reservation():
            return len(drop), n_deleted
        for st in fs.listStatus(HPath(seg_root)):
            nm = st.getPath().getName()
            if nm.endswith(".tmp"):
                # debris of a lost same-chunk rename race or a crashed
                # writer: junk by construction once past the age floor
                if st.getModificationTime() < cutoff_ms:
                    fs.delete(st.getPath(), False)
                continue
            if not nm.endswith(".json"):
                continue
            sha = nm[: -len(".json")]
            if sha in live_segments:
                continue
            if st.getModificationTime() >= cutoff_ms:
                continue
            try:  # re-stat: honor a lease refresh newer than the listing
                if fs.getFileStatus(st.getPath()).getModificationTime() \
                        >= cutoff_ms:
                    continue
            except Exception:
                continue  # already gone
            fs.delete(st.getPath(), False)
            _SEGMENT_CACHE.pop(sha, None)
    return len(drop), n_deleted


# honor POPELINES_COMMIT_ARBITER in THIS process (subprocess writers of
# the multi-process drills inherit the env and install the same arbiter)
_install_arbiter_from_env()
