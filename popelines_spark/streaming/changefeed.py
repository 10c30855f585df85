"""Streaming SOURCE from manifest tables — the changefeed twin of the
exactly-once sink (streaming/manifest_sink.py).

``spark.readStream.format("manifest_changefeed")`` turns a manifest
table into an incremental stream: offsets are COMMITTED VERSION numbers,
and each micro-batch emits the rows a version ADDED — its manifest's
files minus its parent's (appends contribute their batch; replace
commits contribute their rewritten rows, i.e. updates surface as new
rows; compaction contributes nothing — it moves bytes, not rows;
deletions are not retracted: this is an append/update feed, the shape
Delta's readChangeFeed=false incremental source exposes).

Determinism across restarts: manifests are immutable and the
version→file-diff mapping is pure, so re-planning batch (start, end]
after a crash yields byte-identical partitions — the checkpointed offset
is all the state there is. GC'ing a manifest inside an un-checkpointed
offset window fails loudly rather than silently skipping data.

Scale: the driver plans one InputPartition per contribution FILE (the
planning cost is manifest-list arithmetic, no data I/O); executors read
their file directly via Arrow. A 100 TB table streams at O(new files)
per trigger regardless of table size.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

_META_COL = "_change_version"


def _table_paths(warehouse: str, table: str):
    from popelines_spark.io import table_path

    root = table_path(warehouse, table)
    return root, f"{root}/versions"


def _committed_versions(vroot: str) -> list[int]:
    if not os.path.isdir(vroot):
        return []
    out = []
    for n in os.listdir(vroot):
        if n.isdigit() and os.path.exists(f"{vroot}/{n}/_COMMITTED"):
            out.append(int(n))
    return sorted(out)


def _read_manifest(vroot: str, version: int) -> dict:
    with open(f"{vroot}/{version}/manifest.json") as f:
        doc = json.load(f)
    segs = doc.get("files_segments")
    if segs is not None:
        # inflate segmented file lists (manifest._write_segments) — this
        # reader runs inside the Python DataSource worker, plain local
        # IO by design, so it expands without the Hadoop FS funnel
        files: list = []
        for sha in segs:
            with open(f"{vroot}/_segments/{sha}.json") as sf:
                files.extend(json.load(sf))
        doc["files"] = files
    return doc


_NULLABLE_KEYS = ("nullable", "containsNull", "valueContainsNull")


def _as_nullable(schema_json):
    """A schema's JSON form with every nullability flag set, nested
    structs, arrays and maps included."""
    if isinstance(schema_json, list):
        return [_as_nullable(v) for v in schema_json]
    if not isinstance(schema_json, dict):
        return schema_json
    return {
        k: True if k in _NULLABLE_KEYS else _as_nullable(v)
        for k, v in schema_json.items()
    }


def _local(p: str) -> str:
    return p[len("file:"):] if p.startswith("file:") else p


class FilePartition(InputPartition):
    def __init__(self, path: str, version: int, columns: list[str]):
        self.path = path
        self.version = version
        self.columns = columns


class ManifestChangefeedReader(DataSourceStreamReader):
    def __init__(self, schema: T.StructType, options: dict):
        self.warehouse = options["warehouse"]
        self.table = options["table"]
        self.start_version = int(options.get("start_version", "0"))
        self.schema = schema
        _, self.vroot = _table_paths(self.warehouse, self.table)

    # -- offsets -----------------------------------------------------
    def initialOffset(self) -> dict:
        return {"version": self.start_version}

    def latestOffset(self) -> dict:
        versions = _committed_versions(self.vroot)
        tip = versions[-1] if versions else self.start_version
        return {"version": max(tip, self.start_version)}

    # -- planning (driver-side, manifest arithmetic only) ------------
    def partitions(self, start: dict, end: dict):
        """Plan the (lo, hi] window reading ONLY the window's manifests
        plus each one's parent — O(window), not O(history) per trigger
        (review r12; the old full-history sweep re-inflated every
        segmented file list on every micro-batch)."""
        lo, hi = start["version"], end["version"]
        versions = _committed_versions(self.vroot)
        mans: dict = {}

        def _load(v: int) -> dict:
            if v not in mans:
                mans[v] = _read_manifest(self.vroot, v)
            return mans[v]

        data_cols = [f.name for f in self.schema.fields if f.name != _META_COL]
        parts = []
        for v in versions:
            if not (lo < v <= hi):
                continue
            try:
                m = _load(v)
            except FileNotFoundError:
                # GONE between listing and read. Distinguish by SHAPE:
                # GC only ever drops the oldest prefix, so a missing
                # version with a surviving OLDER sibling is a racing
                # writer's post-flip self-retract — by definition not
                # part of surviving history, contribution zero; skip it
                # instead of bricking the checkpointed window forever
                # (review r12: the WAL replays the same window on every
                # restart, so an unconditional raise here required
                # manual checkpoint surgery for a harmless retraction).
                # No older survivor ⇒ the retention floor passed v: real
                # replay loss, fail loud. The older-survivor test runs
                # against a FRESH listing (ADVICE r12): a GC pruning the
                # oldest prefix concurrently could leave a genuinely
                # GC'd in-window version with an older sibling in the
                # STALE listing, silently converting the intended loud
                # replay failure into row loss.
                if any(x < v for x in _committed_versions(self.vroot)):
                    continue
                raise RuntimeError(
                    f"manifest_changefeed: version {v} inside the "
                    f"planned offset window ({lo}, {hi}] of table "
                    f"{self.table} was GC'd — cannot replay the batch; "
                    "raise GC retention above the stream's checkpoint lag"
                )
            if m.get("op", "append") == "compact":
                continue  # byte movement, not a row change
            if m.get("reconciliation"):
                # heal's reconciliation: every added file is a re-add
                # from an already-committed orphan version, which emits
                # (or emitted) at its OWN version — emitting here would
                # duplicate the orphan's rows downstream (review r12)
                continue
            p = m.get("parent")
            if p is None and "parent" not in m:
                # legacy manifest: linear-chain parent
                idx = versions.index(v)
                p = versions[idx - 1] if idx > 0 else None
            if p is None:
                contrib = m["files"]
            else:
                try:
                    pf = set(_load(p)["files"])
                except FileNotFoundError:
                    raise RuntimeError(
                        f"manifest_changefeed: version {v}'s parent {p} "
                        "was GC'd inside the un-checkpointed offset "
                        f"window ({lo}, {hi}] of table {self.table} — "
                        "cannot compute its contribution; raise GC "
                        "retention above the stream's checkpoint lag"
                    )
                contrib = [f for f in m["files"] if f not in pf]
            for f in contrib:
                parts.append(FilePartition(_local(f), v, data_cols))
        # an empty batch still needs ≥1 partition for Spark to plan it
        return parts or [FilePartition("", hi, data_cols)]

    # -- execution (executor-side, Arrow) -----------------------------
    def read(self, partition: FilePartition):
        if not partition.path:
            return
        import pyarrow.parquet as pq

        # project at the SCAN: read only the emitted columns that exist
        # in this file (review r12 — a full-width read paid O(all
        # columns) I/O per file for a fixed projection)
        names = set(pq.ParquetFile(partition.path).schema_arrow.names)
        wanted = [c for c in partition.columns if c in names]
        tbl = pq.read_table(partition.path, columns=wanted)
        # r13 (guide §4): yield Arrow RecordBatches instead of per-row
        # Python tuples — the tuple path materialized every replayed row
        # as Python objects and pickled them across the Python→JVM
        # boundary (measured: the dominant cost of a changefeed drain,
        # OPTIMIZATION_r13.md batch 5). The batch path hands the scan's
        # own Arrow buffers straight through; rows never become Python
        # objects. A conversion error raises.
        yield from self._arrow_batches(tbl, names, partition)

    def _arrow_batches(self, tbl, names: set, partition: FilePartition):
        """The projected parquet table as RecordBatches matching the
        declared source schema: pre-evolution files surface later
        columns as typed NULLs, parquet-vs-Spark type skews (naive vs
        UTC timestamps, int widths) are cast, and the version metadata
        column is a constant — all zero-copy or O(columns), never
        O(rows) Python work."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(self.schema)
        n = tbl.num_rows
        cols = []
        for field in target:
            if field.name == _META_COL:
                cols.append(
                    pa.repeat(
                        pa.scalar(partition.version, type=field.type), n
                    )
                )
            elif field.name in names:
                col = tbl.column(field.name)
                if col.type != field.type:
                    col = col.cast(field.type)
                cols.append(col)
            else:
                cols.append(pa.nulls(n, type=field.type))
        out = pa.table(dict(zip(target.names, cols)), schema=target)
        yield from out.to_batches()

    def commit(self, end: dict) -> None:
        pass  # offsets live in the query checkpoint


class ManifestChangefeedDataSource(DataSource):
    """Register once per session::

        spark.dataSource.register(ManifestChangefeedDataSource)
        feed = (spark.readStream.format("manifest_changefeed")
                .option("warehouse", wh).option("table", "ev").load())
    """

    @classmethod
    def name(cls) -> str:
        return "manifest_changefeed"

    def schema(self):
        from pyspark.sql.types import StructType

        _, vroot = _table_paths(self.options["warehouse"], self.options["table"])
        versions = _committed_versions(vroot)
        if not versions:
            raise FileNotFoundError(
                f"manifest_changefeed: no committed versions under {vroot}"
            )
        man = _read_manifest(vroot, versions[-1])
        # every data column nullable, as Spark's own file sources read
        # them: files written before an add-only evolution hold NULL for
        # the new column, whatever nullability the evolving batch had
        schema = StructType.fromJson(_as_nullable(json.loads(man["schema"])))
        return schema.add(_META_COL, T.LongType(), False)

    def streamReader(self, schema):
        return ManifestChangefeedReader(schema, self.options)


def register(spark) -> None:
    """Idempotent registration of the changefeed format."""
    try:
        spark.dataSource.register(ManifestChangefeedDataSource)
    except Exception as exc:  # already registered in this session
        if "already" not in str(exc).lower():
            raise


def read_changefeed(spark, warehouse: str, table: str, start_version: int = 0):
    """The one-call spelling: a streaming DataFrame of row additions."""
    register(spark)
    return (
        spark.readStream.format("manifest_changefeed")
        .option("warehouse", warehouse)
        .option("table", table)
        .option("start_version", str(start_version))
        .load()
    )
