"""Row-level DML on manifest tables — copy-on-write at FILE granularity.

The path-table DML (pipeline.py delete_rows/update_rows/upsert_table)
materializes and truncate-rewrites the whole table — the right cost for
small governed tables, the wrong one at 100 TB. Here a DELETE/UPDATE/
MERGE commits a new manifest version where

 - files provably untouched by the predicate are carried BY REFERENCE
   (byte-identical on disk, same paths — never rewritten, never read
   beyond the targeting scan);
 - only files that actually contain matching rows are rewritten, into
   ``data/v{N}``, minus/with the changed rows;
 - the commit is one manifest flip (op="replace"), time-travel intact.

Targeting is two-stage, Iceberg-style: recorded batch stats first
(``prune`` bounds skip whole files without opening a footer), then one
column-pruned scan that maps the predicate to the distinct files holding
matching rows (``input_file_name()``). At 100 TB a date-scoped DELETE
touches only the files whose recorded ranges overlap the date — O(hit),
not O(table).

Concurrency: the manifest flip is LINEARIZED (manifest.py's commit
lock) — a replace whose parent is no longer the tip is refused at the
flip and the whole DML retries against the new tip (a lost-race rewrite
is useless: it rewrote files of a superseded state). That loop is
manifest._replace_commit, which compaction shares. Appends racing a
replace are never lost: their flip rebases on the new tip's metadata.

Reference basis: the reference reaches DELETE/UPDATE/MERGE through
BigQuery DML via bq_query (popelines/main.py:236-243); this is that DML
surface at lakehouse cost on a bare object store.
"""

from __future__ import annotations

from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from popelines_spark.manifest import _prune_files, _replace_commit
from popelines_spark.schemas import merge_schemas


def _canon(p: str) -> tuple[str, str, str]:
    """Canonical (scheme, authority, path) so Hadoop's Path.toString()
    (``file:/tmp/x``) and Spark's input_file_name() (``file:///tmp/x``)
    compare equal."""
    u = urlparse(p)
    if not u.scheme:
        return ("file", "", p)
    return (u.scheme, u.netloc, unquote(u.path))


def _affected_files(
    spark: SparkSession,
    schema,
    candidates: list[str],
    cond,
) -> list[str]:
    """The manifest files among ``candidates`` that contain ≥1 row where
    ``cond`` is TRUE — ONE column-pruned scan (the predicate's columns +
    the virtual file name), result bounded by the file count."""
    if not candidates:
        return []
    hit = (
        spark.read.schema(schema)
        .parquet(*candidates)
        .where(cond)
        .select(F.input_file_name().alias("_f"))
        .distinct()
        .collect()
    )
    hit_canon = {_canon(r["_f"]) for r in hit}
    return [f for f in candidates if _canon(f) in hit_canon]


def _count_and_validate_set_exprs(
    src: DataFrame,
    cond,
    set_exprs: dict[str, str],
    types: dict,
) -> int:
    """ONE aggregation over ``src`` returning the matched-row count,
    raising first if any SET expression's value on a matched row would
    be silently corrupted by the cast back to the column's declared
    type (ADVICE r12 — non-ANSI casts truncate without error, where
    BigQuery rejects the assignment). Lossless test per drifting
    column: cast(expr AS declared) must round-trip to the expression's
    own type and compare null-safe equal; overflow clamps and
    fractional truncation both fail it. Matched NULLs pass (NULL is
    representable in every type). Widening drifts (int→long, long→
    double literals) round-trip and sail through — the probe is
    data-dependent, maximally permissive, and shares the n_updated
    pass, so valid UPDATEs pay nothing extra. An intended truncation is
    spelled explicitly: CAST(expr AS <declared type>) in the SET
    expression makes expr's type equal the declared type, and the
    probe skips it."""
    set_cols = list(set_exprs)
    probe = src.select(
        *[F.expr(set_exprs[c]).alias(f"__e_{i}") for i, c in enumerate(set_cols)]
    ).schema
    etypes = {c: probe.fields[i].dataType for i, c in enumerate(set_cols)}
    drifting = [c for c in set_cols if etypes[c] != types[c]]
    aggs = [F.sum(cond.cast("long")).alias("__n")]
    for i, c in enumerate(drifting):
        e = F.expr(set_exprs[c])
        # try_cast, not cast: under ANSI (the session default) a cast
        # overflow in the PROBE would throw a raw ArithmeticException
        # mid-aggregation; try_cast nulls it and the null fails the
        # round-trip below, so every lossy value funnels into the one
        # friendly ValueError
        tc = e.try_cast(types[c])
        bad = (
            cond
            & e.isNotNull()
            & (tc.isNull() | ~tc.try_cast(etypes[c]).eqNullSafe(e))
        )
        aggs.append(F.sum(bad.cast("long")).alias(f"__bad_{i}"))
    row = src.agg(*aggs).collect()[0]
    for i, c in enumerate(drifting):
        n_bad = row[f"__bad_{i}"] or 0
        if n_bad:
            decl = types[c].simpleString()
            raise ValueError(
                f"UPDATE SET {c} = {set_exprs[c]}: the expression's type "
                f"({etypes[c].simpleString()}) does not losslessly coerce "
                f"to the declared column type ({decl}) for {n_bad} matched "
                f"row(s) — values would be silently truncated/clamped. "
                f"Wrap the expression in an explicit CAST(... AS {decl}) "
                "if the truncation is intended."
            )
    return int(row["__n"] or 0)


def _apply_set_exprs(
    src: DataFrame,
    cond,
    set_exprs: dict[str, str],
    types: dict,
) -> DataFrame:
    """The UPDATE projection both layouts share: each SET expression is
    evaluated against the PRE-update row (``SET a=b, b=a`` swaps) and
    cast back to the column's DECLARED type so at-rest types never
    drift; unmatched rows pass through untouched. Callers run
    :func:`_count_and_validate_set_exprs` first — the cast here is only
    reached for values the probe proved lossless."""
    return src.select(
        *[
            F.when(
                cond, F.expr(set_exprs[c]).cast(types[c])
            ).otherwise(F.col(c)).alias(c)
            if c in set_exprs
            else F.col(c)
            for c in src.columns
        ]
    )


class _NoOp(Exception):
    """Predicate matched no file — nothing to rewrite, no commit."""

    def __init__(self, version: int):
        self.version = version


def _target_files(
    spark: SparkSession, man: dict, schema, cond, prune
) -> tuple[list[str], DataFrame]:
    """DELETE/UPDATE targeting against the tip manifest: recorded-stats
    pruning, then :func:`_affected_files`; returns the affected files
    and their rows. Raises :class:`_NoOp` when no file matches."""
    # prune from the manifest ALREADY IN HAND: a pinned re-read would
    # cost extra listings per retry
    candidates = _prune_files(man, prune)
    affected = _affected_files(spark, schema, candidates, cond)
    if not affected:
        raise _NoOp(man["version"])
    return affected, spark.read.schema(schema).parquet(*affected)


def delete_manifest_rows(
    spark: SparkSession,
    warehouse: str,
    table_name: str,
    predicate: str,
    prune: list[tuple] | None = None,
) -> tuple[int, int]:
    """SQL DELETE on a manifest table: rows where ``predicate`` is TRUE
    are removed (NULL keeps the row); returns (new_version, n_deleted).
    Only files containing matching rows are rewritten — everything else
    is carried by reference, byte-identical. Optional ``prune`` bounds
    (col, lo, hi) must be IMPLIED by the predicate; they let the
    targeting scan skip files via recorded batch stats."""
    n_deleted = 0

    def build(man, schema):
        nonlocal n_deleted
        cond = F.coalesce(F.expr(predicate).cast("boolean"), F.lit(False))
        affected, src = _target_files(spark, man, schema, cond, prune)
        n_deleted = src.where(cond).count()  # assign: retries rebuild
        kept = src.where(~cond)
        return affected, kept, schema

    try:
        v = _replace_commit(spark, warehouse, table_name, build)
    except _NoOp as noop:
        return noop.version, 0
    return v, n_deleted


def update_manifest_rows(
    spark: SparkSession,
    warehouse: str,
    table_name: str,
    set_exprs: dict[str, str],
    predicate: str,
    prune: list[tuple] | None = None,
) -> tuple[int, int]:
    """SQL UPDATE on a manifest table: rows where ``predicate`` is TRUE
    get each ``column: sql_expression`` applied — every SET expression
    evaluated against the PRE-update row (``SET a=b, b=a`` swaps) — in a
    copy-on-write commit that rewrites only the files holding matching
    rows. Returns (new_version, n_updated)."""
    n_updated = 0

    def build(man, schema):
        nonlocal n_updated
        unknown = set(set_exprs) - {f.name for f in schema.fields}
        if unknown:
            raise ValueError(
                f"UPDATE of non-existent column(s): {sorted(unknown)}"
            )
        cond = F.expr(predicate)
        affected, src = _target_files(spark, man, schema, cond, prune)
        # cast each SET expression back to the column's DECLARED type:
        # a type-drifting expression (cnt/2 on a LONG returns DOUBLE)
        # coerced the whole output column, wrote DOUBLE parquet under a
        # manifest still declaring LONG, and every subsequent read
        # failed far from the cause (review r12). The cast-back is
        # VALIDATED per matched row (ADVICE r12): under non-ANSI cast
        # semantics it silently truncates (SET cnt=cnt/2 on LONG wrote
        # floor(cnt/2) with no error — BigQuery REJECTS FLOAT64→INT64
        # assignment), so any matched value that does not round-trip
        # through the declared type raises instead of corrupting; an
        # intended truncation is spelled with an explicit CAST in the
        # SET expression. Folded into the n_updated aggregation — the
        # probe costs no extra pass.
        types = {f.name: f.dataType for f in schema.fields}
        n_updated = _count_and_validate_set_exprs(
            src, cond, set_exprs, types
        )
        updated = _apply_set_exprs(src, cond, set_exprs, types)
        return affected, updated, schema

    try:
        v = _replace_commit(spark, warehouse, table_name, build)
    except _NoOp as noop:
        return noop.version, 0
    return v, n_updated


def upsert_manifest_table(
    spark: SparkSession,
    warehouse: str,
    table_name: str,
    source: DataFrame,
    keys: list[str],
) -> int:
    """MERGE into a manifest table: target rows matched on ``keys`` take
    the source's values, unmatched source rows are inserted, unmatched
    target rows survive UNTOUCHED — files with no matching key are
    carried by reference. Duplicate source keys raise (BigQuery/Delta
    MERGE semantics; the same lazy guard as operators/upsert). Add-only
    schema evolution applies to new source columns. Returns the new
    version."""
    from popelines_spark.io import _align_to

    def build(man, schema):
        src = source
        target_schema = merge_schemas(schema, src.schema)
        keyset = (
            src.select(*keys).distinct()
        )
        # targeting scan: files holding ≥1 matching key (broadcast the
        # source key set — MERGE sources are batch-sized by contract).
        # input_file_name() is stamped BEFORE the join: after a join of
        # two file sources the expression fails analysis
        # (MULTI_SOURCES_UNSUPPORTED_FOR_EXPRESSION).
        # NULL-SAFE key match, like the merge itself (operators/upsert
        # joins via eqNullSafe): a plain on=keys probe never matches
        # NULL=NULL, so a NULL-key target row's file was carried by
        # reference while the merge re-inserted the source's NULL-key
        # row — silent duplication (review r12)
        if man["files"]:
            tgt_probe = (
                spark.read.schema(schema)
                .parquet(*man["files"])
                .select(F.input_file_name().alias("_f"), *keys)
                .alias("__t")
            )
            cond = None
            for k in keys:
                c = F.col(f"__t.{k}").eqNullSafe(F.col(f"__s.{k}"))
                cond = c if cond is None else (cond & c)
            probe = (
                tgt_probe.join(
                    F.broadcast(keyset.alias("__s")), on=cond, how="leftsemi"
                )
                .select("_f")
                .distinct()
                .collect()
            )
        else:
            probe = []
        hit_canon = {_canon(r["_f"]) for r in probe}
        affected = [f for f in man["files"] if _canon(f) in hit_canon]
        from popelines_spark.operators.upsert import upsert as _merge

        if affected:
            tgt_hit = spark.read.schema(schema).parquet(*affected)
        else:
            tgt_hit = spark.createDataFrame([], schema)
        merged = _merge(tgt_hit, src, keys)
        merged = _align_to(merged, target_schema)
        return affected, merged, target_schema

    return _replace_commit(spark, warehouse, table_name, build)
