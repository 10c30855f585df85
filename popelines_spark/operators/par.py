"""Scan-parallelism repair: spread unsplittable inputs across the cores.

The optimization guide's input-skew rule (§2.5 last bullet: "one huge
unsplittable file … repartition immediately after the read") hits this
engine's local shape exactly: the testdata parquet files are written as a
SINGLE row group each, and Spark cannot split a parquet file below row-group
granularity, so every scan stage — and everything whole-stage-codegen fuses
into it (shingle explodes, MinHash partial aggregates, Monte-Carlo
fan-outs, decimal dot products) — runs on ONE core regardless of
`local[32]`. Measured before/after in OPTIMIZATION_r13.md: the fused
compute was the dominant stage of c_label_margin, c_dedup_fuzzy,
c_bootstrap_ci, c_permutation_test and the kNN family.

``spread`` is scale-adaptive, not a local constant: the target is the
session's default parallelism (executor cores on a cluster, N of
``local[N]`` here) and it is a NO-OP whenever the plan already yields at
least that many partitions — i.e. on any real multi-file table at cluster
scale it does nothing, while a pathological single-giant-file input gets
the same repair there too. The exchange it inserts is round-robin
(deterministic: Spark sorts before round-robin repartition since
SPARK-23207), carries only the operator's projected columns, and every
call site feeds keyed aggregations / joins whose results are
partitioning-insensitive (exact decimal sums, keyed windows) — results are
bit-identical, which tools/parity.py re-proves per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame, factor: int = 1) -> DataFrame:
    """Round-robin repartition to ``factor``x the session's default
    parallelism — but only when the frame's physical plan produces fewer
    partitions than that (unsplittable/few-file scans); otherwise the
    frame is returned unchanged (no exchange added at cluster scale).
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism * factor
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        # defensive: planning for inspection failed (e.g. unresolved
        # plan quirk) — fall back to not touching the frame
        return df
    return df if n >= target else df.repartition(target)


#: The byte size ``rebalance_output`` aims each written file at.
TARGET_FILE_BYTES = 128 << 20


def rebalance_output(df: DataFrame) -> DataFrame:
    """Size a table write's partitions by BYTES, not by the input's
    partition count (guide §6 "Aim for output files in the 128 MB - 1 GB
    range"): merge the write-side partitions down to
    ``ceil(estimated_bytes / TARGET_FILE_BYTES)`` so a small append lands
    as ONE right-sized file instead of one tiny file per input partition.
    Scale-adaptive by construction — the target is a byte size (128 MB
    of estimated in-memory/source bytes; parquet encoding compresses
    below that), never a local core count.

    Why it matters for the manifest layout specifically: every commit's
    manifest carries the FULL live file list, so a 32-partition 100k-row
    micro-batch appended as 32 files grows the metadata slope 32x faster
    than the same rows as one file (measured in bench.py write_paths:
    meta_bytes_per_commit).

    Mechanics, and why not AQE's REBALANCE hint: the hint's coalescing
    obeys ``coalescePartitions.{parallelismFirst,minPartitionSize}``,
    which this session tunes for CPU-dense POST-SHUFFLE compute stages
    (64k floor, parallelism-first — OPTIMIZATION_r13.md batch 1); a
    write wants the opposite, and flipping those confs around a write
    would race concurrently-executing queries on the shared session. So
    the partition count is derived from the optimizer's own size
    estimate instead — deterministic, no conf mutation, and MERGE-ONLY
    (capped at the incoming partition count): an overestimated plan
    degrades toward the input's own partitioning, never toward
    more/smaller files. The exchange it inserts is a keyless
    repartition, deterministic under task retry (SPARK-23207
    sort-before-repartition), costing one O(batch) local sort + shuffle
    of exactly the bytes being written. Callers that size the batch
    upstream pass ``n_files`` to the table write instead."""
    try:
        est = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
        n_in = df.rdd.getNumPartitions()
    except Exception:
        # defensive: stats/planning for inspection failed — keep layout
        return df
    if est <= 0 or est >= (1 << 62):
        # unknown/absurd estimate (e.g. unstatted join fanout): the cap
        # would pin n to n_in anyway; skip the exchange entirely
        return df
    n = min(max(n_in, 1), max(1, -(-est // TARGET_FILE_BYTES)))
    return df if n >= n_in else df.repartition(n)


def spread_by(df: DataFrame, *keys, factor: int = 1) -> DataFrame:
    """``spread`` with HASH partitioning on ``keys`` instead of
    round-robin. Round-robin repartition first pays a full local sort of
    its input (spark.sql.execution.sortBeforeRepartition, required so
    retried tasks reproduce the row→partition assignment); hash
    partitioning is deterministic by construction and skips that sort —
    measured 2.3x on a 600k-row fact spread whose per-row downstream
    work is cheap (OPTIMIZATION_r13.md flagship_star_revenue). Prefer
    this whenever the frame has a high-cardinality key; bonus: a partial
    aggregate keyed by (or prefixed by) ``keys`` dedups perfectly within
    each partition before the next exchange. Same no-op contract as
    ``spread``: untouched when the scan already fills the cores."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism * factor
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    return df if n >= target else df.repartition(target, *keys)
