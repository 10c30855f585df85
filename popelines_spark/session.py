"""SparkSession factory with parity + scale configs.

Reference parity: popelines/main.py:16-43 (``popeline.__init__``) constructs
BigQuery + GCS clients and a dataset context; here the analogous entry point
builds (or tunes) the SparkSession that owns the catalog.

Scale notes (100 TB design point):
 - AQE on: runtime coalescing, skew-join splitting, dynamic broadcast demotion.
 - shuffle.partitions sized for the local harness; on a real cluster this is
   overridden (AQE's coalescePartitions makes the initial number forgiving).
 - UTC session timezone: deterministic timestamp semantics (and DuckDB-oracle
   parity — DuckDB timestamps are UTC-naive).
 - Arrow enabled: vectorized pandas interop for the Pandas-UDF operators.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession

#: Runtime confs that are safe to (re)apply to an existing session. The
#: driver hands us its own SparkSession, so every query path calls
#: ``tune_for_oracle`` defensively instead of assuming session-build control.
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.parquet carries TIMESTAMP(NANOS) which Spark's reader rejects;
    # read as long and convert (tables.load) — DuckDB-equivalent truncation.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # testdata timestamps are written isAdjustedToUTC=false; by default Spark
    # reads those as TIMESTAMP_NTZ, which withWatermark / unix_micros reject.
    # Read them as session-tz (UTC) timestamps instead — identical instants,
    # and exactly how the DuckDB oracle sees them.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # --- round-13 optimization confs (OPTIMIZATION_r13.md, measured) ---
    # AQE's parallelism-first coalescing floors partitions at 1 MB, but
    # bytes are a bad proxy for compute when rows carry arrays that the
    # generated code loops over (shingle sets, signatures, embeddings):
    # CPU-dense post-shuffle stages here shuffle ~10 MB yet burn ~25 s of
    # executor time, and the 1 MB floor coalesced them to ~10 tasks on 32
    # cores. 64 KB keeps such stages at the session's parallelism while
    # leaving real data volumes (partitions >= cores x 1 MB) coalesced
    # exactly as before — at cluster scale this conf is a no-op.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    # Let the planner pick shuffled-hash join when its size conditions
    # hold instead of always sort-merge (guide §3.1/§9): same results,
    # no per-partition sort. Planner-gated (not a forced hint), so the
    # SMJ fallback for oversized build sides is unchanged.
    "spark.sql.join.preferSortMergeJoin": "false",
}


def tune_for_oracle(spark: SparkSession) -> SparkSession:
    """Apply runtime confs needed for deterministic, oracle-comparable output.

    Idempotent; safe on a session we didn't build (the driver's).
    """
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not settable at runtime on this build — non-fatal
    return spark


def scratch_dir(name: str, fresh: bool = False) -> str:
    """``name`` under the engine's scratch root: ``POPELINES_SCRATCH_DIR``,
    default ``/tmp/popelines_spark_scratch``. Every transient directory
    the engine itself lays out lives there (replay stages, stream source
    links, ANN index caches, registered queries' round-trip tables).

    ``fresh=True`` scopes the directory to this process and empties it:
    two engines running the same registered query at once (driver gate +
    parity + plan tests) must not rmtree each other's tables mid-read."""
    root = os.environ.get("POPELINES_SCRATCH_DIR", "/tmp/popelines_spark_scratch")
    if not fresh:
        return os.path.join(root, name)
    path = os.path.join(root, f"{name}_{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    return path


def _default_driver_mem() -> str:
    """A quarter of the host's physical memory, capped at 24g: the heap
    must leave room for the Python workers and other processes on a
    small host, and 24g covers the largest local run."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return "24g"
    return f"{max(512, min(24 << 10, phys // 4 >> 20))}m"


def get_spark(
    app_name: str = "popelines_spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build the engine's SparkSession (tests / bench / standalone use).

    The driver supplies its own session to ``__spark_entry__``; this factory
    is for everything else. ``cpus`` defaults to ``SPARK_GRAFT_CPUS``, else
    the host's CPU count; ``shuffle_partitions`` to ``cpus``; the driver
    heap to ``POPELINES_DRIVER_MEM``, else a quarter of physical memory
    (at most 24g).
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1
    shuffle_partitions = shuffle_partitions or int(cpus)
    driver_mem = os.environ.get("POPELINES_DRIVER_MEM") or _default_driver_mem()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", "/tmp/popelines_spark_warehouse")
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune_for_oracle(spark)
