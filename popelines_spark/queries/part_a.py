"""SURVEY.md §2 Part A — the reference's own operations, end-to-end.

Part A is mostly covered by unit tests (tests/test_part_a.py) since the ops
are API-level; the entries here exercise the composite pipelines
(popelines README.md:26-58 shape) through the driver's oracle gate:

 - a_load_evolve:      write_to_bq append + ALLOW_FIELD_ADDITION
                       (popelines/main.py:100-155) through Popeline.
 - a_load_layouts:     the same write_to_table call shape appending to
                       manifest/snapshot/path layouts, with exactly-once
                       batch_id on the manifest (round-12 facade).
 - a_chunk_dates:      chunk_date_range exact port (popelines/main.py:208-223).
 - a_fix_values:       fix_json_values callback contract
                       (popelines/main.py:264-286), driver-side at the API
                       edge, then distributed.
 - a_copy_replace_keys: the whole nested-rename path
                       (popelines/main.py:288-310 + copy_table.py) with NO
                       SQL-text generation.
 - a_source_rest:      call_api (popelines/main.py:193-206) distributed via
                       mapInPandas over file:// URLs (hermetic).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from popelines_spark.registry import query
from popelines_spark.session import scratch_dir
from popelines_spark.queries._util import T


@query(
    "a_load_evolve",
    oracle="""
    SELECT c_custkey, c_name, NULL AS c_acctbal FROM customer
      WHERE c_nationkey < 10
    UNION ALL BY NAME
    SELECT c_custkey, c_name, c_acctbal FROM customer
      WHERE c_nationkey >= 10
    """,
)
def a_load_evolve(spark, sf_dir):
    """Append-with-evolution through the Popeline facade: v1 rows lack
    c_acctbal; the v2 append adds the column; v1 rows read back NULL."""
    from popelines_spark.pipeline import Popeline

    wh = scratch_dir("a_load_evolve_wh", fresh=True)
    p = Popeline(warehouse=wh, spark=spark)
    c = T(spark, sf_dir, "customer")
    v1 = c.filter(F.col("c_nationkey") < 10).select("c_custkey", "c_name")
    v2 = c.filter(F.col("c_nationkey") >= 10).select(
        "c_custkey", "c_name", "c_acctbal"
    )
    p.write_to_table("Cust-Evolved", df=v1, append=False)
    p.write_to_table("Cust-Evolved", df=v2, append=True)
    from popelines_spark.io import read_table_evolved

    return read_table_evolved(spark, wh, "Cust-Evolved")


@query(
    "a_load_layouts",
    oracle="""
    SELECT 'manifest' AS layout, c_custkey, c_name FROM customer
      WHERE c_nationkey < 5
         OR (c_nationkey >= 15 AND c_nationkey < 18)
    UNION ALL
    SELECT 'snapshot' AS layout, c_custkey, c_name FROM customer
      WHERE (c_nationkey >= 5 AND c_nationkey < 10)
         OR (c_nationkey >= 18 AND c_nationkey < 21)
    UNION ALL
    SELECT 'path' AS layout, c_custkey, c_name FROM customer
      WHERE (c_nationkey >= 10 AND c_nationkey < 15)
         OR c_nationkey >= 21
    """,
)
def a_load_layouts(spark, sf_dir):
    """The layout-transparent facade append (round-12 flagship): ONE
    write_to_table call shape appends to a manifest (ACID) table, a
    snapshot-versioned table, and a plain path table — and a retried
    manifest load with the same batch_id is exactly-once (re-appended
    rows would double the manifest slice and hash-mismatch the oracle).
    The reference's write_to_bq contract (popelines/main.py:100-155):
    callers never know how the table is stored."""
    from popelines_spark.io import read_table_auto, write_table_snapshot
    from popelines_spark.manifest import append_manifest_table
    from popelines_spark.pipeline import Popeline

    wh = scratch_dir("a_load_layouts_wh", fresh=True)
    p = Popeline(warehouse=wh, spark=spark)
    c = T(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )

    def slice_(lo, hi):
        cond = F.col("c_nationkey") >= lo
        if hi is not None:
            cond = cond & (F.col("c_nationkey") < hi)
        return c.filter(cond).drop("c_nationkey")

    # seed each layout with its native writer...
    append_manifest_table(spark, wh, "t_manifest", slice_(0, 5))
    write_table_snapshot(spark, wh, "t_snapshot", slice_(5, 10))
    p.write_to_table("t_path", df=slice_(10, 15), append=True)
    # ...then append through the SAME facade call on all three
    p.write_to_table(
        "t_manifest", df=slice_(15, 18), append=True, batch_id="b15"
    )
    p.write_to_table("t_snapshot", df=slice_(18, 21), append=True)
    p.write_to_table("t_path", df=slice_(21, None), append=True)
    # idempotent retry: same batch_id, must be a no-op
    p.write_to_table(
        "t_manifest", df=slice_(15, 18), append=True, batch_id="b15"
    )

    out = None
    for layout, name in (
        ("manifest", "t_manifest"),
        ("snapshot", "t_snapshot"),
        ("path", "t_path"),
    ):
        part = read_table_auto(spark, wh, name).select(
            F.lit(layout).alias("layout"), "c_custkey", "c_name"
        )
        out = part if out is None else out.unionByName(part)
    return out


@query(
    "a_dml_layouts",
    oracle="""
    WITH dml AS (
      SELECT c_custkey, c_nationkey,
             CASE WHEN c_custkey % 3 = 0 THEN upper(c_name) ELSE c_name END
               AS c_name
      FROM customer WHERE c_custkey % 5 <> 0)
    SELECT 'manifest' AS layout, c_custkey, c_name FROM dml
      WHERE c_nationkey < 8
    UNION ALL
    SELECT 'snapshot' AS layout, c_custkey, c_name FROM dml
      WHERE c_nationkey >= 8 AND c_nationkey < 16
    UNION ALL
    SELECT 'path' AS layout, c_custkey, c_name FROM dml
      WHERE c_nationkey >= 16
    """,
)
def a_dml_layouts(spark, sf_dir):
    """Layout-transparent facade DML (round 13 — the DML sibling of
    a_load_layouts): the SAME update_rows + delete_rows calls run
    against a manifest (ACID) table, a snapshot-versioned table and a
    plain path table, and every layout must land the identical SQL
    semantics — UPDATE evaluated per pre-update row with the lossless
    coercion probe, DELETE removing only predicate-TRUE rows. The
    reference reaches UPDATE/DELETE through bq_query regardless of
    server-side storage (popelines/main.py:240); callers here never
    know the layout either. Manifest tables rewrite only matched files
    (CoW), snapshot tables commit a new time-travelable version, path
    tables truncate-rewrite."""
    from popelines_spark.io import read_table_auto, write_table_snapshot
    from popelines_spark.manifest import append_manifest_table
    from popelines_spark.pipeline import Popeline

    wh = scratch_dir("a_dml_layouts_wh", fresh=True)
    p = Popeline(warehouse=wh, spark=spark)
    c = T(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    append_manifest_table(
        spark, wh, "t_manifest", c.filter(F.col("c_nationkey") < 8)
    )
    write_table_snapshot(
        spark, wh, "t_snapshot",
        c.filter((F.col("c_nationkey") >= 8) & (F.col("c_nationkey") < 16)),
    )
    p.write_to_table(
        "t_path", df=c.filter(F.col("c_nationkey") >= 16), append=False
    )
    out = None
    for layout, name in (
        ("manifest", "t_manifest"),
        ("snapshot", "t_snapshot"),
        ("path", "t_path"),
    ):
        # the SAME DML call shape on every layout
        p.update_rows(
            name, {"c_name": "upper(c_name)"}, "c_custkey % 3 = 0"
        )
        p.delete_rows(name, "c_custkey % 5 = 0")
        part = read_table_auto(spark, wh, name).select(
            F.lit(layout).alias("layout"), "c_custkey", "c_name"
        )
        out = part if out is None else out.unionByName(part)
    return out


@query(
    "a_chunk_dates",
    oracle="""
    SELECT gs AS chunk_start,
           least(gs + INTERVAL 7 DAY, TIMESTAMP '1995-03-10') AS chunk_end
    FROM (SELECT unnest(generate_series(TIMESTAMP '1995-01-01',
                                        TIMESTAMP '1995-03-10',
                                        INTERVAL 7 DAY)) AS gs)
    """,
)
def a_chunk_dates(spark, sf_dir):
    """chunk_date_range exact port (n-day windows, final end-clamped)."""
    import datetime as dt

    from popelines_spark.incremental import chunk_date_range

    chunks = list(
        chunk_date_range(
            dt.datetime(1995, 1, 1), dt.datetime(1995, 3, 10), chunk_size=7
        )
    )
    return spark.createDataFrame(
        chunks, "chunk_start timestamp, chunk_end timestamp"
    )


@query(
    "a_fix_values",
    oracle="""
    SELECT * FROM (VALUES
      (CAST(2 AS BIGINT),  'x!', CAST(20 AS BIGINT)),
      (CAST(4 AS BIGINT),  'y!', CAST(40 AS BIGINT)),
      (CAST(6 AS BIGINT),  'z!', CAST(60 AS BIGINT))
    ) t(a, b, nested_c)
    """,
)
def a_fix_values(spark, sf_dir):
    """fix_json_values callback contract: callback(value, key, **kwargs)
    rewrites every scalar in a dict/list tree (driver-side, API edge), then
    the batch ships to Spark."""
    from popelines_spark.pipeline import Popeline

    p = Popeline(warehouse=scratch_dir("unused_wh"), spark=spark)
    batch = [
        {"a": 1, "b": "x", "nested": {"c": 10}},
        {"a": 2, "b": "y", "nested": {"c": 20}},
        {"a": 3, "b": "z", "nested": {"c": 30}},
    ]

    def cb(value, key, **kwargs):
        if isinstance(value, int):
            return value * 2
        if isinstance(value, str):
            return value + "!"
        return value

    fixed = p.fix_json_values(batch, cb)
    df = spark.createDataFrame(
        [(r["a"], r["b"], r["nested"]["c"]) for r in fixed],
        "a long, b string, nested_c long",
    )
    return df


@query(
    "a_copy_replace_keys",
    oracle="""
    SELECT s_suppkey AS supp_key, s_name AS supp_name, s_acctbal AS acct_bal
    FROM supplier
    """,
)
def a_copy_replace_keys(spark, sf_dir):
    """The copy_and_replace_keys path end-to-end: nested table with messy
    field names → in-place deep rename (struct cast, no SQL text) → read
    back and flatten."""
    from popelines_spark.pipeline import Popeline
    from popelines_spark.schemas import sanitize_identifier

    wh = scratch_dir("a_copy_replace_wh", fresh=True)
    p = Popeline(warehouse=wh, spark=spark)
    s = T(spark, sf_dir, "supplier")
    nested = s.select(
        F.col("s_suppkey").alias("supp key"),
        F.struct(
            F.col("s_name").alias("supp name"),
            F.col("s_acctbal").alias("acct.bal"),
        ).alias("info!"),
    )
    p.write_to_table("supp_nested", df=nested, append=False)
    p.copy_and_replace_keys("supp_nested", sanitize_identifier)
    out = p.spark.read.parquet(os.path.join(wh, "supp_nested"))
    return out.select(
        F.col("supp_key"),
        F.col("info.supp_name").alias("supp_name"),
        F.col("info.acct_bal").alias("acct_bal"),
    )


@query(
    "a_source_rest",
    oracle="""
    SELECT * FROM (VALUES
      (0, CAST(0 AS BIGINT)), (1, CAST(10 AS BIGINT)), (2, CAST(20 AS BIGINT)),
      (3, CAST(30 AS BIGINT)), (4, CAST(40 AS BIGINT)), (5, CAST(50 AS BIGINT))
    ) t(page, payload_sum)
    """,
)
def a_source_rest(spark, sf_dir):
    """call_api distributed: a URL table fans out via mapInPandas, each task
    fetches and returns raw JSON text, parsed with from_json. file:// URLs
    keep the test hermetic; the code path is byte-identical for http(s)."""
    from popelines_spark.sources.rest import fetch_json_distributed

    pages_dir = scratch_dir("rest_pages", fresh=True)
    os.makedirs(pages_dir)
    for i in range(6):
        with open(os.path.join(pages_dir, f"page{i}.json"), "w") as f:
            json.dump({"page": i, "payload": {"sum": i * 10}}, f)
    urls = spark.createDataFrame(
        [(i, f"file://{pages_dir}/page{i}.json") for i in range(6)],
        "page int, url string",
    )
    fetched = fetch_json_distributed(urls, url_col="url", out_col="body")
    parsed = fetched.select(
        "page",
        F.from_json("body", "page int, payload struct<sum: bigint>").alias("j"),
    )
    return parsed.select("page", F.col("j.payload.sum").alias("payload_sum"))


@query(
    "a_source_rest_fanout",
    oracle="""
    SELECT CAST(w AS BIGINT) AS w,
           CAST(strftime(DATE '2024-01-01' + (w * 2) * INTERVAL 1 DAY,
                         '%Y-%m-%d') AS VARCHAR) AS window_start,
           CAST((w + 1) * 25 AS BIGINT) AS window_rev,
           CAST(200 AS BIGINT) AS status,
           CAST(1 AS BIGINT) AS attempts
    FROM (SELECT unnest(range(8)) AS w)
    """,
)
def a_source_rest_fanout(spark, sf_dir):
    """The (url, window) incremental-extract fan-out (VERDICT r6 next #8):
    chunk_date_range (the reference's driver-serial pagination,
    popelines/main.py:208-223) now only BUILDS the window table; the
    fetch itself runs executor-side via fetch_windows_distributed
    (sources/rest.py) — retry/backoff, status + attempts surfaced as
    columns. file:// endpoints keep the oracle hermetic; the code path is
    byte-identical for http(s), proven against a live stub server in
    tests/test_rest_fanout.py."""
    import datetime as dt

    from popelines_spark.incremental import chunk_date_range
    from popelines_spark.sources.rest import fetch_windows_distributed

    pages = scratch_dir("rest_windows", fresh=True)
    os.makedirs(pages)
    chunks = list(
        chunk_date_range(
            dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 16), 2
        )
    )
    rows = []
    for w, (start, _end) in enumerate(chunks):
        key = start.strftime("%Y-%m-%d")
        with open(os.path.join(pages, f"{key}.json"), "w") as f:
            json.dump({"window_start": key, "rev": (w + 1) * 25}, f)
        rows.append((w, key))
    windows = spark.createDataFrame(rows, "w int, window_start string")
    fetched = fetch_windows_distributed(
        windows, f"file://{pages}/{{window_start}}.json"
    )
    parsed = fetched.select(
        F.col("w").cast("long").alias("w"),
        "window_start",
        F.from_json("body", "window_start string, rev bigint").alias("j"),
        F.col("__status").cast("long").alias("status"),
        F.col("__attempts").cast("long").alias("attempts"),
    )
    return parsed.select(
        "w", "window_start", F.col("j.rev").alias("window_rev"),
        "status", "attempts",
    )


@query(
    "a_source_rest_pyds",
    oracle="""
    SELECT CAST(w AS BIGINT) AS w,
           CAST(strftime(DATE '2024-01-01' + (w * 2) * INTERVAL 1 DAY,
                         '%Y-%m-%d') AS VARCHAR) AS window_start,
           CAST((w + 1) * 25 AS BIGINT) AS window_rev,
           CAST(200 AS BIGINT) AS status,
           CAST(1 AS BIGINT) AS attempts
    FROM (SELECT unnest(range(8)) AS w)
    """,
)
def a_source_rest_pyds(spark, sf_dir):
    """The windowed REST extract as a FIRST-CLASS Spark data source
    (Spark 4 Python DataSource API, sources/pyds.py): windows are the
    source's input partitions — one task per window, retry/status/error
    in the reader — so `spark.read.format("rest_windows")` composes with
    the whole DataFrame surface. Same hermetic file:// fixture and
    oracle as a_source_rest_fanout; live-http behavior is pinned by the
    stub-server tests."""
    from popelines_spark.sources.pyds import RestWindowsDataSource

    pages = scratch_dir("rest_pyds", fresh=True)
    os.makedirs(pages)
    import datetime as dt

    from popelines_spark.incremental import chunk_date_range

    for w, (start, _end) in enumerate(
        chunk_date_range(dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 16), 2)
    ):
        key = start.strftime("%Y-%m-%d")
        with open(os.path.join(pages, f"{key}.json"), "w") as f:
            json.dump({"window_start": key, "rev": (w + 1) * 25}, f)
    spark.dataSource.register(RestWindowsDataSource)
    df = (
        spark.read.format("rest_windows")
        .option("url_template", f"file://{pages}/{{start}}.json")
        .option("start", "2024-01-01")
        .option("end", "2024-01-16")
        .option("chunk_days", "2")
        .load()
    )
    parsed = df.select(
        F.col("w").cast("long").alias("w"),
        "window_start",
        F.from_json("body", "window_start string, rev bigint").alias("j"),
        F.col("status").cast("long").alias("status"),
        F.col("attempts").cast("long").alias("attempts"),
    )
    return parsed.select(
        "w", "window_start", F.col("j.rev").alias("window_rev"),
        "status", "attempts",
    )


@query(
    "a_source_rest_paged",
    oracle="""
    SELECT CAST(s.seed AS BIGINT) AS seed,
           CAST(p.page AS BIGINT) AS page,
           CAST(s.seed * 100 + p.page AS BIGINT) AS page_val,
           CAST(200 AS BIGINT) AS status,
           CAST(1 AS BIGINT) AS attempts
    FROM (SELECT unnest(range(4)) AS seed) s
    JOIN (SELECT unnest(range(4)) AS page) p ON p.page <= s.seed
    """,
)
def a_source_rest_paged(spark, sf_dir):
    """Cursor pagination as a distributed source (VERDICT r7 #9): each
    seed is one pagination CHAIN — chains fan out across executors,
    pages within a chain follow the cursor the previous body returned
    (fetch_pages_distributed, sources/rest.py). Chains here have
    DIFFERENT lengths (seed s → s+1 pages) so termination-by-missing-
    next is exercised per chain, not globally. file:// fixtures keep the
    oracle hermetic; the code path is byte-identical for http(s), proven
    against a live stub server in tests/test_rest_fanout.py."""
    from popelines_spark.sources.rest import fetch_pages_distributed

    pages = scratch_dir("rest_paged", fresh=True)
    os.makedirs(pages)
    for seed in range(4):
        for cur in range(seed + 1):
            doc = {"page_val": seed * 100 + cur}
            if cur < seed:
                doc["next"] = str(cur + 1)
            with open(os.path.join(pages, f"{seed}_{cur}.json"), "w") as f:
                json.dump(doc, f)
    seeds = spark.createDataFrame([(i,) for i in range(4)], "seed int")
    fetched = fetch_pages_distributed(
        seeds,
        f"file://{pages}/{{seed}}_{{cursor}}.json",
        first_cursor="0",
    )
    return fetched.select(
        F.col("seed").cast("long").alias("seed"),
        F.col("__page").cast("long").alias("page"),
        F.from_json("body", "page_val bigint, next string")["page_val"].alias(
            "page_val"
        ),
        F.col("__status").cast("long").alias("status"),
        F.col("__attempts").cast("long").alias("attempts"),
    )
