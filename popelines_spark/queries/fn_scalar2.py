"""Second wave of scalar-function coverage (delegated SQL surface,
popelines/main.py:236-243): extended string ops, calendar functions,
safe math, arg-extremes, partitioned sink with pruning.

Cross-engine notes: DuckDB dayofweek is 0=Sunday vs Spark 1=Sunday
(oracle adds 1); epoch() is DOUBLE in DuckDB (cast BIGINT both sides);
transcendentals (exp/ln) are avoided in hash queries — JVM Math vs libm
can differ in the last ulp; sqrt/power-with-small-int-exponent are exact.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from popelines_spark.registry import query
from popelines_spark.session import scratch_dir
from popelines_spark.queries._util import T


@query(
    "b_fn_string2",
    oracle="""
    SELECT p_partkey,
           lpad(p_brand, 12, '*') AS padded,
           rpad(p_brand, 12, '.') AS rpadded,
           reverse(p_name) AS rev_name,
           CAST(instr(p_name, 'a') AS BIGINT) AS first_a,
           left(p_name, 5) AS name5,
           translate(p_type, 'AEIOU', 'aeiou') AS lowered_vowels,
           repeat(p_brand, 2) AS brand2x
    FROM part
    """,
)
def b_fn_string2(spark, sf_dir):
    p = T(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lpad("p_brand", 12, "*").alias("padded"),
        F.rpad("p_brand", 12, ".").alias("rpadded"),
        F.reverse("p_name").alias("rev_name"),
        F.instr("p_name", "a").cast("long").alias("first_a"),
        F.substring("p_name", 1, 5).alias("name5"),
        F.translate("p_type", "AEIOU", "aeiou").alias("lowered_vowels"),
        F.repeat("p_brand", 2).alias("brand2x"),
    )


@query(
    "b_fn_date2",
    oracle="""
    SELECT o_orderkey,
           CAST(date_part('epoch', o_orderdate) AS BIGINT) AS epoch_s,
           CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
           CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week,
           CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end
    FROM orders
    """,
)
def b_fn_date2(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
        F.dayofweek("o_orderdate").cast("long").alias("dow"),
        F.weekofyear("o_orderdate").cast("long").alias("iso_week"),
        F.quarter("o_orderdate").cast("long").alias("qtr"),
        F.last_day(F.to_date("o_orderdate")).cast("timestamp").alias("month_end"),
    )


@query(
    "b_fn_math2",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           sqrt(l_quantity) AS qty_sqrt,
           pow(l_discount, 2) AS disc_sq,
           CAST(sign(l_extendedprice - 30000.0) AS DOUBLE) AS above_30k,
           greatest(l_quantity, 25.0) AS qty_floor25,
           least(l_tax, 0.05) AS tax_cap
    FROM lineitem
    """,
)
def b_fn_math2(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.sqrt("l_quantity").alias("qty_sqrt"),
        F.pow("l_discount", 2).alias("disc_sq"),
        F.signum(F.col("l_extendedprice") - 30000.0).cast("double").alias(
            "above_30k"
        ),
        F.greatest("l_quantity", F.lit(25.0)).alias("qty_floor25"),
        F.least("l_tax", F.lit(0.05)).alias("tax_cap"),
    )


@query(
    "b_agg_argminmax",
    oracle="""
    WITH base AS (SELECT c_mktsegment,
                         arg_max(c_name, c_custkey) AS latest_cust,
                         arg_min(c_name, c_custkey) AS first_cust,
                         max(c_acctbal) AS mb
                  FROM customer GROUP BY c_mktsegment),
    rich AS (SELECT c.c_mktsegment, max(c.c_custkey) AS richest_key
             FROM customer c JOIN base b
               ON c.c_mktsegment = b.c_mktsegment AND c.c_acctbal = b.mb
             GROUP BY c.c_mktsegment)
    SELECT base.c_mktsegment, latest_cust, first_cust, richest_key
    FROM base JOIN rich ON base.c_mktsegment = rich.c_mktsegment
    """,
)
def b_agg_argminmax(spark, sf_dir):
    """max_by/min_by (BQ ANY_VALUE(... HAVING MAX ...) family). The
    richest-customer argmax orders by (c_acctbal, c_custkey) — acctbal
    ties are real (the sf1.0 replication sweep produced 10-way ties and
    caught the bare-acctbal version diverging between engines), so the
    ordering carries a unique tie-break: Spark compares the
    (acctbal, custkey) struct lexicographically; DuckDB's arg_max takes
    no composite ordering key, so the oracle spells the identical
    semantics as max-acctbal then max-custkey-among-ties. The custkey
    argmaxes are unique by construction."""
    c = T(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.max_by("c_name", "c_custkey").alias("latest_cust"),
        F.min_by("c_name", "c_custkey").alias("first_cust"),
        F.max_by(
            "c_custkey",
            F.struct(F.col("c_acctbal"), F.col("c_custkey").cast("double")),
        ).alias("richest_key"),
    )


@query(
    "b_sink_partitioned",
    oracle="""
    SELECT o_orderkey, o_totalprice, CAST(year(o_orderdate) AS INT) AS yr
    FROM orders WHERE year(o_orderdate) = 1996
    """,
)
def b_sink_partitioned(spark, sf_dir):
    """Hive-style partitioned write + pruned read: the at-rest layout for
    date-chunked extraction (popelines/main.py:208-223) at 100 TB — a
    year's query touches one directory, not the table."""
    path = scratch_dir("part_orders", fresh=True)
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.year("o_orderdate").cast("int").alias("yr"),
    )
    o.write.partitionBy("yr").parquet(path)
    back = spark.read.parquet(path).filter(F.col("yr") == 1996)
    return back.select("o_orderkey", "o_totalprice", F.col("yr").cast("int").alias("yr"))


@query(
    "b_fn_try",
    oracle="""
    SELECT o_orderkey,
           TRY_CAST(o_orderstatus AS BIGINT) AS status_num,
           TRY_CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS prio_num,
           CASE WHEN o_orderkey % 10 = 0 THEN NULL
                ELSE o_totalprice / (o_orderkey % 10) END AS safe_div
    FROM orders
    """,
)
def b_fn_try(spark, sf_dir):
    """Error-safe function family: try_cast returns NULL instead of
    raising on malformed input (non-numeric status vs numeric priority
    prefix), try_divide returns NULL on division by zero — per-row double
    division, bit-identical cross-engine."""
    o = T(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.col("o_orderstatus").try_cast("long").alias("status_num"),
        F.substring("o_orderpriority", 1, 1).try_cast("long").alias("prio_num"),
        F.try_divide("o_totalprice", F.col("o_orderkey") % 10).alias("safe_div"),
    )


@query(
    "b_agg_bool",
    oracle="""
    SELECT l_returnflag,
           bool_and(l_discount <= 0.1) AS all_small_disc,
           bool_or(l_quantity >= 49) AS any_big_qty,
           CAST(count_if(l_tax > 0.05) AS BIGINT) AS n_taxed
    FROM lineitem GROUP BY l_returnflag
    """,
)
def b_agg_bool(spark, sf_dir):
    """Boolean aggregates (every/any/count_if): per-row predicates are
    exact comparisons, aggregation is order-insensitive."""
    li = T(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bool_and(F.col("l_discount") <= 0.1).alias("all_small_disc"),
        F.bool_or(F.col("l_quantity") >= 49).alias("any_big_qty"),
        F.count_if(F.col("l_tax") > 0.05).cast("long").alias("n_taxed"),
    )


@query(
    "b_fn_hof",
    oracle="""
    SELECT o_orderkey,
           array_to_string([x * 2 FOR x IN rng], ',') AS doubled,
           array_to_string([x FOR x IN rng IF x % 2 = 0], ',') AS evens,
           len([x FOR x IN rng IF x % 2 = 0]) > 0 AS has_even,
           CAST(list_sum(rng) AS BIGINT) AS total
    FROM (SELECT o_orderkey, generate_series(1, o_orderkey % 5 + 1) AS rng
          FROM orders)
    """,
)
def b_fn_hof(spark, sf_dir):
    """Array higher-order functions (transform / filter / exists /
    aggregate) over a per-row integer sequence — exact integer lambda
    arithmetic, mirrored by DuckDB list comprehensions. Array results are
    serialized via array_join so the hash-compare sees plain strings (raw
    array cells aren't hashable in the driver's canonicalizer). (HOFs run
    in interpreted expression mode — fine for per-row arrays like these;
    hot-loop array math belongs in explode+agg, see llm/dedup.py.)"""
    rng = F.sequence(F.lit(1).cast("long"), (F.col("o_orderkey") % 5) + 1)
    return T(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.array_join(F.transform(rng, lambda x: x * 2).cast("array<string>"), ",").alias(
            "doubled"
        ),
        # nullif: DuckDB's array_to_string yields NULL for an empty list
        # where Spark's array_join yields '' — align on NULL.
        F.nullif(
            F.array_join(
                F.filter(rng, lambda x: x % 2 == 0).cast("array<string>"), ","
            ),
            F.lit(""),
        ).alias("evens"),
        F.exists(rng, lambda x: x % 2 == 0).alias("has_even"),
        F.aggregate(rng, F.lit(0).cast("long"), lambda a, x: a + x)
        .cast("long")
        .alias("total"),
    )
