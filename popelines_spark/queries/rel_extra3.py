"""Final widening wave: CSV/ORC sources, bitwise functions, stream-static
enrichment join.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from popelines_spark.registry import query
from popelines_spark.session import scratch_dir
from popelines_spark.queries._util import T


@query(
    "b_scan_csv",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def b_scan_csv(spark, sf_dir):
    """CSV round-trip with explicit schema (no inference in prod —
    pyspark guide pitfall); header on, same values back."""
    path = scratch_dir("scan_csv", fresh=True)
    T(spark, sf_dir, "nation").write.option("header", True).csv(path)
    return spark.read.schema(
        "n_nationkey int, n_name string, n_regionkey int"
    ).option("header", True).csv(path)


@query(
    "b_scan_orc",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
)
def b_scan_orc(spark, sf_dir):
    """ORC round-trip: the second columnar at-rest format (same pushdown /
    pruning machinery as parquet)."""
    path = scratch_dir("scan_orc", fresh=True)
    T(spark, sf_dir, "supplier").write.orc(path)
    return spark.read.orc(path)


@query(
    "b_fn_bitwise",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_orderkey & 255 AS low_byte,
           l_orderkey | 1 AS odd_key,
           xor(l_orderkey, l_partkey) AS key_xor,
           l_linenumber << 2 AS shifted,
           CAST(bit_count(l_orderkey) AS BIGINT) AS popcount
    FROM lineitem
    """,
)
def b_fn_bitwise(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_orderkey").bitwiseAND(F.lit(255)).alias("low_byte"),
        F.col("l_orderkey").bitwiseOR(F.lit(1)).alias("odd_key"),
        F.col("l_orderkey").bitwiseXOR(F.col("l_partkey")).alias("key_xor"),
        F.shiftleft("l_linenumber", 2).alias("shifted"),
        F.bit_count("l_orderkey").cast("long").alias("popcount"),
    )


@query(
    "s_enrich",
    oracle="""
    SELECT e.event_id, e.event_type, c.c_mktsegment, c.c_name
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def s_enrich(spark, sf_dir):
    """Stream-static enrichment join: the streaming events enrich against a
    static dimension (broadcast per micro-batch) — the standard streaming
    lookup pattern; state-free, append mode."""
    from popelines_spark.streaming.runner import events_stream, run_to_completion

    ev = events_stream(spark, sf_dir)
    cust = F.broadcast(T(spark, sf_dir, "customer"))
    joined = ev.join(cust, ev.user_id == cust.c_custkey).select(
        "event_id", "event_type", "c_mktsegment", "c_name"
    )
    return run_to_completion(joined, "append")


@query(
    "b_merge_upsert",
    oracle="""
    WITH src AS (SELECT c_custkey, c_acctbal * 2 AS c_acctbal,
                        'UPDATED' AS c_mktsegment
                 FROM customer WHERE c_custkey % 10 = 0
                 UNION ALL
                 SELECT 900001, 111.11, 'NEW'
                 UNION ALL SELECT 900002, 222.22, 'NEW')
    SELECT coalesce(s.c_custkey, t.c_custkey) AS c_custkey,
           t.c_name,
           CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal
                ELSE t.c_acctbal END AS c_acctbal,
           CASE WHEN s.c_custkey IS NOT NULL THEN s.c_mktsegment
                ELSE t.c_mktsegment END AS c_mktsegment
    FROM customer t FULL JOIN src s ON t.c_custkey = s.c_custkey
    """,
)
def b_merge_upsert(spark, sf_dir):
    """MERGE INTO emulation (the delegated BigQuery MERGE surface): keyed
    upsert where matched rows take the source's values and new keys insert.
    One full-outer keyed join; see operators/upsert.py for semantics and
    the bucketed/Delta scale notes."""
    from popelines_spark.operators.upsert import upsert

    c = T(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    updates = c.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        (F.col("c_acctbal") * 2).alias("c_acctbal"),
        F.lit("UPDATED").alias("c_mktsegment"),
    )
    inserts = spark.createDataFrame(
        [(900001, 111.11, "NEW"), (900002, 222.22, "NEW")],
        "c_custkey long, c_acctbal double, c_mktsegment string",
    )
    return upsert(c, updates.unionByName(inserts), keys=["c_custkey"])


@query(
    "b_join_salted",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def b_join_salted(spark, sf_dir):
    """Skew-mitigated equi-join as a first-class query: the fact side
    salts its join key into 8 sub-keys, the other side replicates x8, and
    the shuffle key becomes (key, salt) — a hot orderkey's rows spread
    over 8 reducers instead of one (operators/skew.py; the manual
    counterpart of AQE's skew-join splitting, for when the skew is known
    up front). Salting must not change RESULTS: the oracle is the plain
    join + rollup, so the hash match proves the rewrite is semantically
    invisible."""
    from popelines_spark.operators.skew import salted_join

    l = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(
        l.withColumnRenamed("l_orderkey", "k"),
        o.withColumnRenamed("o_orderkey", "k"),
        on="k",
        buckets=8,
        salt_from=["k", "l_quantity"],
    )
    from popelines_spark.queries._util import dsum

    return joined.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n"),
        dsum("l_quantity").alias("qty"),
    )


@query(
    "b_join_bucketed",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def b_join_bucketed(spark, sf_dir):
    """Co-located join on BUCKETED tables — the zero-shuffle big⋈big path:
    both sides are written bucketBy(8, key) + sortBy(key), so the join
    reads bucket i of each table on the same task and sort-merges with NO
    Exchange on either side (asserted in test_plans.py; the only shuffle
    in the query is the final small rollup). At 100 TB this is the
    standing layout for fact tables that join repeatedly on the same key:
    pay the bucketed write once, skip the join shuffle forever. Results
    must equal the plain join bit-for-bit — same oracle as b_join_salted."""
    import os

    base = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    root = scratch_dir(f"bucketed_{base}", fresh=True)
    specs = {
        f"bkt_lineitem_{base}_{os.getpid()}": T(
            spark, sf_dir, "lineitem"
        ).select(F.col("l_orderkey").alias("k"), "l_quantity"),
        f"bkt_orders_{base}_{os.getpid()}": T(
            spark, sf_dir, "orders"
        ).select(F.col("o_orderkey").alias("k"), "o_orderpriority"),
    }
    for name, df in specs.items():
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.mode("overwrite")
            .bucketBy(8, "k")
            .sortBy("k")
            .option("path", os.path.join(root, name))
            .saveAsTable(name)
        )
    l, o = (spark.table(n) for n in specs)
    # merge hint: at tiny SFs auto-broadcast would win and hide the
    # bucketed path; the point of this query is the exchange-free SMJ
    # (at 100 TB neither side broadcasts and SMJ is what you get anyway)
    joined = l.join(o.hint("merge"), "k")
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(20,4)"))
        .cast("double")
        .alias("qty"),
    )


@query(
    "b_join_range",
    oracle="""
    SELECT e.event_id, e.ts, CAST(count(p.ts) AS BIGINT) AS n_nearby
    FROM (SELECT event_id, ts FROM events WHERE event_type = 'error') e
    LEFT JOIN (SELECT ts FROM events WHERE event_type = 'purchase') p
      ON p.ts BETWEEN e.ts - INTERVAL 1 HOUR AND e.ts + INTERVAL 1 HOUR
    GROUP BY 1, 2
    """,
)
def b_join_range(spark, sf_dir):
    """Global-time range join WITHOUT a key: purchases within ±1 h of each
    error event, counted per error. The oracle runs the plain non-equi
    BETWEEN join; the engine runs the bucket-expansion rewrite
    (operators/rangejoin.py) — quantize to radius-width buckets, expand
    the probe side to its <= 3 overlapping buckets, equi-join on bucket,
    exact re-check — a keyed shuffle with bounded fan-out instead of a
    nested-loop join."""
    from popelines_spark.operators.rangejoin import count_within_radius

    ev = T(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select("event_id", "ts")
    pur = ev.filter(F.col("event_type") == "purchase").select(
        F.col("ts").alias("pts")
    )
    return count_within_radius(
        err, pur, left_id="event_id", left_ts="ts", right_ts="pts"
    )


@query(
    "b_snapshot_diff",
    oracle="""
    WITH old AS (SELECT o_orderkey, o_totalprice, o_orderstatus
                 FROM orders),
    new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice,
             o_orderstatus
      FROM orders WHERE o_orderkey % 101 <> 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 103 = 0),
    j AS (SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
                 CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                      WHEN n.o_orderkey IS NULL THEN 'delete'
                      WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                        OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                      THEN 'update' END AS status
          FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey)
    SELECT o_orderkey, status FROM j WHERE status IS NOT NULL
    """,
)
def b_snapshot_diff(spark, sf_dir):
    """Snapshot reconciliation: yesterday's orders vs a deterministically
    mutated today (keys %101 deleted, %97 repriced, %103 re-inserted
    under shifted keys) classified into insert/delete/update by ONE keyed
    full-outer join (operators/diff.py:snapshot_diff — NULL-safe struct
    compare, unchanged keys dropped). The diff feeds CDC backfills and
    run-to-run data validation."""
    from popelines_spark.operators.diff import snapshot_diff

    orders = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    new = (
        orders.filter(F.col("o_orderkey") % 101 != 0)
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") + 1.0
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
            "o_orderstatus",
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 103 == 0).select(
                (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
                "o_totalprice",
                "o_orderstatus",
            )
        )
    )
    return snapshot_diff(
        orders,
        new,
        key_cols=["o_orderkey"],
        compare_cols=["o_totalprice", "o_orderstatus"],
    )


@query(
    "b_join_bloom",
    oracle="""
    SELECT s_name,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE)
             AS revenue
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    WHERE s_nationkey = 3
    GROUP BY s_name
    """,
)
def b_join_bloom(spark, sf_dir):
    """Bloom-prefiltered selective star join (operators/bloom.py): the
    dim side (suppliers of one nation, ~4% of keys) builds a 128 KiB
    bloom bitmap that is broadcast and probed with pure JVM xxhash64
    expressions on the fact side BEFORE the join's exchange — so the
    shuffle carries ~(hit rate + FPR) of lineitem instead of all of it.
    The explicit form of the runtime semi-join filter BigQuery applies
    transparently to the reference's delegated joins. Semantically
    invisible rewrite (b_join_salted pattern): the oracle is the plain
    join, the join itself removes bloom false positives, false negatives
    are impossible. The merge hint (applied by bloom_filter_join to the
    final join only, so it can't collide with the bitmap's broadcast
    hint) keeps the exchange in the plan at tiny SFs (at 100 TB neither
    side broadcasts and the prefiltered SMJ is what you get anyway);
    tests/test_bloom_join.py::test_registered_query_filters_below_exchange
    asserts the xxhash64 filter sits BELOW the big side's exchange.
    Dim predicate s_nationkey=3 is non-vacuous at every test SF
    (sf0.001 has exactly one nation-3 supplier)."""
    from popelines_spark.operators.bloom import bloom_filter_join
    from popelines_spark.queries._util import dsum

    fact = T(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("k"), "l_extendedprice"
    )
    dim = (
        T(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") == 3)
        .select(F.col("s_suppkey").alias("k"), "s_name")
    )
    joined = bloom_filter_join(fact, dim, on="k", final_join_hint="merge")
    return joined.groupBy("s_name").agg(
        F.count("*").cast("long").alias("n"),
        dsum("l_extendedprice").alias("revenue"),
    )


@query(
    "b_join_star_planned",
    oracle="""
    SELECT p_brand, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE)
             AS revenue
    FROM lineitem
    JOIN part ON l_partkey = p_partkey AND p_size <= 5
    JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey < 10
    LEFT JOIN orders ON l_orderkey = o_orderkey
    GROUP BY p_brand, o_orderpriority
    """,
)
def b_join_star_planned(spark, sf_dir):
    """Stats-PLANNED star join (planner.plan_star_join +
    operators/star.star_join): lineitem fact against three dims, leg
    order and per-leg strategy decided from one-pass estimate_stats
    profiles — most-selective inner dim first (part at ~10% of keys,
    then supplier at ~40%), the non-filtering LEFT orders leg last, and
    broadcast/bloom per leg exactly as plan_join would choose for a
    2-way join. The explicit form of the join-reordering BigQuery's
    optimizer applied to the reference's delegated multi-way joins
    (popelines/main.py:240). Reordering inner/left star legs cannot
    change the result, so the oracle is the plain user-order SQL join;
    at the test SFs every dim broadcasts. Bloom prefilters stay opt-in
    (``runtime_filter="auto"``, the join_tables contract): measured at
    sf1.0 they cut the first exchange 6.0M → 0.58M rows (one leg) /
    0.23M (both) for O(fact rows) of probe CPU — a win when network is
    the constraint, a cost locally (BASELINE.md round-10 star-join
    evidence; tests/test_star_planner.py covers the bloom regime from
    synthetic stats)."""
    from popelines_spark.operators.star import star_join
    from popelines_spark.planner import (
        estimate_stats_concurrent,
        plan_star_join,
    )
    from popelines_spark.queries._util import dsum

    fact = T(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"),
        F.col("l_suppkey").alias("sk"),
        F.col("l_orderkey").alias("ok"),
        "l_extendedprice",
    )
    part_d = (
        T(spark, sf_dir, "part")
        .filter(F.col("p_size") <= 5)
        .select(F.col("p_partkey").alias("pk"), "p_brand")
    )
    supp_d = (
        T(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") < 10)
        .select(F.col("s_suppkey").alias("sk"), "s_nationkey")
    )
    ord_d = T(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"), "o_orderpriority"
    )
    # r13: the 4 one-row stats passes run CONCURRENTLY (guide §2.6) —
    # values identical to sequential calls, planning latency overlapped.
    st_f, st_o, st_s, st_p = estimate_stats_concurrent(
        [(fact, ["pk", "sk", "ok"]), (ord_d, ["ok"]),
         (supp_d, ["sk"]), (part_d, ["pk"])]
    )
    plan = plan_star_join(
        st_f,
        [
            # described in DELIBERATELY suboptimal user order: the
            # non-filtering left leg first, least selective inner next —
            # the planner must reorder to part → supplier → orders
            {"name": "orders", "on": "ok", "how": "left", "stats": st_o},
            {"name": "supplier", "on": "sk", "stats": st_s},
            {"name": "part", "on": "pk", "stats": st_p},
        ],
    )
    joined = star_join(
        fact,
        [
            {"name": "part", "df": part_d, "on": "pk"},
            {"name": "supplier", "df": supp_d, "on": "sk"},
            {"name": "orders", "df": ord_d, "on": "ok", "how": "left"},
        ],
        plan,
    )
    return joined.groupBy("p_brand", "o_orderpriority").agg(
        F.count("*").cast("long").alias("n"),
        dsum("l_extendedprice").alias("revenue"),
    )
