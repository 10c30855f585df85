"""Round-5 analytics + curation queries.

Six operators a reference user would otherwise hand-write in delegated SQL
(popelines/main.py:236), made first-class with scale-audited plans:

 - ``c_scd2_track``   — SCD Type-2 dimension history (gaps-and-islands)
 - ``c_brand_affinity`` — market-basket brand co-occurrence lift
 - ``c_dataset_card`` — per-source corpus statistics (the "dataset card"
   a training-data curation pipeline publishes per snapshot)
 - ``c_ewma_daily``   — truncated-EWMA smoothing of a daily revenue series
 - ``c_containment``  — asymmetric shingle-containment decontamination join
 - ``c_dp_counts``    — Laplace-noised group counts (seeded, deterministic)

Float determinism per SURVEY.md §5: exact integer/decimal accumulation up
to a single final double expression, identical literal weights and
operator association on both engines, round(…, 2..6) everywhere a double
is emitted.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from popelines_spark.llm import dedup as D
from popelines_spark.operators import eventseq
from popelines_spark.registry import query
from popelines_spark.queries._util import T


@query(
    "c_scd2_track",
    oracle="""
    WITH ord AS (
      SELECT user_id, ts, event_type, event_id,
             CASE WHEN lag(event_type) OVER w IS NULL
                    OR lag(event_type) OVER w <> event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    isl AS (
      SELECT user_id, ts, event_type,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS island
      FROM ord),
    runs AS (
      SELECT user_id, island, event_type, min(ts) AS valid_from,
             CAST(count(*) AS BIGINT) AS n_obs
      FROM isl GROUP BY 1, 2, 3)
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY island)
             AS valid_to,
           CAST(island AS BIGINT) AS version, n_obs
    FROM runs
    """,
)
def c_scd2_track(spark, sf_dir):
    """SCD Type-2 history of each user's event_type "state": consecutive
    runs collapse to versioned [valid_from, valid_to) intervals, NULL
    valid_to marks the open interval. operators/eventseq.py:scd2_runs."""
    return eventseq.scd2_runs(
        T(spark, sf_dir, "events"), "user_id", "ts", "event_type", "event_id"
    )


@query(
    "c_brand_affinity",
    oracle="""
    WITH ob AS (SELECT DISTINCT l_orderkey, p_brand
                FROM lineitem JOIN part ON l_partkey = p_partkey),
    n AS (SELECT CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS n_orders
          FROM ob),
    bn AS (SELECT p_brand, CAST(count(*) AS DOUBLE) AS nb FROM ob
           GROUP BY 1),
    pr AS (SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
                  CAST(count(*) AS BIGINT) AS pair_n
           FROM ob a JOIN ob b ON a.l_orderkey = b.l_orderkey
                              AND a.p_brand < b.p_brand
           GROUP BY 1, 2)
    SELECT brand_a, brand_b, pair_n,
           round(CAST(pair_n AS DOUBLE) * n.n_orders / (ba.nb * bb.nb), 6)
             AS lift
    FROM pr
    CROSS JOIN n
    JOIN bn ba ON ba.p_brand = brand_a
    JOIN bn bb ON bb.p_brand = brand_b
    WHERE pair_n >= 5
    """,
)
def c_brand_affinity(spark, sf_dir):
    """Market-basket association: for brand pairs co-bought in >= 5 orders,
    lift = P(a,b) / (P(a)·P(b)) over the distinct (order, brand) relation.

    Plan: broadcast the part dim into the fact scan, distinct on
    (orderkey, brand) — per-order brand sets are bounded by order size, so
    the orderkey self-join fans out C(brands_in_order, 2), never
    |orders|^2; brand marginals broadcast back as a tiny dim. All keyed
    shuffles; the single-row total attaches via broadcast cross join (the
    sanctioned scalar pattern, llm/rank.py)."""
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = T(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    n = ob.agg(
        F.count_distinct("l_orderkey").cast("double").alias("n_orders")
    )
    bn = ob.groupBy("p_brand").agg(F.count("*").cast("double").alias("nb"))
    a = ob.select(F.col("l_orderkey"), F.col("p_brand").alias("brand_a"))
    b = ob.select(F.col("l_orderkey"), F.col("p_brand").alias("brand_b"))
    pr = (
        a.join(b, "l_orderkey")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").cast("long").alias("pair_n"))
    )
    return (
        pr.filter(F.col("pair_n") >= 5)
        .crossJoin(F.broadcast(n))
        .join(
            F.broadcast(bn.select(F.col("p_brand").alias("brand_a"),
                                  F.col("nb").alias("__nba"))),
            "brand_a",
        )
        .join(
            F.broadcast(bn.select(F.col("p_brand").alias("brand_b"),
                                  F.col("nb").alias("__nbb"))),
            "brand_b",
        )
        .select(
            "brand_a",
            "brand_b",
            "pair_n",
            F.round(
                F.col("pair_n").cast("double") * F.col("n_orders")
                / (F.col("__nba") * F.col("__nbb")),
                6,
            ).alias("lift"),
        )
    )


@query(
    "c_dataset_card",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS n_tokens,
           round(avg(n_chars), 2) AS avg_chars,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           round(1 - count(DISTINCT text) / CAST(count(*) AS DOUBLE), 4)
             AS dup_rate
    FROM documents GROUP BY source
    """,
)
def c_dataset_card(spark, sf_dir):
    """Per-source dataset card: doc/token counts, mean length, language
    spread, exact-duplicate rate — the per-snapshot summary a curation
    pipeline publishes next to each training shard. One grouped scan; the
    two distinct-aggregates are per-group exact (at extreme cardinality
    the approx_count_distinct twin applies, b_agg_approx_distinct)."""
    docs = T(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
        F.round(
            F.lit(1)
            - F.count_distinct("text") / F.count("*").cast("double"),
            4,
        ).alias("dup_rate"),
    )


_EWMA_ALPHA = 0.3
_EWMA_LAGS = 8


def _ewma_sql() -> str:
    """DuckDB mirror of eventseq.ewma: same float literals (repr of the
    Python double is parsed back to the identical IEEE value), same
    ascending-lag accumulation order, same renormalization."""
    num, den = "0.0", "0.0"
    for i in range(_EWMA_LAGS):
        wt = repr(_EWMA_ALPHA * (1.0 - _EWMA_ALPHA) ** i)
        x = "rev" if i == 0 else f"lag(rev, {i}) OVER w"
        num = f"({num} + CASE WHEN {x} IS NOT NULL THEN {wt} * {x} ELSE 0.0 END)"
        den = f"({den} + CASE WHEN {x} IS NOT NULL THEN {wt} ELSE 0.0 END)"
    return f"""
    WITH daily AS (
      SELECT n_name,
             CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS rev
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2)
    SELECT n_name, day, round({num} / {den}, 2) AS ewma_rev
    FROM daily
    WINDOW w AS (PARTITION BY n_name ORDER BY day)
    """


@query("c_ewma_daily", oracle=_ewma_sql())
def c_ewma_daily(spark, sf_dir):
    """Truncated EWMA (alpha=0.3, 8 lags) of daily revenue per nation —
    time-series smoothing as one keyed window over a decimal-exact daily
    rollup. operators/eventseq.py:ewma carries the determinism and
    shuffle notes (one exchange on the nation key, codegen lag() reads)."""
    orders = T(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    daily = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            "n_name", F.date_trunc("day", "o_orderdate").alias("day")
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
            .cast("double")
            .alias("rev")
        )
    )
    # round_dp=2: daily revenue reaches ~1e7 at sf1.0, where 6dp rounding
    # sits at the double ulp boundary and diverges cross-engine ~5e-4/row
    # (found by the sf1.0 parity spot-check; eventseq.ewma docstring).
    return eventseq.ewma(
        daily, "n_name", "day", "rev", _EWMA_ALPHA, _EWMA_LAGS, round_dp=2
    )


_SHINGLE_A = """
    , sha0 AS (SELECT doc_id,
                 list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                FOR i IN generate_series(1, len(ws) - 2)])
                   AS shset
               FROM (SELECT doc_id, str_split(text, ' ') AS ws FROM bench)),
      shb0 AS (SELECT doc_id,
                 list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                FOR i IN generate_series(1, len(ws) - 2)])
                   AS shset
               FROM (SELECT doc_id, str_split(text, ' ') AS ws
                     FROM corpus)),
      sha AS (SELECT doc_id, unnest(shset) AS s FROM sha0),
      shb AS (SELECT doc_id, unnest(shset) AS s FROM shb0),
      na AS (SELECT doc_id, len(shset) AS n FROM sha0),
      inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       CAST(count(*) AS DOUBLE) AS i
                FROM sha a JOIN shb b ON a.s = b.s GROUP BY 1, 2)
"""


@query(
    "c_containment",
    oracle="""
    WITH bench AS (
      SELECT doc_id + 500000 AS doc_id,
             array_to_string(
               ws[1:CAST(ceil(0.6 * len(ws)) AS BIGINT)], ' ') AS text
      FROM (SELECT doc_id, str_split(text, ' ') AS ws FROM documents
            WHERE source = 'src1')),
    corpus AS (SELECT doc_id, text FROM documents)
    """
    + _SHINGLE_A
    + """
    SELECT id_a, id_b, round(i / na.n, 6) AS containment
    FROM inter JOIN na ON na.doc_id = id_a
    WHERE round(i / na.n, 6) >= 0.6
    """,
)
def c_containment(spark, sf_dir):
    """Decontamination containment join: benchmark set = the first 60% of
    tokens of every src1 doc (planted, doc_id+500000); emit corpus docs
    CONTAINING a benchmark doc at >= 0.6 shingle containment (each
    planted pair verifies at exactly 1.0 — a prefix's shingles are a
    subset of the full doc's). llm/dedup.py:containment_pairs carries the
    asymmetric prefix-filter completeness proof and shuffle profile."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "text", "source")
    bench = docs.filter(F.col("source") == "src1").select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.expr(
            "array_join(slice(split(text, ' '), 1,"
            " CAST(ceil(0.6 * size(split(text, ' '))) AS INT)), ' ')"
        ).alias("text"),
    )
    return D.containment_pairs(
        bench,
        docs.select("doc_id", "text"),
        id_col="doc_id",
        text_col="text",
        shingle_k=3,
        threshold=0.6,
    )


@query(
    "c_dp_counts",
    oracle="""
    SELECT event_type,
           round(CAST(count(*) AS DOUBLE)
                 + (-1.0)
                   * sign(((ascii(substr(event_type, 1, 1)) * 31
                            + ascii(substr(event_type, 2, 1)))
                           * 2654435761) % 1000000007
                          / 1000000007.0 - 0.5)
                   * ln(1 - 2 * abs(((ascii(substr(event_type, 1, 1)) * 31
                                      + ascii(substr(event_type, 2, 1)))
                                     * 2654435761) % 1000000007
                                    / 1000000007.0 - 0.5)),
                 2) AS noisy_n
    FROM events GROUP BY event_type
    """,
)
def c_dp_counts(spark, sf_dir):
    """Laplace-noised group counts (epsilon=1, sensitivity 1): inverse-CDF
    noise from a SEEDED per-group uniform (multiplicative hash of the
    group key) so the release is reproducible under retries/AQE and
    testable against the oracle — a production release swaps the hash for
    calibrated randomness, everything else is unchanged. Post-aggregation
    per-group expression: zero extra shuffles beyond the count itself."""
    events = T(spark, sf_dir, "events")
    u = (
        (
            (
                F.ascii(F.substring("event_type", 1, 1)) * 31
                + F.ascii(F.substring("event_type", 2, 1))
            ).cast("long")
            * 2654435761
        )
        % 1000000007
        / 1000000007.0
        - 0.5
    )
    noise = F.lit(-1.0) * F.signum(u) * F.log(1 - 2 * F.abs(u))
    return events.groupBy("event_type").agg(
        F.round(F.count("*").cast("double") + noise, 2).alias("noisy_n")
    )


def _pagerank_sql(n_iter: int = 10) -> str:
    """Loop-unrolled DuckDB mirror of operators/graph.py:pagerank over the
    above-average-weight nation trade graph. Decimal state + 12dp-rounded
    contributions make every iteration exact and order-independent on both
    engines (graph.py module docstring).

    Rounding-mode trap (verified empirically): Spark's decimal CAST rounds
    HALF_UP but DuckDB's CAST rounds HALF_EVEN — and ties are COMMON here
    because power-of-two reciprocals (d=2 → 0.5) put an exact 5 in the
    13th digit. DuckDB's round() IS half-up, so the mirror rounds
    explicitly before every narrowing cast."""
    base_lit = repr(1.0 - 0.85)
    sql = f"""
    WITH cnt AS (SELECT s_nationkey AS src, c_nationkey AS dst,
                        count(*) AS w
                 FROM lineitem
                 JOIN supplier ON l_suppkey = s_suppkey
                 JOIN orders ON l_orderkey = o_orderkey
                 JOIN customer ON o_custkey = c_custkey
                 GROUP BY 1, 2),
    thr AS (SELECT avg(CAST(w AS DOUBLE)) AS t FROM cnt),
    edges AS (SELECT src, dst FROM cnt CROSS JOIN thr
              WHERE CAST(w AS DOUBLE) > t),
    deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nation),
    nodes AS (SELECT n_nationkey AS node, n_name,
                     CAST(CAST({base_lit} AS DOUBLE) / (SELECT n FROM nn)
                          AS DECIMAL(14,12)) AS base
              FROM nation),
    er AS (SELECT e.src, e.dst,
                  CAST(CAST(1.0 AS DOUBLE) / d.d AS DECIMAL(13,12)) AS recip
           FROM edges e JOIN deg d ON d.src = e.src),
    r0 AS (SELECT node,
                  CAST(CAST(1.0 AS DOUBLE) / (SELECT n FROM nn)
                       AS DECIMAL(14,12)) AS pr
           FROM nodes)
    """
    for i in range(n_iter):
        sql += f"""
    , c{i} AS (SELECT er.dst AS node,
                      CAST(round(r.pr * er.recip, 12) AS DECIMAL(14,12))
                        AS contrib
               FROM r{i} r JOIN er ON r.node = er.src),
    s{i} AS (SELECT node, SUM(contrib) AS infl FROM c{i} GROUP BY 1),
    r{i + 1} AS (SELECT n.node,
                 CAST(n.base + COALESCE(
                        CAST(round(0.85 * CAST(s.infl AS DECIMAL(14,12)),
                                   12) AS DECIMAL(14,12)),
                        CAST(0 AS DECIMAL(14,12)))
                      AS DECIMAL(14,12)) AS pr
                 FROM nodes n LEFT JOIN s{i} s ON n.node = s.node)
        """
    sql += f"""
    SELECT n.n_name, CAST(r.pr AS DOUBLE) AS pr
    FROM r{n_iter} r JOIN nodes n ON n.node = r.node
    """
    return sql


@query("c_pagerank_nations", oracle=_pagerank_sql(10))
def c_pagerank_nations(spark, sf_dir):
    """PageRank (10 iterations, d=0.85) over the nation trade graph:
    edge src→dst when supplier-nation src ships to customer-nation dst in
    strictly more line items than the average ordered pair (the
    sparsifier that gives the complete 25-node graph varied degrees at
    every SF). operators/graph.py:pagerank carries the decimal-exactness
    notes and the bounded-edges driver path this query takes."""
    from popelines_spark.operators.graph import pagerank

    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    sup = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cnt = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(F.count("*").alias("w"))
    )
    thr = cnt.agg(F.avg(F.col("w").cast("double")).alias("t"))
    edges = (
        cnt.crossJoin(F.broadcast(thr))
        .filter(F.col("w").cast("double") > F.col("t"))
        .select("src", "dst")
    )
    ranks = pagerank(
        edges, nation.select(F.col("n_nationkey").alias("node")),
        node_col="node", n_iter=10, damping=0.85,
        # the trade graph is ≤ |nations|² rows by construction, so the
        # ten rounds run on the driver over the collected edges
        # (operators/graph.py: bit-identical to the Spark loop)
        bounded_edges=True,
    )
    return ranks.join(
        F.broadcast(nation), ranks.node == nation.n_nationkey
    ).select("n_name", F.col("pr").cast("double").alias("pr"))


@query(
    "c_attribution",
    oracle="""
    WITH pur AS (SELECT event_id, user_id, ts FROM events
                 WHERE event_type = 'purchase'),
    src AS (SELECT user_id AS u, ts AS st, event_type AS stype FROM events
            WHERE event_type IN ('click', 'view')),
    best AS (SELECT p.event_id, p.user_id, p.ts, max(s.st) AS mt
             FROM pur p LEFT JOIN src s
               ON s.u = p.user_id AND s.st <= p.ts
                  AND s.st >= p.ts - INTERVAL 7 DAY
             GROUP BY 1, 2, 3),
    att AS (SELECT b.event_id, s.stype
            FROM best b LEFT JOIN src s
              ON s.u = b.user_id AND s.st = b.mt)
    SELECT COALESCE(stype, 'direct') AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases
    FROM att GROUP BY 1
    """,
)
def c_attribution(spark, sf_dir):
    """Last-touch marketing attribution: each purchase credits the user's
    most recent click/view within a 7-day lookback, else 'direct'. Reuses
    the single-shuffle as-of machinery (operators/asof.py) — the oracle's
    max-ts two-step is unambiguous because (user_id, ts) is unique in the
    testdata (verified at every SF); the operator's payload tie-break
    (xxhash64) only matters on data with exact ts collisions."""
    from popelines_spark.operators.asof import asof_join

    ev = T(spark, sf_dir, "events")
    pur = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    src = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("s_user"),
        F.col("ts").alias("s_ts"),
        F.col("event_type").alias("s_type"),
    )
    return (
        asof_join(
            pur, src,
            left_on="user_id", right_on="s_user",
            left_ts="ts", right_ts="s_ts",
            tolerance_us=7 * 86400 * 1_000_000,
        )
        .groupBy(F.coalesce("s_type", F.lit("direct")).alias("channel"))
        .agg(F.count("*").cast("long").alias("n_purchases"))
    )


@query(
    "c_sample_weighted",
    oracle="""
    SELECT o_orderpriority, rn, o_orderkey
    FROM (SELECT o_orderpriority, o_orderkey,
            CAST(row_number() OVER (PARTITION BY o_orderpriority ORDER BY
              ((-1.0) * ln((((o_orderkey % 1000003) * 2654435761)
                            % 1000000007 + 1) / 1000000008.0))
                / o_totalprice,
              o_orderkey) AS BIGINT) AS rn
          FROM orders)
    WHERE rn <= 5
    """,
)
def c_sample_weighted(spark, sf_dir):
    """Weighted sampling without replacement, 5 orders per priority class,
    P(pick) ∝ o_totalprice — Efraimidis-Spirakis A-Res: draw key
    -ln(u)/w per row and keep the k smallest per group. u is the same
    seeded multiplicative id-hash as c_sample_per_group (no RNG:
    identical rows under retries/AQE and in the oracle). One keyed
    window; at extreme group cardinality the same keys feed a
    top-k-per-group aggregate instead of row_number (the
    b_topk_per_group plan note)."""
    orders = T(spark, sf_dir, "orders")
    u = (
        ((F.col("o_orderkey") % 1000003) * F.lit(2654435761)) % 1000000007
        + 1
    ) / 1000000008.0
    key = (F.lit(-1.0) * F.log(u)) / F.col("o_totalprice")
    from pyspark.sql.window import Window as W

    w = W.partitionBy("o_orderpriority").orderBy(
        key.asc(), F.col("o_orderkey").asc()
    )
    return (
        orders.select(
            "o_orderpriority",
            "o_orderkey",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 5)
        .select("o_orderpriority", "rn", "o_orderkey")
    )


@query(
    "c_rolling_dau",
    oracle="""
    WITH du AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP)
                  AS day, user_id
                FROM events),
    days AS (SELECT DISTINCT day FROM du),
    e AS (SELECT d2.day AS target, du.user_id
          FROM du JOIN days d2
            ON d2.day >= du.day AND d2.day <= du.day + INTERVAL 6 DAY)
    SELECT target AS day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau7
    FROM e GROUP BY target
    """,
)
def c_rolling_dau(spark, sf_dir):
    """Trailing-7-day active users per day — the rolling DISTINCT count a
    plain window frame cannot express (COUNT(DISTINCT) OVER a RANGE frame
    is unsupported on both engines, and naive per-day re-scans are
    quadratic). Each (day, user) pair fans out to the <= 7 target days it
    supports via an explode of a 7-element date sequence, then one
    distinct-count per target day: shuffle volume is 7x the daily-active
    relation — bounded, keyed, and at extreme cardinality the same
    expansion feeds daily HLL sketches unioned per window
    (b_sketch_hll_merge) instead of the exact distinct."""
    ev = T(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    ).distinct()
    days = du.select(F.col("day").alias("target")).distinct()
    expanded = du.select(
        F.explode(
            F.sequence(
                F.col("day"),
                F.col("day") + F.expr("INTERVAL 6 DAY"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("target"),
        "user_id",
    )
    return (
        expanded.join(days, "target")
        .groupBy("target")
        .agg(F.count_distinct("user_id").cast("long").alias("dau7"))
        .select(F.col("target").alias("day"), "dau7")
    )
