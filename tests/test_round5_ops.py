"""Unit tests for the round-5 operators (queries/ext_analytics2.py).

Each test pins the semantics on a hand-computable frame; the sf0.01
hash-vs-DuckDB check is tools/parity.py's job.
"""

from __future__ import annotations

import datetime as dt
import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from popelines_spark.llm import dedup as D
from popelines_spark.operators import eventseq


def _ts(h):
    return dt.datetime(2024, 1, 1, h)


def test_scd2_runs_islands_and_intervals(spark):
    rows = [
        (1, _ts(0), "a", 10),
        (1, _ts(1), "a", 11),
        (1, _ts(2), "b", 12),
        (1, _ts(3), "a", 13),
        (2, _ts(0), "x", 20),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, state string, eid int")
    out = eventseq.scd2_runs(df, "user_id", "ts", "state", "eid")
    got = {
        (r.user_id, r.version): (r.state, r.valid_from, r.valid_to, r.n_obs)
        for r in out.collect()
    }
    assert got[(1, 1)] == ("a", _ts(0), _ts(2), 2)
    assert got[(1, 2)] == ("b", _ts(2), _ts(3), 1)
    assert got[(1, 3)] == ("a", _ts(3), None, 1)  # open interval
    assert got[(2, 1)] == ("x", _ts(0), None, 1)
    assert len(got) == 4


def test_scd2_runs_tiebreak_on_equal_ts(spark):
    # all three at the same ts: eid orders them 0(a), 1(a), 2(b), so the
    # runs are [a x2, b x1] — deterministic despite the ts tie
    rows = [(1, _ts(0), "a", 1), (1, _ts(0), "b", 2), (1, _ts(0), "a", 0)]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, state string, eid int")
    out = sorted(
        eventseq.scd2_runs(df, "user_id", "ts", "state", "eid").collect(),
        key=lambda r: r.version,
    )
    assert [(r.state, r.n_obs) for r in out] == [("a", 2), ("b", 1)]


def test_ewma_truncated_weights(spark):
    df = spark.createDataFrame(
        [("k", 1, 10.0), ("k", 2, 20.0), ("k", 3, 30.0)],
        "key string, t int, v double",
    )
    out = {
        r.t: r.ewma_v
        for r in eventseq.ewma(df, "key", "t", "v", 0.5, n_lags=2).collect()
    }
    # t=1: only current -> 10; t=2: (.5*20+.25*10)/.75; t=3: (.5*30+.25*20)/.75
    assert out[1] == 10.0
    assert abs(out[2] - (0.5 * 20 + 0.25 * 10) / 0.75) < 1e-5  # ewma rounds to 6dp
    assert abs(out[3] - (0.5 * 30 + 0.25 * 20) / 0.75) < 1e-5  # ewma rounds to 6dp


def test_containment_pairs_prefix_complete(spark):
    # doc 100 contains doc 1 verbatim (containment 1.0); doc 2 shares nothing
    a = "the quick brown fox jumps over dogs"
    b = "PRE " + a + " POST tail words here"
    docs = spark.createDataFrame(
        [(1, a), (2, "zebra yak xylo wombat vole umbra turtle")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame([(100, b)], "doc_id long, text string")
    out = D.containment_pairs(
        docs, corpus, "doc_id", "text", shingle_k=3, threshold=0.6
    ).collect()
    assert len(out) == 1
    assert (out[0].id_a, out[0].id_b, out[0].containment) == (1, 100, 1.0)


def test_containment_asymmetric_vs_jaccard(spark):
    # containment(A in B) high while Jaccard is low: A is 5 tokens inside a
    # 40-token B -> J ~ 3/38 but C = 1.0
    a_txt = "alpha beta gamma delta epsilon"
    filler = " ".join(f"w{i}" for i in range(35))
    bench = spark.createDataFrame([(1, a_txt)], "doc_id long, text string")
    corp = spark.createDataFrame(
        [(2, filler + " " + a_txt)], "doc_id long, text string"
    )
    out = D.containment_pairs(bench, corp, "doc_id", "text", 3, 0.6).collect()
    assert len(out) == 1 and out[0].containment == 1.0


def test_dp_counts_deterministic_and_bounded(spark, monkeypatch):
    from popelines_spark.queries.ext_analytics2 import c_dp_counts

    out1 = {r.event_type: r.noisy_n for r in c_dp_counts(spark, "/root/testdata/sf0.001").collect()}
    out2 = {r.event_type: r.noisy_n for r in c_dp_counts(spark, "/root/testdata/sf0.001").collect()}
    assert out1 == out2  # seeded noise: identical release under re-run
    # Laplace(b=1) noise beyond +-15 has probability ~3e-7; with 5 groups a
    # violation means the formula broke, not bad luck
    from popelines_spark.tables import load

    true = {
        r.event_type: r.n
        for r in load(spark, "/root/testdata/sf0.001", "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for k, v in out1.items():
        assert abs(v - true[k]) < 15.0


def test_brand_affinity_lift_formula(spark):
    from popelines_spark.queries.ext_analytics2 import c_brand_affinity

    out = c_brand_affinity(spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert all(r.pair_n >= 5 for r in rows)
    assert all(r.brand_a < r.brand_b for r in rows)
    assert all(r.lift > 0 for r in rows)


def test_pagerank_uniform_on_symmetric_cycle(spark):
    from popelines_spark.operators.graph import pagerank

    # directed 4-cycle: perfectly symmetric -> uniform ranks, sum == 1
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0)], "src int, dst int"
    )
    nodes = spark.createDataFrame([(i,) for i in range(4)], "node int")
    out = {r.node: float(r.pr) for r in pagerank(edges, nodes).collect()}
    assert all(abs(v - 0.25) < 1e-9 for v in out.values())
    assert abs(sum(out.values()) - 1.0) < 1e-9


def test_pagerank_sink_gains_rank(spark):
    from popelines_spark.operators.graph import pagerank

    # 0->2, 1->2, 2->0: node 1 has no in-edges so it decays to the base
    # (1-d)/n and both cycle members outrank it at every iteration (the
    # 0<->2 two-cycle itself still oscillates at 10 iterations, so their
    # relative order is not asserted); rank mass is conserved (no danglers)
    edges = spark.createDataFrame([(0, 2), (1, 2), (2, 0)], "src int, dst int")
    nodes = spark.createDataFrame([(i,) for i in range(3)], "node int")
    out = {r.node: float(r.pr) for r in pagerank(edges, nodes).collect()}
    assert out[2] > out[1] and out[0] > out[1]
    assert abs(out[1] - 0.05) < 1e-9  # base (1-0.85)/3
    assert abs(sum(out.values()) - 1.0) < 1e-9


def test_pagerank_dangling_mass_leaks(spark):
    from popelines_spark.operators.graph import pagerank

    # 0->1, 1 dangling: documented variant — total rank < 1
    edges = spark.createDataFrame([(0, 1)], "src int, dst int")
    nodes = spark.createDataFrame([(0,), (1,)], "node int")
    out = {r.node: float(r.pr) for r in pagerank(edges, nodes).collect()}
    assert out[1] > out[0]
    assert sum(out.values()) < 1.0


def test_pagerank_edge_to_outside_node_counts_in_out_degree(spark):
    from popelines_spark.operators.graph import pagerank

    # 0->1, 0->9, 1->0 with nodes {0, 1}: node 9 is outside the node set,
    # so it gets no rank row, but 0's out-degree is still 2 — half of
    # 0's rank leaks through the edge to 9 instead of all going to 1
    edges = spark.createDataFrame([(0, 1), (0, 9), (1, 0)], "src int, dst int")
    nodes = spark.createDataFrame([(0,), (1,)], "node int")
    out = {r.node: float(r.pr) for r in pagerank(edges, nodes).collect()}
    assert set(out) == {0, 1}
    pr0 = pr1 = 0.5
    for _ in range(10):
        pr0, pr1 = 0.075 + 0.85 * pr1, 0.075 + 0.85 * pr0 / 2
    assert abs(out[0] - pr0) < 1e-9 and abs(out[1] - pr1) < 1e-9


def test_pagerank_ranks_each_distinct_node_once(spark):
    from popelines_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(0, 1), (1, 0)], "src int, dst int")
    nodes = spark.createDataFrame([(0,), (1,), (1,)], "node int")
    got = sorted(r.node for r in pagerank(edges, nodes, n_iter=2).collect())
    assert got == [0, 1]


def _random_graph(spark, seed, n_edges):
    """Nodes 0..8 plus a duplicated row and a NULL node; random edges from
    nodes 0..6 (7 and 8 dangle) plus one edge whose dst is outside."""
    rng = random.Random(seed)
    pairs = sorted(
        {(rng.randrange(7), rng.randrange(9)) for _ in range(n_edges)}
    )
    if pairs:
        pairs.append((0, 99))
    edges = spark.createDataFrame(pairs, "src int, dst int")
    nodes = spark.createDataFrame(
        [(i,) for i in range(9)] + [(3,), (None,)], "node int"
    )
    return edges, nodes


@pytest.mark.parametrize(
    "seed,n_edges,n_iter", [(1, 20, 0), (2, 20, 1), (3, 25, 7), (4, 0, 7)]
)
def test_pagerank_bounded_path_matches_spark_loop(spark, seed, n_edges, n_iter):
    from popelines_spark.operators.graph import pagerank

    edges, nodes = _random_graph(spark, seed, n_edges)
    loop = pagerank(edges, nodes, n_iter=n_iter)
    driver = pagerank(edges, nodes, n_iter=n_iter, bounded_edges=True)

    def rows(df):  # exact: str() keeps every decimal digit and the scale
        return Counter((r.node, str(r.pr)) for r in df.collect())

    assert driver.dtypes == loop.dtypes
    assert rows(driver) == rows(loop)


def test_pagerank_bounded_path_refuses_oversized_edges(spark, monkeypatch):
    import popelines_spark.operators.graph as G

    monkeypatch.setattr(G, "MAX_BOUNDED_EDGES", 2)
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], "src int, dst int")
    nodes = spark.createDataFrame([(i,) for i in range(3)], "node int")
    with pytest.raises(ValueError, match="3 edges"):
        G.pagerank(edges, nodes, bounded_edges=True)


def test_pagerank_bounded_path_audits_edge_build(spark, monkeypatch):
    from pyspark.sql.window import Window as W

    from popelines_spark.operators.graph import pagerank

    monkeypatch.setenv("POPELINES_PLAN_AUDIT", "strict")
    # dst comes out of a partition-less window, so the window stays in
    # the edge build's plan
    edges = (
        spark.range(6)
        .select(F.col("id").cast("int").alias("src"))
        .withColumn("dst", (F.row_number().over(W.orderBy("src")) % 6).cast("int"))
    )
    nodes = spark.createDataFrame([(i,) for i in range(6)], "node int")
    with pytest.raises(AssertionError, match="pagerank-edges"):
        pagerank(edges, nodes, bounded_edges=True)


def test_attribution_channels_partition_purchases(spark):
    from popelines_spark.queries.ext_analytics2 import c_attribution
    from popelines_spark.tables import load

    out = {r.channel: r.n_purchases for r in c_attribution(spark, "/root/testdata/sf0.001").collect()}
    n_pur = (
        load(spark, "/root/testdata/sf0.001", "events")
        .filter("event_type = 'purchase'")
        .count()
    )
    assert set(out) <= {"click", "view", "direct"}
    assert sum(out.values()) == n_pur


def test_cms_merge_equals_direct_build(spark):
    # merged daily counters must be bit-identical to a direct weekly build,
    # so estimates can never differ between the two paths
    from popelines_spark.queries.sketches import b_sketch_cms_merge

    out = b_sketch_cms_merge(spark, "/root/testdata/sf0.001").collect()
    assert out and all(r.never_undercounts for r in out)
    # 5 event types vs 4096 counters: collisions are rare enough that most
    # estimates are exact at this SF
    assert sum(1 for r in out if r.cms_est == r.exact_cnt) >= len(out) // 2


def test_sample_weighted_is_without_replacement(spark):
    from popelines_spark.queries.ext_analytics2 import c_sample_weighted

    rows = c_sample_weighted(spark, "/root/testdata/sf0.001").collect()
    per_group = {}
    for r in rows:
        per_group.setdefault(r.o_orderpriority, []).append(r.o_orderkey)
    for keys in per_group.values():
        assert len(keys) == 5 and len(set(keys)) == 5


def test_scd2_properties_random_streams(spark):
    """Property test: for random event streams, the SCD2 intervals per user
    (1) tile the observed span — valid_from of version v+1 equals valid_to
    of version v, the last interval is open; (2) n_obs sums to the user's
    event count; (3) adjacent intervals never share a state."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    streams = []

    @settings(max_examples=60, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(0, 3), st.integers(0, 50), st.sampled_from("abc")),
            min_size=1,
            max_size=30,
        )
    )
    def collect(evs):
        streams.append(evs)

    collect()
    rows, eid = [], 0
    for si, evs in enumerate(streams):
        for user, t, state in evs:
            rows.append((si * 10 + user, dt.datetime(2024, 1, 1) + dt.timedelta(hours=t), state, eid))
            eid += 1
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, state string, eid long")
    out = eventseq.scd2_runs(df, "user_id", "ts", "state", "eid").collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r)
    counts = {}
    for u, t, s, e in [(r[0], r[1], r[2], r[3]) for r in rows]:
        counts[u] = counts.get(u, 0) + 1
    for u, ivs in by_user.items():
        ivs.sort(key=lambda r: r.version)
        assert [r.version for r in ivs] == list(range(1, len(ivs) + 1))
        for prev, nxt in zip(ivs, ivs[1:]):
            assert prev.valid_to == nxt.valid_from  # tiling, no gaps
            assert prev.state != nxt.state  # runs are maximal
        assert ivs[-1].valid_to is None  # open current interval
        assert sum(r.n_obs for r in ivs) == counts[u]


def test_cdc_latest_matches_batch_argmax(spark):
    from popelines_spark.queries.streaming_queries import s_cdc_latest
    from popelines_spark.tables import load

    got = {
        r.user_id: (r.last_ts, r.last_type)
        for r in s_cdc_latest(spark, "/root/testdata/sf0.001").collect()
    }
    want = {
        r.user_id: (r.last_ts, r.last_type)
        for r in load(spark, "/root/testdata/sf0.001", "events")
        .groupBy("user_id")
        .agg(F.max(F.struct("ts", "event_type")).alias("m"))
        .select(
            "user_id",
            F.col("m.ts").alias("last_ts"),
            F.col("m.event_type").alias("last_type"),
        )
        .collect()
    }
    assert got == want


def test_rolling_dau_superset_of_daily(spark):
    from popelines_spark.queries.ext_analytics2 import c_rolling_dau
    from popelines_spark.tables import load

    dau7 = {r.day: r.dau7 for r in c_rolling_dau(spark, "/root/testdata/sf0.001").collect()}
    daily = {
        r.day: r.n
        for r in load(spark, "/root/testdata/sf0.001", "events")
        .select(F.date_trunc("day", "ts").alias("day"), "user_id")
        .distinct()
        .groupBy("day")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # every day present; trailing-7 count >= that day's own distinct users
    for day, n in daily.items():
        assert dau7[day] >= n


# ---------------------------------------------------------------- graph b
def test_bfs_hops_min_distance_and_bound(spark):
    """BFS returns min hops from ANY seed, ignores unreachable nodes, and
    never exceeds max_hops even when a longer path exists."""
    from popelines_spark.operators.graph import bfs_hops

    #   0→1→2→3→4→5   plus shortcut 0→3, island 9
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (0, 3)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: r["hops"] for r in bfs_hops(edges, seeds, max_hops=2).collect()}
    # node 3 via shortcut = 1 hop (not 3); node 4 = 2; node 5 beyond bound
    assert got == {0: 0, 1: 1, 3: 1, 2: 2, 4: 2}

    # multi-source: min over seeds
    seeds2 = spark.createDataFrame([(0,), (4,)], "node long")
    got2 = {r["node"]: r["hops"] for r in bfs_hops(edges, seeds2, max_hops=1).collect()}
    assert got2 == {0: 0, 4: 0, 1: 1, 3: 1, 5: 1}


def test_triangle_counts_canonical_enumeration(spark):
    """Each triangle counted once per corner; nodes outside triangles get
    0; an edge listed in canonical (src<dst) form only."""
    from popelines_spark.operators.graph import triangle_counts

    # triangles (1,2,3) and (2,3,4); pendant node 5; isolate 6
    und = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (4, 5)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(n,) for n in range(1, 7)], "node long")
    got = {r["node"]: r["n_tri"] for r in triangle_counts(und, nodes).collect()}
    assert got == {1: 1, 2: 2, 3: 2, 4: 1, 5: 0, 6: 0}


def test_skyline_dominance(spark):
    """Skyline keeps exactly the non-dominated (size↑, price↓) points,
    including ties on the frontier."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_DIR

    rows = entrymod.queries()["c_skyline"](spark, SF_DIR).collect()
    got = {(r["p_size"], r["p_retailprice"]) for r in rows}
    # brute-force oracle on the same parquet via pandas
    import pandas as pd

    pdf = pd.read_parquet(f"{SF_DIR}/part.parquet")[["p_size", "p_retailprice"]]
    pts = list(pdf.itertuples(index=False, name=None))
    sky = {
        (s, p)
        for (s, p) in pts
        if not any(
            (s2 >= s and p2 <= p and (s2 > s or p2 < p)) for (s2, p2) in pts
        )
    }
    assert got == sky and len(rows) >= 1


def test_bigram_xent_tiny_corpus(spark):
    """Analytic check: p(w2|w1)=c(w1w2)/c(w1·), both docs matching the
    hand-computed values."""
    import math

    from popelines_spark.llm.rank import bigram_xent

    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b a b")], "doc_id long, text string"
    )
    got = {r["doc_id"]: (r["n_bg"], r["xent"]) for r in
           bigram_xent(docs, "doc_id", "text").collect()}
    # corpus: doc1 bigrams (a,a)x3; doc2 (a,b)x2,(b,a)x1 →
    # c(a,a)=3, c(a,b)=2, c(b,a)=1, ctx(a)=5, ctx(b)=1
    assert got[1][0] == 3
    exp1 = round(-3 * math.log(3 / 5) / 3, 6)
    assert got[1][1] == exp1
    exp2 = round(-(2 * math.log(2 / 5) + 1 * math.log(1 / 1)) / 3, 6)
    assert got[2] == (3, exp2)


def test_gap_fill_grid_and_locf(spark):
    """Every purchasing user gets the full corpus day grid; filled rows
    carry the last observed value; observed rows are not flagged."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_DIR

    rows = entrymod.queries()["c_gap_fill"](spark, SF_DIR).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    span = {len(v) for v in by_user.values()}
    assert len(span) == 1  # identical grid length for every user
    for v in by_user.values():
        v.sort(key=lambda r: r["day"])
        last = 0.0
        for r in v:
            if r["is_filled"]:
                assert r["rev_filled"] == last  # LOCF carries forward
            else:
                last = r["rev_filled"]


def test_pit_join_matches_bruteforce(spark):
    """PIT result == latest non-purchase event at or before each purchase
    (brute force over the loaded events table)."""
    import __spark_entry__ as entrymod
    from popelines_spark.tables import load
    from tests.conftest import SF_DIR

    got = {
        r["event_id"]: (r["state"], r["ts"])
        for r in entrymod.queries()["c_pit_join"](spark, SF_DIR).collect()
    }
    ev = load(spark, SF_DIR, "events").select(
        "event_id", "user_id", "ts", "event_type"
    ).collect()
    by_user = {}
    for e in ev:
        by_user.setdefault(e["user_id"], []).append(e)
    n_checked = 0
    for e in ev:
        if e["event_type"] != "purchase":
            continue
        prior = [
            x for x in by_user[e["user_id"]]
            if x["event_type"] != "purchase" and x["ts"] <= e["ts"]
        ]
        want = max(prior, key=lambda x: (x["ts"], x["event_id"]))["event_type"] if prior else "none"
        assert got[e["event_id"]][0] == want, e["event_id"]
        n_checked += 1
    assert n_checked == len(got) > 0


def test_frame_sample_walks_and_samples(spark):
    """frame_sample keeps frames 0, n, 2n, ... and computes real pixel
    means; truncated payloads raise."""
    import pytest
    from pyspark.sql import functions as F
    from popelines_spark.llm import multimodal as M

    d = spark.createDataFrame([(3,), (10,)], "doc_id long")
    out = M.frame_sample(M.make_ppm_stream(d), every_n=3).collect()
    got = {(r["doc_id"], r["frame_idx"]): (r["width"], r["height"], r["mean_r"])
           for r in out}
    # doc 3: 5 frames -> kept 0, 3; doc 10: 4 frames -> kept 0, 3
    assert set(got) == {(3, 0), (3, 3), (10, 0), (10, 3)}
    assert got[(3, 0)] == (4, 4, float(65 + 3 % 26))
    assert got[(3, 3)] == (4, 4, float(65 + 6 % 26))
    assert got[(10, 3)] == (3, 1, float(65 + 13 % 26))

    truncated = M.make_ppm_stream(d).select(
        "doc_id", F.expr("substring(payload, 1, octet_length(payload) - 2)").alias("payload")
    )
    with pytest.raises(Exception, match="truncated frame"):
        M.frame_sample(truncated, every_n=3).collect()


def test_snapshot_diff_matches_python_reference(spark):
    """Randomized (seeded) property: snapshot_diff's classification
    equals a Python dict diff for arbitrary old/new key-value tables."""
    import random

    from popelines_spark.operators.diff import snapshot_diff

    rng = random.Random(42)
    old = {k: (rng.randint(0, 5), rng.choice("ABC")) for k in range(40)
           if rng.random() < 0.8}
    new = {}
    for k in range(50):
        if k in old and rng.random() < 0.7:
            new[k] = old[k] if rng.random() < 0.5 else (
                rng.randint(0, 5), rng.choice("ABC"))
        elif k not in old and rng.random() < 0.4:
            new[k] = (rng.randint(0, 5), rng.choice("ABC"))
    want = {}
    for k in set(old) | set(new):
        if k not in new:
            want[k] = "delete"
        elif k not in old:
            want[k] = "insert"
        elif old[k] != new[k]:
            want[k] = "update"
    o_df = spark.createDataFrame(
        [(k, v[0], v[1]) for k, v in old.items()], "k long, a long, b string"
    )
    n_df = spark.createDataFrame(
        [(k, v[0], v[1]) for k, v in new.items()], "k long, a long, b string"
    )
    got = {r["k"]: r["status"] for r in
           snapshot_diff(o_df, n_df, ["k"], ["a", "b"]).collect()}
    assert got == want and len(want) > 5


def test_bfs_random_graph_matches_python(spark):
    """Randomized (seeded) property: bfs_hops equals a reference Python
    BFS on arbitrary digraphs, including unreachable nodes and the
    max_hops bound."""
    import random
    from collections import deque

    from popelines_spark.operators.graph import bfs_hops

    rng = random.Random(7)
    n = 15
    edges = [(a, b) for a in range(n) for b in range(n)
             if a != b and rng.random() < 0.15]
    seeds = [0, 5]
    adj = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
    want, q = {s: 0 for s in seeds}, deque(seeds)
    while q:
        u = q.popleft()
        if want[u] >= 4:
            continue
        for v in adj.get(u, []):
            if v not in want:
                want[v] = want[u] + 1
                q.append(v)
    e_df = spark.createDataFrame(edges, "src long, dst long")
    s_df = spark.createDataFrame([(s,) for s in seeds], "node long")
    got = {r["node"]: r["hops"] for r in
           bfs_hops(e_df, s_df, max_hops=4).collect()}
    assert got == want and len(want) > len(seeds)


def test_hist_quantile_cdf_guarantee(spark):
    """The real histogram-quantile guarantee (correct for sparse tails,
    where a VALUE bound is meaningless): the empirical CDF evaluated at
    the estimate differs from q by at most the mass of the bin the
    estimate landed in."""
    import numpy as np

    import __spark_entry__ as entrymod
    from popelines_spark.tables import load
    from tests.conftest import SF_DIR

    got = {r["week"]: (r["p50_est"], r["p90_est"]) for r in
           entrymod.queries()["b_sketch_hist_quantile"](spark, SF_DIR).collect()}
    ev = load(spark, SF_DIR, "events").filter("event_type = 'purchase'") \
        .selectExpr("date_trunc('week', ts) AS week", "value").toPandas()
    lo, hi = ev["value"].min(), ev["value"].max()

    def binof(v):
        return min(int((v - lo) * 100.0 / (hi - lo)), 99)

    checked = 0
    for week, grp in ev.groupby("week"):
        vals = grp["value"].to_numpy()
        n = len(vals)
        bins = np.minimum(((vals - lo) * 100.0 / (hi - lo)).astype(int), 99)
        for q, est in zip((0.5, 0.9), got[week.to_pydatetime()]):
            assert lo <= est <= hi
            bin_mass = (bins == binof(est)).sum() / n
            cdf_at_est = (vals <= est).sum() / n
            assert abs(cdf_at_est - q) <= bin_mass + 1e-9, (week, q, est)
            checked += 1
    assert checked >= 2
