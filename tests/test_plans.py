"""Plan-shape assertions: the stock Catalyst optimizations the engine relies
on (SURVEY.md §4) actually fire on the registered queries."""

import __spark_entry__ as entrymod
import pytest
from pyspark.sql import functions as F

from popelines_spark.plans.inspect import (
    assert_no_cartesian,
    assert_no_global_window,
    assert_scan_pruned,
    physical_plan,
    plan_report,
    unpartitioned_windows,
)
from tests.conftest import SF_DIR, conf_restore, conf_snapshot


def _q(name, spark):
    return entrymod.queries()[name](spark, SF_DIR)


@pytest.fixture(scope="module")
def registry_plans(spark):
    """Every registered query built ONCE for the registry-wide rules:
    name -> (unpartitioned window specs, physical plan string), or the
    exception its build/plan raised. Module-scoped, so it is set up
    before the autouse per-test conf snapshot: it snapshots and
    restores the session's SQL confs around the build loop itself."""
    before = conf_snapshot(spark)
    out = {}
    try:
        for name, fn in entrymod.queries().items():
            try:
                df = fn(spark, SF_DIR)
                out[name] = (unpartitioned_windows(df), physical_plan(df))
            except Exception as exc:  # plan-build failure is its own offense
                out[name] = exc
    finally:
        conf_restore(spark, before)
    return out


def test_flagship_broadcasts_and_prunes(spark):
    df = _q("flagship_star_revenue", spark)
    rep = plan_report(df)
    assert rep["broadcast_joins"] + rep["sortmerge_joins"] >= 2
    assert not rep["cartesian"]
    # lineitem scan must read only the 4 referenced columns
    assert_scan_pruned(df, {"l_quantity": 4})
    assert rep["wholestage_codegen"]


def test_dim_joins_broadcast(spark):
    rep = plan_report(_q("b_join_broadcast", spark))
    assert rep["broadcast_joins"] == 2
    assert rep["exchanges"] <= 4  # no fact-side pre-join shuffle


def test_filter_pushdown_reaches_parquet(spark):
    rep = plan_report(_q("b_filter_range_dates", spark))
    assert any("l_shipdate" in p for p in rep["pushed_filters"] if p)


def test_minhash_lsh_no_cartesian(spark):
    # The scale-critical shape is the PAIR PIPELINE: banded equi-join, no
    # cross join. (The registered query wraps it in the planted-pair
    # invariant, whose one-row threshold stamp is a deliberate broadcast
    # nested loop — same sanctioned pattern as the kNN recall stamps.)
    from popelines_spark.llm import dedup as D
    from popelines_spark.queries.ext_dedup import _corpus

    pairs = D.minhash_lsh_pairs(
        _corpus(spark, SF_DIR), id_col="doc_id", text_col="text",
        num_hashes=64, bands=16, threshold=0.4,
    )
    assert_no_cartesian(pairs)
    rep = plan_report(_q("c_dedup_fuzzy", spark))
    assert not rep["cartesian"]


def test_embedding_neardup_no_cartesian(spark):
    from popelines_spark.llm.similarity import embedding_near_dups

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    pairs = embedding_near_dups(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.995, dim=64
    )
    assert_no_cartesian(pairs)
    rep = plan_report(_q("c_dedup_embedding", spark))
    assert not rep["cartesian"]


def test_knn_bruteforce_broadcasts_queries(spark):
    # the deliberate cross join must be broadcast-nested-loop (bounded query
    # side), never a shuffled CartesianProduct of the corpus
    rep = plan_report(_q("c_knn_cosine", spark))
    assert not rep["cartesian"]


def test_scalar_functions_stay_jvm_side(spark):
    # no Python eval stages in the built-in function families
    for name in ("b_fn_string", "b_fn_math", "b_fn_json", "c_quality_score"):
        assert plan_report(_q(name, spark))["python_udf_stages"] == 0, name


def test_salted_join_spreads_hot_key(spark):
    from popelines_spark.operators.skew import salted_join

    hot = spark.range(0, 1000).select(
        F.lit("HOT").alias("k"), F.col("id").alias("v")
    )
    dim = spark.createDataFrame([("HOT", "x"), ("COLD", "y")], "k string, d string")
    out = salted_join(hot, dim, on="k", buckets=8, salt_from=["v"])
    assert out.count() == 1000
    assert set(out.select("d").distinct().toPandas()["d"]) == {"x"}


def test_salted_count_distinct_exact(spark):
    from popelines_spark.operators.skew import salted_count_distinct

    df = spark.range(0, 5000).select(
        (F.col("id") % 3).alias("g"), (F.col("id") % 97).alias("x")
    )
    got = {
        r.g: r.n_distinct_x
        for r in salted_count_distinct(df, "g", "x", buckets=8).collect()
    }
    want = {
        r.g: r.n
        for r in df.groupBy("g").agg(F.countDistinct("x").alias("n")).collect()
    }
    assert got == want


def test_bucketed_join_has_no_shuffle(spark, tmp_path_factory):
    """bucketBy co-location: joining two tables bucketed on the key runs
    with ZERO exchanges — the 100 TB pattern for repeated fact⋈fact joins."""
    import uuid

    from pyspark.sql import functions as F

    a = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
    b = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("vb"))
    ta, tb = f"ba_{uuid.uuid4().hex[:8]}", f"bb_{uuid.uuid4().hex[:8]}"
    try:
        a.write.bucketBy(8, "k").sortBy("k").saveAsTable(ta)
        b.write.bucketBy(8, "k").sortBy("k").saveAsTable(tb)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table(ta).join(spark.table(tb), "k")
        rep = plan_report(joined)
        assert rep["exchanges"] == 0, rep
        assert joined.count() == 10000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")


def test_asof_join_has_no_join_node(spark):
    """The as-of join is a union + one keyed window — NO join operator at
    all, so there is no equi+range fan-out to bound (VERDICT r1 #2). One
    exchange for the window partitioning, nothing per-candidate."""
    rep = plan_report(_q("b_join_asof", spark))
    assert (
        rep["broadcast_joins"]
        + rep["sortmerge_joins"]
        + rep["shuffled_hash_joins"]
    ) == 0
    assert not rep["cartesian"] and not rep["bcast_nested_loop"]
    plan = physical_plan(_q("b_join_asof", spark))
    assert "Window" in plan


def test_tpch_q15_no_global_rank_window(spark):
    """Q15's top-supplier cutoff is a scalar-max aggregate broadcast back as
    an equi-filter — NOT a global rank window (VERDICT r2 #3). The plan must
    contain no partition-less WindowExec and at least one broadcast join."""
    df = _q("tpch_q15", spark)
    assert_no_global_window(df)
    rep = plan_report(df)
    assert rep["broadcast_joins"] >= 1
    assert not rep["cartesian"]


def test_no_unpartitioned_window_anywhere(registry_plans):
    """Registry-wide scale rule (VERDICT r2 #9): NO registered query may
    move all rows through a single partition via a window with an empty
    PARTITION BY. Explains every registered query; allowlist: none."""
    offenders = {}
    for name, got in registry_plans.items():
        if isinstance(got, Exception):
            offenders[name] = f"build failed: {got}"
            continue
        bad, _plan = got
        if bad:
            offenders[name] = bad[0]
    assert not offenders, offenders


def test_tpch_plans_broadcast_dims_and_prune(spark):
    """TPC-H suite plan spot-checks: fixed-cardinality dims broadcast, no
    accidental cartesian anywhere, and Q6's filter + 3-column projection
    reach the parquet scan."""
    for name in ("tpch_q5", "tpch_q9"):
        rep = plan_report(_q(name, spark))
        assert rep["broadcast_joins"] >= 1, name
        assert not rep["cartesian"] and not rep["bcast_nested_loop"], name
    rep6 = plan_report(_q("tpch_q6", spark))
    assert any("l_shipdate" in p or "l_discount" in p for p in rep6["pushed_filters"] if p)
    assert_scan_pruned(_q("tpch_q6", spark), {"l_quantity": 4})


def test_bucketed_join_has_no_join_exchange(spark):
    # both sides bucketBy(8, k) + sortBy(k): the SMJ must read buckets
    # co-located — the ONLY exchange in the plan is the final rollup's
    rep = plan_report(_q("b_join_bucketed", spark))
    assert rep["sortmerge_joins"] == 1
    assert rep["broadcast_joins"] == 0
    assert rep["exchanges"] == 1  # the post-join groupBy only


def test_round4_analytics_plans(spark):
    """Round-4 operator plan audit: keyed joins only (no cartesian outside
    the broadcast one-row constant frames), scans pruned, windows
    partitioned (the global rule covers these too — this pins the rest)."""
    # funnel: every stage join is keyed on user_id; no cartesian
    rep = plan_report(_q("c_funnel", spark))
    assert not rep["cartesian"]
    # retention: two keyed aggs + one keyed join, events scan pruned to
    # the two referenced columns
    df = _q("c_retention_cohort", spark)
    assert_no_cartesian(df)
    assert_scan_pruned(df, {"user_id": 2})
    # rollup: no join at all; one raw scan feeding the (checkpointed)
    # finest grain
    rep = plan_report(_q("c_rollup_multi", spark))
    assert (
        rep["broadcast_joins"] + rep["sortmerge_joins"] + rep["shuffled_hash_joins"]
    ) == 0
    # tfidf: scoring join keyed on term; the one-row N frame broadcasts
    rep = plan_report(_q("c_tfidf_topk", spark))
    assert not rep["cartesian"]
    assert rep["broadcast_joins"] >= 1
    # bm25: dictionary + consts broadcast, per-doc join keyed
    rep = plan_report(_q("c_bm25", spark))
    assert not rep["cartesian"]
    assert rep["broadcast_joins"] >= 1
    # asof tolerance keeps the join-free union+window shape
    rep = plan_report(_q("b_join_asof_tolerance", spark))
    assert (
        rep["broadcast_joins"] + rep["sortmerge_joins"] + rep["shuffled_hash_joins"]
    ) == 0
    assert "Window" in physical_plan(_q("b_join_asof_tolerance", spark))
    # zorder key is pure codegen arithmetic: no exchange, no join, pruned scan
    rep = plan_report(_q("c_zorder_key", spark))
    assert rep["exchanges"] == 0
    assert rep["wholestage_codegen"]
    assert_scan_pruned(_q("c_zorder_key", spark), {"o_custkey": 2})


def test_side_plan_audit_catches_global_window(spark):
    """plans/inspect.py:audit_side_plan (VERDICT r4 #1): eagerly-executed
    side plans never surface in a caller's lineage, so the library audits
    them at the choke point. Strict mode must RAISE on a partition-less
    window and pass a partitioned one through untouched."""
    import pytest as _pytest
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from popelines_spark.plans.inspect import audit_side_plan, checkpoint

    df = spark.range(100).withColumn("g", F.col("id") % 5)
    bad = df.withColumn("rn", F.row_number().over(W.orderBy("id")))
    good = df.withColumn("rn", F.row_number().over(W.partitionBy("g").orderBy("id")))

    import os
    os.environ["POPELINES_PLAN_AUDIT"] = "strict"
    with _pytest.raises(AssertionError, match="unpartitioned window"):
        audit_side_plan(bad, "test-bad")
    out = checkpoint(good, "test-good", eager=True)
    assert out.count() == 100
    # warn mode: surfaces as RuntimeWarning, not an exception
    os.environ["POPELINES_PLAN_AUDIT"] = "warn"
    with _pytest.warns(RuntimeWarning, match="unpartitioned window"):
        audit_side_plan(bad, "test-bad-warn")
    os.environ["POPELINES_PLAN_AUDIT"] = "strict"


def test_round5_analytics_plans(spark):
    """Round-5 operator plan audit (the global no-unpartitioned-window rule
    covers these too — this pins joins/broadcast/cartesian shapes)."""
    # brand affinity: part dim + marginals broadcast; no cartesian (the
    # one-row total attaches via broadcast nested loop, not CartesianProduct)
    rep = plan_report(_q("c_brand_affinity", spark))
    assert not rep["cartesian"]
    assert rep["broadcast_joins"] >= 3
    # scd2 / ewma: single-key window plans, no join
    for name in ("c_scd2_track", "c_ewma_daily"):
        rep = plan_report(_q(name, spark))
        assert not rep["cartesian"]
        assert "Window" in physical_plan(_q(name, spark))
    # containment: candidate generation is the shingle equi-join — keyed
    # joins only, no cartesian anywhere
    assert_no_cartesian(_q("c_containment", spark))
    # pagerank: the bounded trade graph runs its rounds on the driver, so
    # the returned plan is the ranked rows joined to the broadcast nation
    # names; no CartesianProduct (the edge build and the 1/n scalar run
    # as audited side plans when the query is built)
    assert not plan_report(_q("c_pagerank_nations", spark))["cartesian"]
    # attribution reuses the join-free asof union+window shape upstream of
    # one final keyed aggregation
    rep = plan_report(_q("c_attribution", spark))
    assert not rep["cartesian"]
    assert "Window" in physical_plan(_q("c_attribution", spark))
    # dataset card / dp counts: one grouped scan, no join
    for name in ("c_dataset_card", "c_dp_counts"):
        rep = plan_report(_q(name, spark))
        assert (
            rep["broadcast_joins"]
            + rep["sortmerge_joins"]
            + rep["shuffled_hash_joins"]
        ) == 0


def test_round5b_plans(spark):
    """Round-5 second-batch plan audit (graph, warehouse, text batches).
    The registry-wide no-unpartitioned-window test covers these too; this
    pins the join/broadcast/cartesian shapes each docstring claims."""
    # graph: keyed joins only — the avg-threshold scalar attaches via the
    # sanctioned one-row broadcast, never a CartesianProduct
    for name in ("c_graph_bfs", "c_triangle_count"):
        assert not plan_report(_q(name, spark))["cartesian"]
    # point-in-time join: the interval lookup is the join-free asof shape
    # (union + keyed window), so the only joins left are the SCD2 build's
    rep = plan_report(_q("c_pit_join", spark))
    assert not rep["cartesian"]
    assert "Window" in physical_plan(_q("c_pit_join", spark))
    # incremental agg maintenance: two partial scans merged — no join node
    rep = plan_report(_q("c_incremental_agg", spark))
    assert (
        rep["broadcast_joins"]
        + rep["sortmerge_joins"]
        + rep["shuffled_hash_joins"]
    ) == 0
    assert not rep["cartesian"]
    # histogram: bounds attach as one-row broadcast; single keyed agg
    assert not plan_report(_q("c_hist_equiwidth", spark))["cartesian"]
    # skyline: the staircase dim is broadcast (both the theta self-join of
    # the tiny size dim and the fact probe) — no cartesian, >= 2 broadcasts
    rep = plan_report(_q("c_skyline", spark))
    assert not rep["cartesian"]
    assert rep["broadcast_joins"] >= 2
    # text novelty: HOF shingling + keyed aggs — no Python stage, no
    # cartesian
    for name in ("c_dedup_chunk", "c_bigram_novelty"):
        rep = plan_report(_q(name, spark))
        assert not rep["cartesian"]
        assert "BatchEvalPython" not in physical_plan(_q(name, spark))
        assert "ArrowEvalPython" not in physical_plan(_q(name, spark))


def test_gap_fill_and_benford_plans(spark):
    """Gap fill: grid generation via one-row broadcast bounds (no
    CartesianProduct), fill via a user-partitioned window. Benford: one
    grouped scan + broadcast total."""
    df = _q("c_gap_fill", spark)
    rep = plan_report(df)
    assert not rep["cartesian"]
    assert "Window" in physical_plan(df)
    assert not unpartitioned_windows(df)
    assert not plan_report(_q("c_benford", spark))["cartesian"]


def test_range_join_is_keyed_not_nested_loop(spark):
    """The bucketed range-join rewrite must plan as an equi-join on the
    bucket id — no BroadcastNestedLoopJoin, no CartesianProduct (that is
    its entire reason to exist)."""
    df = _q("b_join_range", spark)
    plan = physical_plan(df)
    rep = plan_report(df)
    assert not rep["cartesian"]
    assert "BroadcastNestedLoopJoin" not in plan
    assert rep["sortmerge_joins"] + rep["shuffled_hash_joins"] + rep["broadcast_joins"] >= 1


def test_streaming_topk_and_hist_quantile_plans(spark):
    """Both rank/cumulate over keyed windows only."""
    for name in ("s_topk_windowed", "b_sketch_hist_quantile"):
        df = _q(name, spark)
        assert not unpartitioned_windows(df)
        assert not plan_report(df)["cartesian"]


def test_round5c_plans(spark):
    """Third-batch plan audit: windows keyed, no cartesians, vocab join
    broadcast, frame sampling Arrow-batched (its Python stage is the
    decoder itself — the one place Python is the deliverable)."""
    for name in ("c_autocorr", "c_streaks", "c_key_skew_profile",
                 "c_mad_outliers", "c_vocab_coverage"):
        df = _q(name, spark)
        assert not plan_report(df)["cartesian"], name
        assert not unpartitioned_windows(df), name
    assert plan_report(_q("c_vocab_coverage", spark))["broadcast_joins"] >= 1
    frames = _q("c_multimodal_frames", spark)
    plan = physical_plan(frames)
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan
    assert not plan_report(frames)["cartesian"]


def test_round5d_plans(spark):
    """Fourth-batch plan audit: keyed joins/windows only, no cartesians;
    the snapshot diff is a single full-outer join."""
    for name in ("c_first_touch", "b_snapshot_diff", "c_also_bought",
                 "c_seq_pattern", "c_qoq_growth", "c_pareto_8020"):
        df = _q(name, spark)
        assert not plan_report(df)["cartesian"], name
        assert not unpartitioned_windows(df), name
    rep = plan_report(_q("b_snapshot_diff", spark))
    assert rep["sortmerge_joins"] + rep["shuffled_hash_joins"] + rep["broadcast_joins"] >= 1


def test_round5e_plans(spark):
    """Fifth-batch plan audit: one-row scalars attach via broadcast
    (never CartesianProduct); windows keyed."""
    for name in ("c_ri_check", "c_user_lifecycle", "c_dup_cluster_sizes",
                 "c_ab_srm", "c_interpurchase_time", "c_new_vs_repeat",
                 "c_cohort_ltv", "s_rate_alert"):
        df = _q(name, spark)
        assert not plan_report(df)["cartesian"], name
        assert not unpartitioned_windows(df), name


def test_round5f_plans(spark):
    """Sixth-batch plan audit: broadcast scalars only, no cartesians,
    keyed windows."""
    for name in ("c_rfm_segments", "c_cart_abandonment", "c_shipping_delay",
                 "c_simpson_diversity", "c_activity_heatmap",
                 "c_returns_rate", "c_vocab_growth", "c_gini_revenue",
                 "c_hhi_supplier", "c_seasonality_dow"):
        df = _q(name, spark)
        assert not plan_report(df)["cartesian"], name
        assert not unpartitioned_windows(df), name


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    """Runtime row-level filtering (SURVEY.md §4): on a selective
    shuffle join, Catalyst's InjectRuntimeFilter plants a bloom-filter
    aggregate on the small (filtered) side and a might_contain probe on
    the big side's scan — at 100 TB this is what turns "join then
    discard 95%" into "skip 95% before the shuffle". Thresholds are
    lowered for the 60k-row fixture; the assertion is that the engine's
    session can and does produce the bloom-filtered plan."""
    from popelines_spark.plans.inspect import physical_plan
    from popelines_spark.tables import load

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            "10GB",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load(spark, SF_DIR, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        )
        orders = load(spark, SF_DIR, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey")
        j = li.join(orders, li.l_orderkey == orders.o_orderkey)
        plan = physical_plan(j).lower()
        assert "might_contain" in plan or "bloom" in plan
        # and the result is still correct under the injected filter
        n_join = j.count()
        n_ref = (
            load(spark, SF_DIR, "lineitem")
            .join(
                load(spark, SF_DIR, "orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .count()
        )
        assert n_join == n_ref
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ivf_assign_cells_is_pure_projection(spark):
    """VERDICT r6 wrong #1: cell assignment must not shuffle or sort.
    The fix is stronger than the suggested max_by aggregation (which this
    Spark build plans as SortAggregate — struct ordering means an
    immutable agg buffer): argmax over a centroid array literal via
    transform + array_max is a single Project — NO Exchange, NO Sort, NO
    Window, NO Join anywhere in the plan."""
    from pyspark.sql import functions as F

    from popelines_spark.llm.ivf import assign_cells

    corpus = spark.range(1, 2001).select(
        F.col("id").alias("c_id"),
        F.array(
            *[((F.col("id") * (i + 3)) % 101 + 1).cast("double")
              for i in range(8)]
        ).alias("c_vec"),
    )
    cents = [(i, [0.05 * i + 0.01 * j + 0.1 for j in range(8)])
             for i in range(6)]
    df = assign_cells(corpus, "c_vec", "c_id", cents)
    plan = physical_plan(df)
    for node in ("Exchange", "Sort", "Window", "Join"):
        assert node not in plan, f"{node} in assign_cells plan:\n{plan}"
    # and it still assigns: every row got a cell id in range
    n = df.filter((F.col("__cell") >= 0) & (F.col("__cell") < 6)).count()
    assert n == 2000


def test_round7_analytics_plans(spark):
    """Round-7 batch plan audit: keyed joins/windows only, scalar frames
    attach via broadcast, no cartesians (the global unpartitioned-window
    rule covers these too)."""
    for name in ("c_session_dwell", "c_percentile_bands",
                 "c_order_priority_mix", "c_clv_decay",
                 "c_text_compress_ratio", "c_delim_fields",
                 "c_part_margin_rank", "c_cold_start_items"):
        df = _q(name, spark)
        assert not plan_report(df)["cartesian"], name
        assert not unpartitioned_windows(df), name
    # compress ratio / delim fields: pure HOF + keyed agg, no Python stage
    for name in ("c_text_compress_ratio", "c_delim_fields"):
        plan = physical_plan(_q(name, spark))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # clv decay: the anchor scalar attaches via one-row broadcast; exactly
    # one keyed agg exchange in the plan
    rep = plan_report(_q("c_clv_decay", spark))
    assert rep["bcast_nested_loop"] or rep["broadcast_joins"] >= 1
    # jpeg decode is the Arrow-batched stage (the Python IS the payload)
    plan = physical_plan(_q("c_multimodal_jpeg", spark))
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan


def test_no_cartesian_product_anywhere(registry_plans):
    """Registry-wide scale rule #2 (companion to the unpartitioned-window
    ban): NO registered query may plan an unbounded CartesianProduct.
    Deliberate small-side cross joins (recall stamps, one-row scalar
    frames, bounded query sets) plan as BroadcastNestedLoopJoin, which
    stays allowed — CartesianProduct means BOTH sides were too big to
    broadcast, i.e. a guaranteed scale-killer. Allowlist: none."""
    import re

    offenders = {}
    for name, got in registry_plans.items():
        if isinstance(got, Exception):
            offenders[name] = f"build failed: {got}"
            continue
        _windows, plan = got
        if re.search(r"CartesianProduct", plan):
            offenders[name] = "CartesianProduct"
    assert not offenders, offenders


def test_statistics_batch_plans(spark):
    """ext_analytics6 batch audit: every statistic collapses to a
    bounded frame first, pairwise/cumulative logic is broadcast-joined
    on that frame, windows are partitioned, nothing plans a cartesian."""
    for name in ("c_kendall_tau", "c_chi2_independence", "c_lorenz_points",
                 "c_heavy_hitters", "c_pmi_bigrams", "c_km_curve",
                 "c_max_concurrent", "c_theilsen_trend", "c_heaps_law",
                 "c_ks_source", "c_mannwhitney", "c_bootstrap_ci",
                 "c_markov_steady", "c_percentile_approx_err",
                 "c_permutation_test", "c_embedding_norms",
                 "c_label_margin"):
        df = _q(name, spark)
        rep = plan_report(df)
        assert not rep["cartesian"], name
        assert not unpartitioned_windows(df), name
    # the pair/staircase frames must attach via broadcast, not shuffle
    for name in ("c_kendall_tau", "c_lorenz_points", "c_km_curve",
                 "c_theilsen_trend", "c_heaps_law", "c_ks_source",
                 "c_mannwhitney", "c_bootstrap_ci"):
        rep = plan_report(_q(name, spark))
        assert rep["broadcast_joins"] + rep["bcast_nested_loop"] >= 1, name
    # heavy hitters: candidate pass is the ONLY Python stage, and the
    # exact re-count joins candidates via broadcast
    plan = physical_plan(_q("c_heavy_hitters", spark))
    assert "MapInPandas" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan


def test_dynamic_partition_pruning_fires_on_partitioned_layout(spark, tmp_path):
    """SURVEY §4 claims the engine's partitioned layout composes with
    stock DPP ("dynamic partition pruning for star joins") — prove it:
    a fact written PARTITIONED BY the join key, joined to a selectively
    filtered broadcastable dim, must plan a dynamicpruningexpression on
    the fact scan's partition filters, i.e. only the dim-surviving
    partition directories are read at runtime."""
    from popelines_spark.tables import load
    from tests.conftest import SF_DIR

    fact_path = str(tmp_path / "li_by_supp")
    load(spark, SF_DIR, "lineitem").select(
        "l_suppkey", "l_extendedprice"
    ).write.partitionBy("l_suppkey").parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    dim = (
        load(spark, SF_DIR, "supplier")
        .filter(F.col("s_nationkey") == 3)
        .select(F.col("s_suppkey").alias("l_suppkey"), "s_name")
    )
    joined = fact.join(F.broadcast(dim), "l_suppkey")
    assert "dynamicpruning" in physical_plan(joined).lower()
    assert joined.count() > 0  # non-vacuous at sf0.001 (1 nation-3 supplier)
