"""Iterative graph algorithms on edge DataFrames — PageRank, BFS,
triangle counting.

The reference's users run graph-flavored rollups by exporting to a graph
tool; here the iterative computation is native DataFrame ops so it runs
where the data lives (the same positioning as llm/dedup.py's
connected-components, which covers the other classic: clustering).

Scale shape: each iteration is one keyed join (ranks ⋈ edges on src) and
one keyed aggregation (inflow by dst) — the standard distributed PageRank
step. Rank state is one row per node; edges are the big relation and are
never reshuffled after the initial degree join (checkpointed once).  At
web scale persist `ranks` per iteration and checkpoint every few rounds
to truncate lineage — mirrored here with a lazy localCheckpoint every 3
iterations (plans/inspect.py audits those side plans).

:func:`pagerank` has a second path for graphs the caller asserts are
small (``bounded_edges=True``): the prepared edges and node state are
collected once and the rounds run on the driver in Python ``Decimal``,
because ten dependent rounds over a few hundred rows are all Spark job
scheduling and no data work. That path is bit-identical to the Spark
loop (see the :func:`pagerank` docstring) and refuses edge sets over
:data:`MAX_BOUNDED_EDGES`.

Cross-engine determinism (the reason for DECIMAL state): IEEE double
addition is order-sensitive, and a groupBy sum's order is not fixed, so
double ranks would hash-drift between engines and even between runs.
All rank state is DECIMAL(14,12): per-edge contributions are rounded to
12dp (HALF_UP on both engines) BEFORE the sum, decimal sums are exact
and order-independent, and the damping multiply is decimal×decimal with
a final 12dp rounding.  The only doubles are the two reciprocals
(1/n_nodes, 1/out_degree), each a single IEEE division rounded to 12dp
— bit-identical cross-engine.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Context, Decimal, localcontext

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from popelines_spark.plans.inspect import audit_side_plan, checkpoint

_DEC = "decimal(14,12)"

#: Edge-row ceiling of ``pagerank(..., bounded_edges=True)``. Ten rounds
#: over 100k random edges among 5,000 nodes take ~1.4 s of driver Python
#: (4-core x86 host), and the collected rows hold a few tens of MB of
#: driver memory. Larger graphs belong on the Spark loop.
MAX_BOUNDED_EDGES = 100_000

_Q12 = Decimal("1E-12")
# enough digits that no product or sum of DECIMAL(14,12) values rounds
# before the explicit 12dp quantize (Spark's products are exact too)
_CTX = Context(prec=60, rounding=ROUND_HALF_UP)


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    n_iter: int = 10,
    damping: float = 0.85,
    bounded_edges: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank over distinct ``edges`` (src, dst). Returns
    one (node_col, pr DECIMAL) row per DISTINCT node of ``nodes``: for
    ``n_iter`` >= 1 the per-iteration ``groupBy`` collapses duplicate
    ``nodes`` rows (a NULL node is one group and keeps the base rank).
    Pass distinct nodes all the same — n (and with it the 1/n start and
    the (1-d)/n base) counts rows, and a duplicated source contributes
    once per copy in the first iteration. ``n_iter=0`` returns the start
    state, one row per ``nodes`` row.

    Dangling nodes (no out-edges) contribute nothing — their mass leaks,
    so ranks sum to < 1 when danglers exist (documented classic variant).
    Use :func:`pagerank_redistributed` for the mass-conserving variant
    (one broadcast scalar per iteration).

    Edges whose dst is OUTSIDE ``nodes`` are dropped at the edge build
    (left_semi against nodes) AFTER the degree join, so out-degree still
    counts them: their share of the source's rank leaks. Edges with a
    NULL src or dst never match and are dropped.

    Two paths compute the same rows, chosen by ``bounded_edges``:

    - ``False`` (default): a Spark loop. Per iteration one keyed join
      (ranks ⋈ edges on src) and ONE keyed aggregate over the
      contributions unioned with one zero row per node, so every node
      surfaces in the aggregate and the base term needs no update join.
      The edge build is checkpointed once and the rank state every 3
      iterations.
    - ``True``: the caller asserts the edge relation is small. Spark
      still builds every decimal input — the 1/n start, the (1-d)/n base,
      ``1/out_degree`` cast to DECIMAL(13,12), the degree join and the
      dst semi-join — and ships them in two collects, (src, dst, recip)
      and (node, pr0, base). The rounds then run on the driver and the
      result comes back as a local DataFrame: two collects for the
      whole loop instead of a few Spark jobs per iteration. More than
      :data:`MAX_BOUNDED_EDGES` collected edges raise ``ValueError``
      (checked on the collected list, so the guard adds no job); at the
      ceiling ten rounds cost ~1.4 s of driver Python.

    The driver loop is bit-identical to the Spark loop because it applies
    Spark's decimal rules step by step and never converts a double:

    - each contribution is ``pr * recip`` (exact) quantized to 12dp
      HALF_UP — the DECIMAL(14,12) cast of the Spark product;
    - the per-node inflow is an exact decimal sum starting at 0 for
      every node, as the zero rows do in Spark;
    - the update is ``base + (damping * inflow)`` with the product
      quantized to 12dp HALF_UP, and ``damping`` itself rounded to
      DECIMAL(3,2) as Spark's literal cast does.
    """
    # Pin the literal's decimal type: Python Decimal lits default to
    # DecimalType(38,18), whose product with (14,12) overflows precision 38
    # and forces a scale-reduction rule DuckDB doesn't share. (3,2)×(14,12)
    # is exact on both engines.
    damping_dec = F.lit(Decimal(str(damping))).cast("decimal(3,2)")
    base_lit = 1.0 - damping  # Python double; oracle mirrors repr() of it
    n = nodes.agg(F.count("*").cast("double").alias("__n"))
    init = nodes.crossJoin(F.broadcast(n)).select(
        F.col(node_col),
        (F.lit(1.0) / F.col("__n")).cast(_DEC).alias("pr"),
    )
    # the uniform base term (1-d)/n as a one-row broadcast: static across
    # iterations, so its BroadcastExchange is built once and reused
    base_row = n.select(
        (F.lit(base_lit) / F.col("__n")).cast(_DEC).alias("__base")
    )
    deg = edges.groupBy(src).agg(F.count("*").alias("__d"))
    e = (
        edges.join(deg, src)
        .join(
            nodes.select(F.col(node_col).alias("__dst_ok")),
            F.col(dst) == F.col("__dst_ok"),
            "left_semi",
        )
        .select(
            F.col(src),
            F.col(dst),
            (F.lit(1.0) / F.col("__d")).cast("decimal(13,12)").alias("__recip"),
        )
    )
    if bounded_edges:
        return _pagerank_on_driver(
            e, init.crossJoin(F.broadcast(base_row)), dst, node_col,
            n_iter, Decimal(str(damping)).quantize(
                Decimal("0.01"), ROUND_HALF_UP
            ),
        )
    e = checkpoint(e, "pagerank-edges", eager=False)
    zero = F.lit(Decimal(0)).cast(_DEC)
    # one zero-contribution row per node: guarantees every node surfaces
    # in the per-iteration aggregate without changing any sum
    zero_rows = nodes.select(F.col(node_col), zero.alias("__c"))
    ranks = init
    for i in range(n_iter):
        contrib = ranks.join(e, ranks[node_col] == e[src]).select(
            F.col(dst).alias(node_col),
            (F.col("pr") * F.col("__recip")).cast(_DEC).alias("__c"),
        )
        ranks = (
            contrib.unionByName(zero_rows)
            .groupBy(node_col)
            .agg(F.sum("__c").alias("__in"))
            .crossJoin(F.broadcast(base_row))
            .select(
                node_col,
                (
                    F.col("__base")
                    + (damping_dec * F.col("__in").cast(_DEC)).cast(_DEC)
                )
                .cast(_DEC)
                .alias("pr"),
            )
        )
        if i % 3 == 2 and i < n_iter - 1:
            ranks = checkpoint(ranks, f"pagerank-iter{i}", eager=False)
    return ranks.select(node_col, "pr")


def _pagerank_on_driver(
    e: DataFrame,
    state: DataFrame,
    dst: str,
    node_col: str,
    n_iter: int,
    damping: Decimal,
) -> DataFrame:
    """The ``bounded_edges=True`` rounds of :func:`pagerank`: ``e`` is the
    prepared (src, dst, __recip) edge build, ``state`` the (node_col, pr,
    __base) start state; both are executed once, here."""
    edge_rows = audit_side_plan(e, "pagerank-edges").collect()
    if len(edge_rows) > MAX_BOUNDED_EDGES:
        raise ValueError(
            f"pagerank(bounded_edges=True): {len(edge_rows)} edges exceed "
            f"MAX_BOUNDED_EDGES={MAX_BOUNDED_EDGES}; use the default path"
        )
    state_rows = state.collect()
    # a round's node column is the union of dst and node (as in the Spark
    # loop's aggregate), so its type is the widened one of the two
    keyed = state.select(node_col)
    if n_iter:
        keyed = e.select(F.col(dst).alias(node_col)).unionByName(keyed)
    out_schema = StructType([keyed.schema[0], state.schema["pr"]])
    out_edges: dict = {}
    for s, d, recip in edge_rows:
        out_edges.setdefault(s, []).append((d, recip))
    # every (node, pr) row feeds the first round, duplicates included
    ranks = [(r[0], r[1]) for r in state_rows]
    base = state_rows[0][2] if state_rows else None
    keys = list(dict.fromkeys(r[0] for r in state_rows))
    with localcontext(_CTX):
        for _ in range(n_iter):
            inflow = dict.fromkeys(keys, Decimal(0))
            for node, pr in ranks:
                for d, recip in out_edges.get(node, ()):
                    inflow[d] += (pr * recip).quantize(_Q12)
            ranks = [
                (node, base + (damping * inflow[node]).quantize(_Q12))
                for node in keys
            ]
    return e.sparkSession.createDataFrame(ranks, out_schema)


def pagerank_redistributed(
    edges: DataFrame,
    nodes: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    n_iter: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Mass-conserving PageRank: dangling-node rank is redistributed
    uniformly to ALL nodes each iteration, so ranks always sum to ~1
    (modulo 12dp rounding) even when some nodes have no out-edges.

    Scale shape: identical to :func:`pagerank` (one keyed join + one keyed
    agg per iteration over checkpointed edges) plus ONE extra broadcast
    scalar per iteration — the dangling mass is a semi-join against the
    static dangler set followed by a 1-row decimal sum, crossJoin-broadcast
    back into the rank update. No new shuffle of the edge relation.

    Determinism: the dangling sum is a DECIMAL(14,12) sum (exact,
    order-independent); the per-node share is two decimal multiplies each
    followed by a 12dp HALF_UP narrowing — the same proven pattern as the
    per-edge contributions (module docstring).
    """
    damping_dec = F.lit(Decimal(str(damping))).cast("decimal(3,2)")
    base_lit = 1.0 - damping
    n = nodes.agg(F.count("*").cast("double").alias("__n"))
    rn = n.select(
        (F.lit(1.0) / F.col("__n")).cast("decimal(13,12)").alias("__rn")
    )
    init = nodes.crossJoin(F.broadcast(n)).select(
        F.col(node_col),
        (F.lit(1.0) / F.col("__n")).cast(_DEC).alias("pr"),
        (F.lit(base_lit) / F.col("__n")).cast(_DEC).alias("__base"),
    )
    deg = edges.groupBy(src).agg(F.count("*").alias("__d"))
    dangling = nodes.select(node_col).join(
        deg.select(F.col(src).alias(node_col)), node_col, "left_anti"
    )
    e = checkpoint(
        edges.join(deg, src).select(
            F.col(src),
            F.col(dst),
            (F.lit(1.0) / F.col("__d")).cast("decimal(13,12)").alias("__recip"),
        ),
        "pagerank-rd-edges",
        eager=False,
    )
    ranks = init
    zero = F.lit(Decimal(0)).cast(_DEC)
    for i in range(n_iter):
        contrib = ranks.join(e, ranks[node_col] == e[src]).select(
            F.col(dst).alias(node_col),
            (F.col("pr") * F.col("__recip")).cast(_DEC).alias("__c"),
        )
        inflow = contrib.groupBy(node_col).agg(F.sum("__c").alias("__in"))
        dm = ranks.join(dangling, node_col, "left_semi").agg(
            F.coalesce(F.sum("pr"), zero).cast(_DEC).alias("__dm")
        )
        share = dm.crossJoin(F.broadcast(rn)).select(
            (
                (damping_dec * F.col("__dm")).cast(_DEC) * F.col("__rn")
            )
            .cast(_DEC)
            .alias("__share")
        )
        ranks = (
            init.join(inflow, node_col, "left")
            .crossJoin(F.broadcast(share))
            .select(
                node_col,
                (
                    F.col("__base")
                    + F.coalesce(
                        (damping_dec * F.col("__in").cast(_DEC)).cast(_DEC),
                        zero,
                    )
                    + F.col("__share")
                )
                .cast(_DEC)
                .alias("pr"),
                "__base",
            )
        )
        if i % 3 == 2 and i < n_iter - 1:
            ranks = checkpoint(ranks, f"pagerank-rd-iter{i}", eager=False)
    return ranks.select(node_col, "pr")


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    max_hops: int = 4,
) -> DataFrame:
    """Multi-source BFS: minimum hop count from any seed, bounded at
    ``max_hops``. ``seeds`` has one column ``node_col``; returns
    (node_col, hops BIGINT) for every reached node.

    Scale shape: level-synchronous frontier expansion — each round is one
    keyed join (frontier ⋈ edges on src) plus an anti-join against the
    visited set, so per-round work is |frontier-adjacent edges|, never the
    whole graph re-scanned. The visited set is one row per reached node.
    Lineage is truncated with a lazy localCheckpoint per round (audited by
    plans/inspect.py) — at billion-edge scale swap for a persisted
    checkpoint every few rounds. Exact integer state only: nothing to
    drift cross-engine.
    """
    # One edge materialization for all rounds — without it every frontier
    # join re-expands the edge lineage (at round k the whole upstream edge
    # build would run k times).
    edges = checkpoint(edges.select(src, dst), "bfs-edges", eager=False)
    visited = seeds.select(
        F.col(node_col), F.lit(0).cast("long").alias("hops")
    ).distinct()
    frontier = visited.select(node_col)
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(edges, frontier[node_col] == edges[src])
            .select(F.col(dst).alias(node_col))
            .distinct()
            .join(visited.select(node_col), node_col, "left_anti")
        )
        nxt = checkpoint(nxt, f"bfs-frontier{hop}", eager=False)
        visited = visited.unionByName(
            nxt.select(node_col, F.lit(hop).cast("long").alias("hops"))
        )
        frontier = nxt
    return visited


def triangle_counts(
    und_edges: DataFrame,
    nodes: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Per-node triangle counts over an undirected graph given as a
    CANONICAL edge list (src < dst, each undirected edge exactly once).
    Returns (node_col, n_tri BIGINT) for every row of ``nodes`` (0 when
    the node is in no triangle).

    Scale shape: degree-then-id oriented enumeration. Every edge is
    re-oriented to point from the lower-(degree, id) endpoint to the
    higher, so each triangle has exactly ONE apex with two out-edges and
    is found exactly once by joining out-edges on the apex then probing
    the closing edge with a composite-key equi-join. Orienting by degree
    (id only breaks ties) bounds the wedge fan-out by sum(outdeg²) =
    O(m^1.5) instead of sum(deg²) — on a power-law graph a hub of degree
    d contributes O(m) oriented wedges rather than O(d²), the classic
    100×-scale trap (Suri & Vassilvitskii, WWW'11). Degree attachment is
    two keyed joins against a one-row-per-node table; both triangle joins
    are keyed shuffles. No cross join anywhere (asserted in
    tests/test_plans.py).
    """
    # The edge list feeds the degree build + three join legs and the
    # triangle relation feeds three corner projections — materialize both
    # once, or the upstream edge build re-executes through the re-expanded
    # lineage.
    und_edges = checkpoint(
        und_edges.select(src, dst), "triangle-edges", eager=False
    )
    deg = (
        und_edges.select(F.col(src).alias("__n"))
        .unionByName(und_edges.select(F.col(dst).alias("__n")))
        .groupBy("__n")
        .agg(F.count("*").alias("__deg"))
    )
    with_deg = und_edges.join(
        deg.select(F.col("__n").alias("__sn"), F.col("__deg").alias("__sd")),
        F.col(src) == F.col("__sn"),
    ).join(
        deg.select(F.col("__n").alias("__dn"), F.col("__deg").alias("__dd")),
        F.col(dst) == F.col("__dn"),
    )
    s_lo = (F.col("__sd") < F.col("__dd")) | (
        (F.col("__sd") == F.col("__dd")) & (F.col(src) < F.col(dst))
    )
    # (u, v, __vd): u → v with rank(u) < rank(v); __vd = degree of v so the
    # wedge join can order its two out-neighbors without another deg join.
    oriented = checkpoint(
        with_deg.select(
            F.when(s_lo, F.col(src)).otherwise(F.col(dst)).alias("u"),
            F.when(s_lo, F.col(dst)).otherwise(F.col(src)).alias("v"),
            F.when(s_lo, F.col("__dd")).otherwise(F.col("__sd")).alias("__vd"),
        ),
        "triangle-oriented",
        eager=False,
    )
    e2 = oriented.select(
        F.col("u"), F.col("v").alias("w"), F.col("__vd").alias("__wd")
    )
    rank_lt = (F.col("__vd") < F.col("__wd")) | (
        (F.col("__vd") == F.col("__wd")) & (F.col("v") < F.col("w"))
    )
    wedges = oriented.join(e2, "u").filter(rank_lt).select("u", "v", "w")
    # rank(v) < rank(w) ⇒ the triangle's closing edge is oriented v → w.
    closing = oriented.select(
        F.col("u").alias("v"), F.col("v").alias("w")
    )
    tri = checkpoint(
        wedges.join(closing, ["v", "w"]), "triangle-tris", eager=False
    )  # each triangle once: u is the unique minimum-rank corner
    per_corner = (
        tri.select(F.col("u").alias(node_col))
        .unionByName(tri.select(F.col("v").alias(node_col)))
        .unionByName(tri.select(F.col("w").alias(node_col)))
        .groupBy(node_col)
        .agg(F.count("*").cast("long").alias("n_tri"))
    )
    return nodes.select(node_col).join(per_corner, node_col, "left").select(
        node_col, F.coalesce("n_tri", F.lit(0).cast("long")).alias("n_tri")
    )
