"""SURVEY.md §2 Part C — similarity search over `embeddings`.

Brute-force cosine top-k (exact, oracle-checked on neighbor ranks) and the
LSH-bucketed approximate variant (rows-only — bucket membership is
algorithm-specific). Implementations: popelines_spark/llm/similarity.py.

Rank output only (no raw cosine column) in the hash-checked query: DuckDB's
list_cosine_similarity and Spark's fold can differ in the last float ulp;
ranks are stable because random 64-dim vectors have well-separated
similarities.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from popelines_spark.llm import similarity as S
from popelines_spark.plans.inspect import audit_side_plan, checkpoint
from popelines_spark.registry import query
from popelines_spark.queries._util import T


@query(
    "c_knn_cosine",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
               FROM embeddings WHERE vec_id % 50 = 0)
    SELECT q_id, CAST(rn AS BIGINT) AS rank, neighbor_id
    FROM (SELECT q_id, e.vec_id AS neighbor_id,
                 row_number() OVER (
                   PARTITION BY q_id
                   ORDER BY list_cosine_similarity(q_vec, e.embedding) DESC,
                            e.vec_id) AS rn
          FROM q, embeddings e
          WHERE e.vec_id <> q_id)
    WHERE rn <= 5
    """,
)
def c_knn_cosine(spark, sf_dir):
    """Exact brute-force cosine top-5 for every 50th vector. Queries are
    broadcast; the corpus streams through in one narrow pass (the 100 TB
    plan for bounded query sets)."""
    emb = T(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
    )
    out = S.knn_bruteforce(
        queries, corpus, k=5, c_id="neighbor_id", exclude_self=True
    )
    return out.select("q_id", "rank", "neighbor_id")


def _queries_and_corpus(spark, sf_dir):
    emb = T(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
    )
    return queries, corpus


def _mean_recall_invariant(
    queries, corpus, approx, k: int, threshold: float, exact=None
):
    """(q_id, mean_recall_ok) — the hash-checkable form of an approximate
    kNN result (same trick as b_agg_approx_distinct, approx.py): recall@k of
    the approx result vs the in-Spark exact brute-force top-k, averaged over
    the query set, compared against ``threshold``. The boolean is stamped on
    every query row, so a recall regression flips the whole result and the
    driver's value-hash catches it.

    Why MEAN recall, not per-query: the synthetic embeddings are isotropic
    random vectors (all-pairs cosine ≈ N(0, 0.125), top-1 ≈ 0.37), so true
    neighbors are barely concentrated and per-query recall at any honest
    probe fraction scatters down to 0. Mean recall is deterministic for a
    given SF (fixed planes/centroids, no runtime randomness) and the
    thresholds sit ~30% under the min observed across sf0.001/0.01/0.1
    while staying well above the scanned-fraction chance baseline.

    ``exact`` (the ground-truth top-k) can be passed in — the registered
    queries load it from the build-once scratch artifact
    (ensure_exact_topk) so the invariant costs one small join, not an
    in-query brute-force pass per run."""
    if exact is None:
        exact = S.knn_bruteforce(
            queries, corpus, k=k, c_id="neighbor_id", exclude_self=True
        )
    hits = (
        approx.select("q_id", "neighbor_id")
        .join(exact.select("q_id", "neighbor_id"), ["q_id", "neighbor_id"])
        .groupBy("q_id")
        .agg(F.count("*").alias("__hits"))
    )
    # per_q feeds the mean aggregate AND the final projection — the lazy
    # checkpoint keeps the approx pipeline from executing once per
    # consumer (it is |queries| rows; the probe upstream is the real cost).
    per_q = checkpoint(
        queries.select("q_id").join(hits, "q_id", "left").select(
            "q_id",
            (F.coalesce(F.col("__hits"), F.lit(0)) / float(k)).alias(
                "__recall"
            ),
        ),
        "knn recall per_q",
        eager=False,
    )
    mean_ok = per_q.agg(
        (F.avg("__recall") >= threshold).alias("mean_recall_ok")
    )
    return per_q.select(F.col("q_id").cast("long").alias("q_id")).join(
        F.broadcast(mean_ok)
    )


_RECALL_ORACLE = """
    SELECT CAST(vec_id AS BIGINT) AS q_id, TRUE AS mean_recall_ok
    FROM embeddings WHERE vec_id % 50 = 0
    """


@query("c_knn_lsh", oracle=_RECALL_ORACLE)
def c_knn_lsh(spark, sf_dir):
    """Approximate top-5 on the BUILD-ONCE at-rest LSH index (4 planes →
    16 buckets; corpus written PARTITIONED BY bucket id): the first call
    per sf_dir stamps + writes the bucketed corpus under the scratch dir;
    every later call — including every bench iteration — buckets only the
    40-query probe set and equi-joins the bucket partition column. Probe
    output is bit-identical to the on-the-fly form (same fixed planes).

    Output is the recall invariant (VERDICT r2 #6): mean recall@5 vs exact
    ≥ 0.08 — observed 0.12-0.16 across SFs vs a 1/16 ≈ 0.0625 chance
    baseline for the bucket's scan fraction on isotropic vectors. The
    exact ground truth is the build-once scratch artifact too
    (ensure_exact_topk) — verification is an amortized index, not a
    per-run brute-force pass."""
    queries, corpus = _queries_and_corpus(spark, sf_dir)
    index = ensure_lsh_index(spark, sf_dir)
    approx = S.probe_lsh_index(index, queries, k=5)
    return _mean_recall_invariant(
        queries, corpus, approx, k=5, threshold=0.08,
        exact=ensure_exact_topk(spark, sf_dir),
    )


@query("c_knn_ivf", oracle=_RECALL_ORACLE)
def c_knn_ivf(spark, sf_dir):
    """IVF-flat ANN on the BUILD-ONCE index API (VERDICT r2 #4): the first
    call per sf_dir builds the at-rest index (8 cells, 2 Lloyd iterations,
    corpus written PARTITIONED BY cell id) under the scratch dir; every
    later call — including every bench iteration — only probes it (each
    query reads its 2 nearest cell partitions, exact re-rank).

    Output is the recall invariant (VERDICT r2 #6): mean recall@5 vs exact
    ≥ 0.32 — observed 0.42-0.49 across SFs vs the 2/8 = 0.25 probed-cells
    chance baseline on isotropic vectors."""
    from popelines_spark.llm.ivf import probe_ivf_index

    queries, corpus = _queries_and_corpus(spark, sf_dir)
    index = ensure_ivf_index(spark, sf_dir)
    approx = probe_ivf_index(index, queries, k=5, n_probe=2)
    return _mean_recall_invariant(
        queries, corpus, approx, k=5, threshold=0.32,
        exact=ensure_exact_topk(spark, sf_dir),
    )


@query(
    "c_knn_ivf_scale",
    oracle="""
    SELECT CAST(vec_id AS BIGINT) AS q_id, TRUE AS probe_bounded_ok,
           TRUE AS recall_floor_ok
    FROM embeddings WHERE vec_id % 50 = 0
    """,
)
def c_knn_ivf_scale(spark, sf_dir):
    """IVF on the √N-cells SCALE path (VERDICT r5 #5): the build-once index
    uses n_cells = max(16, √N) instead of the calibrated fixed-cell
    setting, so with a constant probe count the per-query candidate set is
    ~n_probe·√N — SUB-linear in corpus size (measured rows in BASELINE.md
    §Round 6). Two stamped invariants make it hash-checkable:
    ``probe_bounded_ok`` — every query's candidate count (probed-cell
    population mass) stays ≤ 6× the even-split expectation
    N·n_probe/n_cells. On a clustered corpus probed cells legitimately
    hold more than even-split mass (observed max 1.1-1.2× at
    sf0.001-0.1, 4.8× at sf1.0 where the data has 10 genuine replica
    clusters); what the bound certifies is the absence of seeding
    COLLAPSE — lowest-id seeding on the batched sf1.0 corpus measured
    28× (70% of all mass in the probed cells) before train_centroids
    grew hash-spread seeding. ``recall_floor_ok`` — mean recall@5 ≥ 1.5×
    the scanned-fraction chance baseline (observed 2.75-4.2× at
    sf0.001-0.1 and 30× at sf1.0, where clustering is exactly what IVF
    exploits; threshold ~45% under the min)."""
    from pyspark.sql.window import Window as W

    from popelines_spark.llm.ivf import _centroid_df, probe_ivf_index
    from popelines_spark.llm.similarity import cosine

    queries, corpus = _queries_and_corpus(spark, sf_dir)
    index = ensure_ivf_auto_index(spark, sf_dir)
    n_cells, n_probe, k = len(index.centroids), 4, 5
    approx = probe_ivf_index(index, queries, k=k, n_probe=n_probe)
    exact = ensure_exact_topk(spark, sf_dir)
    hits = (
        approx.select("q_id", "neighbor_id")
        .join(exact.select("q_id", "neighbor_id"), ["q_id", "neighbor_id"])
        .groupBy("q_id")
        .agg(F.count("*").alias("__hits"))
    )
    cells = spark.read.parquet(index.cells_path)
    pop = cells.groupBy("__cell").agg(F.count("*").alias("__pop"))
    n_total = cells.agg(F.count("*").alias("__N"))
    # probed cells per query — the same top-n_probe centroid selection the
    # probe path runs (broadcast centroid table, n_cells rows)
    cents = F.broadcast(_centroid_df(spark, index.centroids))
    wp = W.partitionBy("q_id").orderBy(F.col("__csim").desc(), F.col("__cell"))
    probed = (
        queries.crossJoin(cents)
        .withColumn("__csim", cosine(F.col("q_vec"), F.col("__cvec")))
        .withColumn("__pr", F.row_number().over(wp))
        .filter(F.col("__pr") <= n_probe)
        .select("q_id", "__cell")
    )
    cand = probed.join(pop, "__cell").groupBy("q_id").agg(
        F.sum("__pop").alias("__cand")
    )
    per_q = (
        queries.select("q_id")
        .join(hits, "q_id", "left")
        .join(cand, "q_id", "left")
        .crossJoin(F.broadcast(n_total))
        .select(
            "q_id",
            (F.coalesce(F.col("__hits"), F.lit(0)) / float(k)).alias(
                "__recall"
            ),
            (
                F.coalesce(F.col("__cand"), F.lit(0))
                <= 6.0 * F.col("__N") * n_probe / n_cells
            ).alias("__bok"),
        )
    )
    per_q = checkpoint(per_q, "ivf probe per_q", eager=False)
    chance = n_probe / n_cells
    agg = per_q.agg(
        F.min("__bok").alias("probe_bounded_ok"),
        (F.avg("__recall") >= 1.5 * chance).alias("recall_floor_ok"),
    )
    return (
        per_q.select(F.col("q_id").cast("long").alias("q_id"))
        .join(F.broadcast(agg))
        .select("q_id", "probe_bounded_ok", "recall_floor_ok")
    )


def _data_fingerprint(sf_dir: str) -> str:
    """Size+mtime of embeddings.parquet, hex-folded — scratch artifacts
    auto-invalidate if the driver regenerates the testdata in place (a
    stale index would silently poison every recall invariant)."""
    import os

    st = os.stat(os.path.join(sf_dir, "embeddings.parquet"))
    return f"{st.st_size:x}_{st.st_mtime_ns:x}"


def _ensure_scratch(spark, sf_dir, kind, parts, build, load):
    """Build-once scratch artifact with atomic publish (shared by the IVF
    index, the LSH index, and the exact ground-truth table).

    ``build(staging_path)`` materializes the artifact under a
    process-private staging dir; ``load(root)`` opens a published one.
    Completeness is checked via the parquet _SUCCESS marker of each listed
    part. Concurrent-builder safe: publish is one atomic os.rename, so a
    parallel session sees either the complete artifact (loads it) or none
    (builds its own; the rename-race loser discards its copy)."""
    import os
    import shutil

    from popelines_spark.session import scratch_dir

    root = scratch_dir(
        f"{kind}_{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{_data_fingerprint(sf_dir)}"
    )

    def _complete(path):
        return all(
            os.path.exists(os.path.join(path, part, "_SUCCESS"))
            for part in parts
        )

    if _complete(root):
        return load(root)
    staging = f"{root}.__building_{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    build(staging)
    try:
        os.rename(staging, root)
    except OSError:  # another builder published first — use theirs
        shutil.rmtree(staging, ignore_errors=True)
    return load(root)


def ensure_ivf_index(spark, sf_dir):
    """Build the embeddings IVF index for ``sf_dir`` if absent, else open
    it — build once, probe many. bench.py calls this before timing so the
    benched path is the probe."""
    from popelines_spark.llm.ivf import build_ivf_index, load_ivf_index

    def build(staging):
        _, corpus = _queries_and_corpus(spark, sf_dir)
        build_ivf_index(
            corpus, "c_vec", "neighbor_id", staging, n_cells=8, iterations=2
        )

    return _ensure_scratch(
        spark, sf_dir, "ivf", ("cells", "centroids"),
        build, lambda root: load_ivf_index(spark, root),
    )


def ensure_ivf_auto_index(spark, sf_dir):
    """Build the √N-cells IVF index (n_cells="auto") for ``sf_dir`` if
    absent, else open it — the scale-path twin of ensure_ivf_index; one
    Lloyd iteration keeps the O(N·√N) assignment cost of the build
    bounded (it's the amortized step either way)."""
    from popelines_spark.llm.ivf import build_ivf_index, load_ivf_index

    def build(staging):
        _, corpus = _queries_and_corpus(spark, sf_dir)
        build_ivf_index(
            corpus, "c_vec", "neighbor_id", staging,
            n_cells="auto", iterations=2, seed="hash",
            train_sample_cap="auto",
        )

    # kind "ivfauto4": hash seeding + 2 Lloyd iterations over a
    # 100·n_cells deterministic hash SAMPLE (VERDICT r6 next #3;
    # llm/ivf.py train_sample_cap) — the suffix invalidates indexes built
    # by earlier recipes, which _data_fingerprint alone would not catch.
    return _ensure_scratch(
        spark, sf_dir, "ivfauto4", ("cells", "centroids"),
        build, lambda root: load_ivf_index(spark, root),
    )


def ensure_lsh_index(spark, sf_dir):
    """Build the embeddings hyperplane-LSH index for ``sf_dir`` if absent
    (corpus written PARTITIONED BY __bucket), else open it."""

    def build(staging):
        _, corpus = _queries_and_corpus(spark, sf_dir)
        S.build_lsh_index(
            corpus, "c_vec", "neighbor_id", staging, n_planes=4, dim=64
        )

    return _ensure_scratch(
        spark, sf_dir, "lsh", ("buckets", "meta"),
        build, lambda root: S.load_lsh_index(spark, root),
    )


def ensure_exact_topk(spark, sf_dir, k: int = 5):
    """Exact brute-force top-k ground truth for the standard query set,
    built once per sf_dir and read back as a tiny parquet table. This is
    the verification counterpart of the ANN indexes: at 100 TB you compute
    exact neighbors for the (bounded) evaluation query set once, then every
    recall check is a |queries|·k join — never a per-run corpus pass."""

    def build(staging):
        import os

        queries, corpus = _queries_and_corpus(spark, sf_dir)
        audit_side_plan(
            S.knn_bruteforce(
                queries, corpus, k=k, c_id="neighbor_id", exclude_self=True
            ),
            "exact-topk-build",
        ).write.mode("overwrite").parquet(os.path.join(staging, "topk"))

    return _ensure_scratch(
        spark, sf_dir, f"exact{k}", ("topk",),
        build, lambda root: spark.read.parquet(f"{root}/topk"),
    )
