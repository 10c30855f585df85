"""The read-only ``queries`` workload.

Each pass runs the workload's registered queries once, in an order drawn
from the seed and the pass number, through the no-op sink. The first
warm-up pass collects every result instead and compares it with the
query's registered DuckDB oracle on the same input files. A traced run
also builds the kNN queries' indexes (``build_indexes``).
"""

from __future__ import annotations

import glob
import os
import random

import numpy as np
import pyarrow.parquet as pq

from inputs import duckdb_views, embeddings, write_tables

#: A stats-planned star join (``planner`` + ``operators.star``),
#: iterative PageRank (``operators.graph``: 43 small jobs, driver-bound;
#: ROADMAP direction 2), TF-IDF keyword extraction (``llm.rank``) and a
#: stateful stream replay of the events table (``streaming.runner``:
#: ``events_stream`` + ``run_to_completion``). Each runs once per pass; a
#: longer list would not fit the run length (see README.md).
QUERIES = [
    "b_join_star_planned",
    "c_pagerank_nations",
    "c_tfidf_topk",
    "s_cdc_latest",
]

#: The parameters ``queries.ext_similarity``'s ``ensure_ivf_index``,
#: ``ensure_lsh_index`` and ``ensure_exact_topk`` build with.
IVF_CELLS, IVF_ITERATIONS = 8, 2
LSH_PLANES = 4
EXACT_K = 5
QUERY_EVERY = 50  # vec_id % 50 == 0 are the kNN queries


def _parity_compare():
    """``tools/parity.py``'s cross-engine comparison. Importing the tool
    turns on its strict plan audit for the whole process; the benchmark
    runs the program with its default audit mode, so that is undone."""
    before = os.environ.get("POPELINES_PLAN_AUDIT")
    from tools.parity import compare

    if before is None:
        os.environ.pop("POPELINES_PLAN_AUDIT", None)
    else:
        os.environ["POPELINES_PLAN_AUDIT"] = before
    return compare


class Queries:
    name = "queries"
    #: Untimed passes inside set-up. On a 4-core host the first pass runs
    #: ~2.5x slower than later ones and the second still ~1.3x the third
    #: (JIT compilation and code generation); the third and later passes
    #: agree within a few percent.
    warmup_passes = 2

    def __init__(self, ctx):
        import __spark_entry__ as entry

        self.ctx = ctx
        self.sf = os.path.join(ctx.work, "inputs")
        with ctx.spans.span("inputs.write_tables"):
            write_tables(ctx.seed, self.sf)
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()

    def order(self, p: int) -> list[str]:
        names = list(QUERIES)
        random.Random(f"{self.ctx.seed}:{p}").shuffle(names)
        return names

    def run_pass(self, p: int) -> dict:
        ctx = self.ctx
        results = {}
        for name in self.order(p):
            with ctx.op(name, f"p{p}.{name}"):
                df = self.queries[name](ctx.spark, self.sf)
                if p == 0:
                    results[name] = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
        if results:
            self._check(results)
        return {}

    def build_indexes(self) -> None:
        """Build the kNN queries' ANN indexes and exact ground truth over
        the embeddings, as ``ensure_ivf_index`` / ``ensure_lsh_index`` /
        ``ensure_exact_topk`` do, but into the run's work directory: those
        cache under a fixed system temp path. Each build is one operation
        and is checked."""
        from popelines_spark import tables
        from popelines_spark.llm import similarity as S
        from popelines_spark.llm.ivf import build_ivf_index

        ctx = self.ctx
        spark = ctx.spark
        emb = tables.load(spark, self.sf, "embeddings")
        corpus = emb.select(
            emb["vec_id"].alias("neighbor_id"), emb["embedding"].alias("c_vec")
        )
        queries = emb.filter(emb["vec_id"] % QUERY_EVERY == 0).select(
            emb["vec_id"].alias("q_id"), emb["embedding"].alias("q_vec")
        )
        root = os.path.join(ctx.work, "indexes")
        n = len(embeddings(self.sf))

        with ctx.op("llm.ivf_build", "index.ivf"):
            ivf = build_ivf_index(
                corpus, "c_vec", "neighbor_id", os.path.join(root, "ivf"),
                n_cells=IVF_CELLS, iterations=IVF_ITERATIONS,
            )
        with ctx.op("llm.lsh_build", "index.lsh"):
            lsh = S.build_lsh_index(
                corpus, "c_vec", "neighbor_id", os.path.join(root, "lsh"),
                n_planes=LSH_PLANES, dim=64,
            )
        exact_path = os.path.join(root, "exact", "topk")
        with ctx.op("llm.exact_topk", "index.exact"):
            S.knn_bruteforce(
                queries, corpus, k=EXACT_K, c_id="neighbor_id",
                exclude_self=True,
            ).write.mode("overwrite").parquet(exact_path)

        for what, path in (("IVF cells", ivf.cells_path),
                           ("LSH buckets", lsh.buckets_path)):
            ids = [
                i
                for f in glob.glob(os.path.join(path, "*", "*.parquet"))
                for i in pq.read_table(f, columns=["neighbor_id"])[0].to_pylist()
            ]
            ctx.check(f"{what} hold every vector once", sorted(ids) == list(range(n)))
        ctx.check("exact top-k vs numpy", self._topk_ok(exact_path))

    def _topk_ok(self, path: str) -> bool:
        """The written top-k neighbour sets equal numpy's cosine top-k."""
        vecs = embeddings(self.sf)
        unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        got: dict[int, set] = {}
        for r in pq.read_table(path).to_pylist():
            got.setdefault(r["q_id"], set()).add(r["neighbor_id"])
        want = {}
        for q in range(0, len(vecs), QUERY_EVERY):
            sim = unit @ unit[q]
            sim[q] = -np.inf
            want[q] = set(np.argsort(-sim, kind="stable")[:EXACT_K].tolist())
        return got == want

    def _check(self, results: dict) -> None:
        import duckdb

        compare = _parity_compare()
        con = duckdb.connect()
        try:
            duckdb_views(con, self.sf)
            for name, spark_pdf in results.items():
                duck_pdf = con.execute(self.oracles[name]).df()
                problems = compare(name, spark_pdf, duck_pdf)
                self.ctx.check(f"{name} vs DuckDB oracle: {problems}", not problems)
        finally:
            con.close()

