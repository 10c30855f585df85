"""Deduplication operators for LLM data pipelines (SURVEY.md §2 Part C).

Four families:
 - exact:    hash-groupBy on a normalized key (one shuffle).
 - MinHash:  shingle → n-permutation min-hash signature → banded LSH →
             candidate pairs via band-bucket self-join (NEVER a full cross
             join — the 100 TB-safe plan) → verify on signature agreement.
 - SimHash:  64-bit majority-vote fingerprint → chunk-banded self-join →
             hamming filter (pigeonhole: hamming ≤ 3 over 4 chunks ⇒ at
             least one 16-bit chunk is identical).
 - n-gram Jaccard: exact set similarity on shingle sets for candidate pairs
             from a cheap blocking key.

All hashing is xxhash64 with fixed salts — deterministic across runs,
machines and partitionings. No randomness at runtime.

Scale notes: every pair-generating join is keyed (band hash / chunk value /
blocking key); skew in a hot bucket is bounded by band width choice, and the
self-join dedups with id_a < id_b before the verify stage.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from popelines_spark.llm.text import shingle_hashes
from popelines_spark.plans.inspect import checkpoint
from popelines_spark.operators.keyed import keep_first
from popelines_spark.operators.par import spread_by

_MERSENNE31 = (1 << 31) - 1


def exact_dedup(
    df: DataFrame, keys: list[str], id_col: str, normalize_case: bool = False
) -> DataFrame:
    """Keep the lowest-id row per key group; adds ``n_copies``. ALL input
    columns survive (VERDICT r1 #3 — the round-1 version projected to
    keys+id, forcing callers to re-join their payload back).

    One hash shuffle on ``keys`` (the n_copies window and the keep_first
    window share the same partitioning, so Catalyst plans one exchange);
    at 100 TB prefer this over dropDuplicates when you need a
    deterministic survivor.
    """
    key_cols = [F.lower(F.col(k)) if normalize_case else F.col(k) for k in keys]
    with_count = df.withColumn(
        "n_copies", F.count("*").over(W.partitionBy(*key_cols))
    )
    return keep_first(with_count, key_cols, [id_col])


def _hash_params(n: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE31), rng.randrange(0, _MERSENNE31))
        for _ in range(n)
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, sig: array<bigint>) — classic a·h+b mod p permutation MinHash
    over hashed shingles (llm/text.py::shingle_hashes — zip_with over
    shifted token-hash slices; see its docstring for the measured HOF
    trade-offs).

    One explode + one groupBy(id) shuffle; the n min-aggregations are
    map-side combined and stay inside whole-stage codegen, so the shuffle
    carries only per-partition partial-min states — NOT the token or
    shingle stream. That is the property to preserve at 100 TB; rewrites
    that win locally by moving shingling into a codegen'd window (shuffle
    the corpus by doc) lose it.

    Design note (measured, not guessed): the "obvious" shuffle-free
    alternative — nested array transforms computing all n permuted minima
    in one expression — is ~20× SLOWER, because Spark's higher-order
    functions run in interpreted expression mode, outside codegen. The
    exploded formulation keeps every arithmetic op codegen'd. Duplicate
    shingles are NOT pre-deduped: min() is duplicate-insensitive, so
    array_distinct would spend interpreter time to shrink rows the partial
    aggregate collapses anyway."""
    params = _hash_params(num_hashes)
    # r13: the shingle explode + 64 partial-min aggregates fuse into the
    # scan stage; on a single-row-group input that stage is one task —
    # spread repairs it (no-op on multi-split inputs; operators/par.py).
    # r13 batch 6: HASH-spread on the doc id, not round-robin — the
    # groupBy(id) below then reuses hashpartitioning(id), so the 64-way
    # min-aggregate collapses fully in the scan stage and its Exchange
    # disappears (2 -> 1, plan-pinned); round-robin scattered each id
    # across every partition, shipping ~n_partitions partial states per
    # id. Measured 0.9x/0.72x on fuzzy/ngram
    # (tools/exp_spread_key.py @ b9babdb).
    df = spread_by(df, id_col)
    sh = df.select(
        F.col(id_col),
        F.explode(shingle_hashes(F.col(text_col), shingle_k)).alias("__h"),
    )
    aggs = [
        F.min(F.pmod(F.col("__h") * a + b, F.lit(_MERSENNE31))).alias(f"__m{i}")
        for i, (a, b) in enumerate(params)
    ]
    sig = sh.groupBy(id_col).agg(*aggs)
    return sig.select(
        id_col, F.array(*[f"__m{i}" for i in range(num_hashes)]).alias("sig")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, est_jaccard ≥ threshold).

    banding: sig split into ``bands`` rows of r = n/bands; candidates =
    ids sharing any band hash (equi-join on the band key — no cross join);
    verification: fraction of agreeing signature components.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    # sig feeds THREE consumers (the banding explode + both sides of the
    # verification re-join): without a lineage barrier the shingle
    # explode + 64-way min-aggregate re-executes per consumer.
    sig = checkpoint(
        minhash_signatures(df, id_col, text_col, num_hashes, shingle_k),
        "minhash-signatures", eager=False,
    )
    # Band rows carry only (id, band, bucket) — the 512-byte signature array
    # stays OUT of the exploded/shuffled candidate stream and is joined back
    # once per deduped pair side. At scale this is the difference between
    # shuffling ~24B and ~8KB per banded row.
    banded = sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("sig", b * r + i + 1).cast("string")
                                    for i in range(r)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    a = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sig_a = sig.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = sig.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    cand = cand.join(sig_a, "id_a").join(sig_b, "id_b")
    # r13 examined, kept as-is (tools/exp_fuzzy_agree.py @ b9babdb): unrolling
    # this fold into a 64-term element_at comparison chain ("codegen instead
    # of interpreted HOF") measured SLOWER — 3.97 vs 2.92 s interleaved
    # minima, identical output — the giant expression tree loses to
    # Spark 4's HOF evaluation at this width. The 20x HOF penalty
    # documented for minhash_signatures applies to per-SHINGLE transform
    # streams, not to one fixed-width fold per verified pair.
    agree = F.aggregate(
        F.zip_with(
            "sig_a", "sig_b", lambda x, y: (x == y).cast("int")
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        cand.withColumn(
            "est_jaccard", agree.cast("double") / F.lit(float(num_hashes))
        )
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash: bigint) — 64-bit majority-vote over token xxhash64
    bits. One explode + one groupBy(id); the 64 bit-votes are sums with
    map-side combine."""
    # r13: same scan-parallelism repair as minhash_signatures — the token
    # explode + 63 partial bit-vote sums fuse into the scan stage.
    # r13 batch 6: keyed spread — groupBy(id) reuses the partitioning
    # (same exchange-elision win as minhash_signatures).
    tok = spread_by(df, id_col).select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("__w")
    ).withColumn("__h", F.xxhash64("__w"))
    votes = [
        F.sum(
            F.when(F.col("__h").bitwiseAND(F.lit(1 << j)) != 0, 1).otherwise(-1)
        ).alias(f"__b{j}")
        for j in range(63)  # bit 63 = sign bit; keep fingerprints positive
    ]
    agg = tok.groupBy(id_col).agg(*votes)
    fp = None
    for j in range(63):
        bit = F.when(F.col(f"__b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fp = bit if fp is None else fp.bitwiseOR(bit)
    return agg.select(id_col, fp.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Pairs with hamming(simhash_a, simhash_b) ≤ max_hamming via chunk
    banding: ≤ 3 differing bits over 4 × 16-bit chunks ⇒ some chunk equal
    (requires chunks > max_hamming)."""
    if chunks <= max_hamming:
        raise ValueError("need chunks > max_hamming for banding completeness")
    width = 64 // chunks
    # the banded frame feeds both self-join sides — checkpoint so the
    # token explode + 63-way bit-vote aggregate runs once, not twice
    sh = checkpoint(simhash(df, id_col, text_col), "simhash", eager=False)
    banded = sh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(
                            F.col("simhash"), c * width
                        ).bitwiseAND(F.lit((1 << width) - 1)).alias("val"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("cv"),
    ).select(id_col, "simhash", "cv.chunk", "cv.val")
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "chunk", "val"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "chunk", "val"
    )
    return (
        a.join(b, ["chunk", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(id, component) where component = min id reachable over ``edges`` —
    the cluster step that turns pairwise near-dup matches into dedup
    groups (keep min-id per component, drop the rest).

    Algorithm: min-label propagation to fixpoint. Each iteration is one
    keyed join (labels x symmetric edges) + one keyed min-aggregate; the
    driver reads only a changed-row COUNT per iteration (convergence
    check, the sanctioned scalar edge). Lineage is truncated per iteration
    with an eager localCheckpoint, so plans stay flat regardless of
    iteration count. Iterations needed = component diameter; for
    web-scale graphs swap in the large-star/small-star contraction, which
    is built from these same two primitives.
    """
    # Checkpoint the symmetric edge list once: every iteration joins it,
    # and edges usually carry an expensive upstream (a near-dup pair
    # pipeline) that must not re-execute per iteration.
    sym = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).unionByName(
        edges.select(F.col(dst).alias("s"), F.col(src).alias("d"))
    )
    sym = checkpoint(sym, "cc-sym-edges", eager=False)
    labels = checkpoint(
        vertices.select(
            F.col(id_col).alias("v"), F.col(id_col).alias("component")
        ),
        "cc-init-labels",
    )
    changed = -1
    for _ in range(max_iter):
        neigh = (
            labels.join(sym, labels.v == sym.s)
            .select(F.col("d").alias("v"), "component")
        )
        new = checkpoint(
            labels.unionByName(neigh)
            .groupBy("v")
            .agg(F.min("component").alias("component")),
            "cc-iter-labels",
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "v")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    if changed != 0:
        # ADVICE r2: silently returning labels mid-propagation hands the
        # caller WRONG dedup clusters. Diameter > max_iter is a real input
        # property, not noise — fail loudly; the caller raises max_iter or
        # switches to the large-star/small-star contraction.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations "
            f"({changed} labels still changing); raise max_iter or use "
            "star-contraction for high-diameter graphs"
        )
    return labels.select(F.col("v").alias(id_col), "component")


def connected_components_star(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """(id, component) via alternating large-star/small-star contraction —
    the WEB-SCALE swap for min-label propagation (connected_components):
    propagation needs O(diameter) rounds, star contraction needs
    O(log n) rounds regardless of diameter (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14 — public algorithm).

    Each round is two keyed groupBy+join passes over the edge list; edges
    stay canonical (a > b) between rounds so the fixpoint is exactly the
    star forest {(v, component_min)}. Convergence is detected by an edge-set
    signature (count + hash sum, one scalar to the driver) and CONFIRMED
    with an exact symmetric difference before returning — same loud-failure
    contract as connected_components when max_iter is hit.
    """
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .filter(F.col("s") != F.col("d"))
        .select(
            F.greatest("s", "d").alias("a"), F.least("s", "d").alias("b")
        )
        .distinct()
    )
    e = checkpoint(e, "star-init-edges")

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        m = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # canonical (a > b): b-side IS the smaller neighborhood of a
        m = e.groupBy("a").agg(F.min("b").alias("m"))
        to_min = (
            e.join(m, "a")
            .filter(F.col("b") != F.col("m"))
            .select(F.col("b").alias("x"), "m")
        )
        self_edge = m.select(F.col("a").alias("x"), "m")
        return (
            to_min.unionByName(self_edge)
            .filter(F.col("x") != F.col("m"))
            .select(F.col("x").alias("a"), F.col("m").alias("b"))
            .distinct()
        )

    def signature(e: DataFrame) -> tuple:
        row = e.agg(
            F.count("*").alias("n"),
            F.coalesce(
                # decimal accumulator: a BIGINT sum of 64-bit hashes
                # overflows under ANSI mode
                F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    sig = signature(e)
    converged = False
    for _ in range(max_iter):
        new = checkpoint(small_star(large_star(e)), "star-iter-edges")
        new_sig = signature(new)
        if new_sig == sig:
            # exact confirmation: hash-sum signatures collide only
            # adversarially, but the contract is exactness
            same = (
                new.exceptAll(e).count() == 0 and e.exceptAll(new).count() == 0
            )
            if same:
                converged = True
                e = new
                break
        e, sig = new, new_sig
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            "rounds; the edge list may be growing pathologically — check "
            "for self-loops or raise max_iter"
        )
    labels = vertices.select(F.col(id_col).alias("v")).join(
        e.select(F.col("a").alias("v"), F.col("b").alias("__m")), "v", "left"
    )
    return labels.select(
        F.col("v").alias(id_col),
        F.coalesce("__m", "v").alias("component"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str] | None = None,
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard >= threshold pairs via threshold-complete PREFIX
    FILTERING (the PPJoin/AllPairs candidate bound — replaces round 1's
    block-only candidate join, which generated pairs quadratic in block
    population, VERDICT r1 #1).

    Completeness: order every document's shingles by a global total order
    (global frequency asc, shingle string as tiebreak — rarest first) and
    keep only the PREFIX of length |set| - ceil(t*|set|) + 1. If
    J(A,B) >= t then |A∩B| >= ceil(t*max(|A|,|B|)), and the smallest common
    shingle (in the global order) provably sits inside BOTH prefixes, so
    the equi-join on (block_cols, prefix shingle) misses no qualifying
    pair. Candidate count now tracks true-duplicate density instead of
    block-size^2: rare shingles collide only between genuinely similar
    docs; at 100 TB the rarest-first order makes hot join keys (stopword
    shingles) fall OUT of most prefixes.

    Shuffle profile: shingle-frequency groupBy + frequency join (both keyed
    on the shingle), one window on id for the per-doc prefix rank, the
    candidate equi-join on (block, shingle), and the verify join on ids —
    all keyed, no cross join at any scale.
    """
    block_cols = list(block_cols or [])
    # Shingle generation stays fully in codegen: posexplode tokens, lead()
    # windows assemble the k-gram, xxhash64 collapses it to 8 bytes —
    # measured ~2x faster than the interpreted-HOF array transform at
    # sf0.1, and every later stage works on long hashes, never strings.
    # Jaccard over hash sets equals Jaccard over shingle sets barring a
    # 64-bit collision between two distinct shingles of the same corpus
    # (~|shingles|^2 / 2^64 — negligible, and deterministic if it ever
    # happened).
    if shingle_k < 1:
        raise ValueError("shingle_k must be >= 1")
    sh_rows = _shingle_hash_rows(
        df, id_col, text_col, shingle_k, carry_cols=block_cols
    )
    # The shingle rows feed four plan branches (frequency, prefix, verify
    # set a/b); Spark has no cross-branch CSE, so without a lineage barrier
    # the shingling recomputes per branch. A lazy localCheckpoint
    # materializes it once — at cluster scale this is the same move as
    # staging the shingle table before a multi-pass job.
    sh_rows = checkpoint(sh_rows, "ppjoin-shingle-hashes", eager=False)
    freq = sh_rows.groupBy("__h").agg(F.count("*").alias("__f"))
    # set size and prefix rank share one exchange (same partition key)
    wid = W.partitionBy(id_col)
    prefix_len = F.col("__n") - F.ceil(F.lit(threshold) * F.col("__n")) + 1
    prefix = (
        sh_rows.join(freq, "__h")
        .withColumn("__n", F.count("*").over(wid))
        .withColumn(
            "__rk", F.row_number().over(wid.orderBy("__f", "__h"))
        )
        .filter(F.col("__rk") <= prefix_len)
    )
    # r13 examined, kept as-is: checkpointing `prefix` (it feeds both
    # sides of the candidate self-join, so the freq join + windows run
    # twice) measured SLOWER (4.8 -> 5.4 s interleaved): the barrier
    # gives Catalyst the true ~20 MB size, demoting the candidate join
    # from broadcast to shuffle, which costs more than the duplicated
    # window pipeline saves. Same story for the `sets` build below.
    # Re-tested with explicit F.broadcast() hints pinning the join
    # strategy (tools/exp_ngram2.py @ b9babdb): STILL slower — A 2.66 s vs
    # ckpt(prefix+sets)+hints 4.73 s vs ckpt(sets)+hints 3.11 s
    # interleaved minima. The duplicated branches are independent
    # subtrees that the scheduler runs CONCURRENTLY on otherwise-idle
    # cores, while a lineage barrier serializes the plan; deduplication
    # saves CPU-seconds but loses wall-clock. Would flip only when the
    # cluster is CPU-saturated; revisit then.
    a = prefix.select(
        *block_cols,
        F.col(id_col).alias("id_a"),
        F.col("__n").alias("__na"),
        F.col("__rk").alias("__rka"),
        "__h",
    )
    b = prefix.select(
        *block_cols,
        F.col(id_col).alias("id_b"),
        F.col("__n").alias("__nb"),
        F.col("__rk").alias("__rkb"),
        "__h",
    )
    # Two more threshold-complete prunes before the distinct/verify stages:
    #  - length filter: J >= t implies min(|A|,|B|) >= t * max(|A|,|B|);
    #  - PPJoin position filter: matched on the MINIMAL common element (at
    #    ranks i, j), the overlap is at most 1 + min(|A|-i, |B|-j), and
    #    J >= t needs overlap >= t/(1+t) * (|A|+|B|). Non-minimal matches
    #    may be pruned spuriously, but the minimal one always survives for
    #    a qualifying pair, so completeness holds.
    # r14 examined, kept as-is (tools/exp_ngram_match_count.py @ b9babdb,
    # VERDICT r13 next #2): the MATCH-COUNT aggregate bound — replace this
    # distinct with a groupBy(id_a, id_b) counting the m prefix-prefix
    # matches and taking the LAST match's ranks (ra, rb), then prune on
    # overlap <= m + min(|A|-ra, |B|-rb), which is strictly tighter than
    # the per-row bound for m > 1 at the same exchange shape — was built,
    # property-tested complete against brute force on randomized
    # high-collision corpora (tests/test_llm_ops.py::
    # test_ngram_match_count_bound_is_complete pins the harness), and
    # measured on the sf0.1 corpus: it prunes 0.0% of candidates at
    # every threshold (704,708 / 281,120 / 85,859 pairs at t=0.3/0.5/0.7,
    # identical before/after), wall identical (1.934 vs 1.942 s
    # interleaved minima), output bit-identical. Root cause: this
    # corpus's candidate pairs always share a very-early-rank rare
    # shingle, so min(|A|-ra, |B|-rb) alone already clears the overlap
    # requirement — the bound only bites pairs whose FIRST shared rare
    # shingle sits late in both prefixes, which real near-dup text does
    # not produce. Full PPJoin+ suffix filtering would add per-pair
    # mid-set probes (interpreted element_at/HOF work, the
    # tools/exp_fuzzy_agree.py @ b9babdb trade) on top of a candidate set it
    # cannot shrink here — rejected; the verify join's array_intersect CPU
    # stands as the operator's honest cost.
    overlap_ub = F.lit(1) + F.least(
        F.col("__na") - F.col("__rka"), F.col("__nb") - F.col("__rkb")
    )
    overlap_req = (
        F.lit(threshold / (1.0 + threshold)) * (F.col("__na") + F.col("__nb"))
    )
    cand = (
        a.join(b, [*block_cols, "__h"])
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.least("__na", "__nb").cast("double")
                >= F.lit(threshold) * F.greatest("__na", "__nb")
            )
            & (overlap_ub.cast("double") >= overlap_req)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    sets = sh_rows.groupBy(id_col).agg(F.collect_list("__h").alias("__sh"))
    sets_a = sets.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("sh_a"))
    sets_b = sets.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("sh_b"))
    # r13 examined, kept as-is (tools/exp_verify_once.py @ b9babdb): the
    # optimizer pushes the jaccard test below into the verify join's condition
    # AND keeps a copy in the output Project (the plan shows array_intersect
    # in both), which LOOKS like a 2x-per-candidate evaluation — but a
    # single-evaluation rewrite (project (|A∩B|,|A|,|B|) once behind a
    # lazy barrier, rebuild the identical IEEE expression from scalars)
    # measured SLIGHTLY SLOWER interleaved (1.741 vs 1.693 s minima on
    # c_dedup_ngram, 0.936 vs 0.911 on c_containment; outputs verified
    # bit-identical both ways first). Spark 4's codegen already
    # de-duplicates the common subexpression here, so the barrier's
    # extra materialization job buys nothing.
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (
        F.size("sh_a").cast("double") + F.size("sh_b").cast("double") - inter
    )
    return (
        cand.join(sets_a, "id_a")
        .join(sets_b, "id_b")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _shingle_hash_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Distinct (id[, carry_cols], xxhash64(k-gram shingle)) rows, fully
    in codegen (see the collision note in ngram_jaccard_pairs: hash-set
    overlap equals shingle-set overlap up to a ~|shingles|^2/2^64
    collision probability). ``carry_cols`` ride along unchanged — the
    single shared assembly for ngram_jaccard_pairs' blocked variant
    (review r12: the two inlined copies had to be kept in sync by hand)."""
    carry = [F.col(c) for c in (carry_cols or [])]
    # r13: tokenize + posexplode + the doc-window exchange write fuse into
    # the scan stage (one task on a single-row-group input) — spread them
    # across the cores; measured on c_dedup_ngram in OPTIMIZATION_r13.md.
    # r13 batch 6: keyed on the doc id — the shingle-assembly window AND
    # the trailing distinct() both reuse hashpartitioning(id) (subset
    # rule), so their Exchanges vanish with the keyed spread.
    df = spread_by(df, id_col)
    tokp = df.select(
        F.col(id_col),
        *carry,
        F.posexplode(F.split(F.col(text_col), " ")).alias("__pos", "__w"),
    )
    if shingle_k == 1:
        shingled = tokp.select(
            F.col(id_col), *carry, F.col("__w").alias("__s")
        )
    else:
        wd = W.partitionBy(id_col).orderBy("__pos")
        leads = [F.lead("__w", i).over(wd) for i in range(1, shingle_k)]
        shingled = tokp.select(
            F.col(id_col),
            *carry,
            F.concat_ws(" ", "__w", *leads).alias("__s"),
            leads[-1].alias("__last"),
        ).filter(F.col("__last").isNotNull())
    return shingled.select(
        F.col(id_col), *carry, F.xxhash64("__s").alias("__h")
    ).distinct()


def containment_pairs(
    bench: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Asymmetric near-CONTAINMENT join: pairs (id_a ∈ bench, id_b ∈
    corpus) with C(A,B) = |S(A) ∩ S(B)| / |S(A)| >= threshold over k-gram
    shingle sets.  This is the decontamination primitive Jaccard misses: a
    short benchmark prompt embedded verbatim inside a long training
    document has low Jaccard (the union is huge) but containment ≈ 1.

    Candidate generation is threshold-complete PREFIX FILTERING on the
    BENCH side only: order each benchmark doc's shingles rarest-first
    (global corpus frequency) and keep the first |A| - ceil(t*|A|) + 1.
    If C(A,B) >= t then A shares >= ceil(t*|A|) shingles with B, and by
    pigeonhole at least one of them sits in that prefix — so the
    prefix-vs-inverted-index equi-join misses no qualifying pair.  The
    corpus side keeps ALL its shingles (containment puts no lower bound on
    |B|'s overlap fraction, so no symmetric prune exists).

    Shuffle profile at 100 TB: one keyed groupBy for corpus shingle
    frequency, one window per bench doc for the prefix rank (bench is the
    SMALL side — the benchmark/eval suite), the candidate equi-join keyed
    on the shingle hash, and a verify join on ids.  Bench-side prefixes
    keep hot (stopword-like) shingles out of the join key, so candidates
    track true containment density, never |bench| x |corpus|.
    """
    sh_a = _shingle_hash_rows(bench, id_col, text_col, shingle_k)
    sh_b = _shingle_hash_rows(corpus, id_col, text_col, shingle_k)
    sh_a = checkpoint(sh_a, "containment-bench-shingles", eager=False)
    sh_b = checkpoint(sh_b, "containment-corpus-shingles", eager=False)
    freq = sh_b.groupBy("__h").agg(F.count("*").alias("__f"))
    wid = W.partitionBy(id_col)
    prefix_len = F.col("__na") - F.ceil(F.lit(threshold) * F.col("__na")) + 1
    prefix_a = (
        sh_a.join(freq, "__h", "left")
        .fillna({"__f": 0})
        .withColumn("__na", F.count("*").over(wid))
        .withColumn("__rk", F.row_number().over(wid.orderBy("__f", "__h")))
        .filter(F.col("__rk") <= prefix_len)
        .select(F.col(id_col).alias("id_a"), "__h")
    )
    cand = (
        prefix_a.join(sh_b.select(F.col(id_col).alias("id_b"), "__h"), "__h")
        .select("id_a", "id_b")
        .distinct()
    )
    sets_a = sh_a.groupBy(id_col).agg(F.collect_list("__h").alias("sh_a"))
    sets_b = sh_b.groupBy(id_col).agg(F.collect_list("__h").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    containment = F.round(inter / F.size("sh_a").cast("double"), 6)
    return (
        cand.join(sets_a.select(F.col(id_col).alias("id_a"), "sh_a"), "id_a")
        .join(sets_b.select(F.col(id_col).alias("id_b"), "sh_b"), "id_b")
        .select("id_a", "id_b", containment.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )
