"""Part C operators: planted-duplicate recall, determinism across runs,
self-exclusion, scale-shape assertions (no cross joins in LSH plans)."""

from pyspark.sql import functions as F

from popelines_spark.llm import dedup as D
from popelines_spark.llm import similarity as S


def _docs(spark):
    rows = []
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta",
             "iota", "kappa"]
    for i in range(20):
        # length varies with i so no two base docs collide
        toks = [words[(i + j) % 10] for j in range(30 + i)]
        rows.append((i, " ".join(toks)))
    # exact dup of doc 0, near dup of doc 1 (drop 3 tokens)
    rows.append((100, rows[0][1]))
    near = rows[1][1].split()
    rows.append((101, " ".join(near[:10] + near[13:])))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_deterministic_survivor(spark):
    out = D.exact_dedup(_docs(spark), keys=["text"], id_col="doc_id")
    rows = {r.doc_id: r.n_copies for r in out.collect()}
    assert rows[0] == 2 and 100 not in rows
    assert rows[1] == 1


def test_minhash_finds_planted_pairs_and_is_deterministic(spark):
    pairs1 = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in D.minhash_lsh_pairs(
            _docs(spark), "doc_id", "text", num_hashes=64, bands=16,
            threshold=0.4,
        ).collect()
    }
    assert pairs1[(0, 100)] == 1.0           # exact copy: all sigs agree
    assert (1, 101) in pairs1                # near copy found
    # deterministic across a rerun (fixed salts, partition-independent)
    pairs2 = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in D.minhash_lsh_pairs(
            _docs(spark).repartition(7), "doc_id", "text", num_hashes=64,
            bands=16, threshold=0.4,
        ).collect()
    }
    assert pairs1 == pairs2


def test_simhash_near_dup_hamming(spark):
    out = {(r.id_a, r.id_b): r.hamming for r in
           D.simhash_pairs(_docs(spark), "doc_id", "text").collect()}
    assert out[(0, 100)] == 0


def test_ngram_jaccard_exact_values(spark):
    df = _docs(spark).withColumn("blk", F.lit(1))
    out = {(r.id_a, r.id_b): r.jaccard for r in
           D.ngram_jaccard_pairs(df, "doc_id", "text", ["blk"],
                                 threshold=0.99).collect()}
    assert out[(0, 100)] == 1.0


def test_knn_excludes_self_and_ranks(spark):
    vecs = spark.createDataFrame(
        [(i, [float(i == j) for j in range(8)]) for i in range(8)]
        + [(100, [1.0, 0.1, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    q = vecs.filter(F.col("vec_id") == 100).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    c = vecs.select(F.col("vec_id").alias("c_id"),
                    F.col("embedding").alias("c_vec"))
    out = S.knn_bruteforce(q, c, k=2).collect()
    assert [r.c_id for r in sorted(out, key=lambda r: r.rank)] == [0, 1]
    assert all(r.c_id != 100 for r in out)


def test_lsh_buckets_are_deterministic(spark):
    vecs = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5) - 2.0 for j in range(16)]) for i in range(30)],
        "vec_id long, v array<double>",
    )
    b1 = {r.vec_id: r.b for r in vecs.select(
        "vec_id", S.hyperplane_bucket(F.col("v"), 6, 16).alias("b")).collect()}
    b2 = {r.vec_id: r.b for r in vecs.repartition(5).select(
        "vec_id", S.hyperplane_bucket(F.col("v"), 6, 16).alias("b")).collect()}
    assert b1 == b2


def test_multi_table_lsh_recall_dominates_single_table(spark):
    """n_tables is the recall lever: every candidate a single table finds is
    also found with 3 tables (table 0 shares salt 42), so multi-table
    results per query are a superset pre-rank — and the join stays keyed
    (no cartesian)."""
    vecs = spark.createDataFrame(
        [
            (i, [float((i * 13 + j * 7) % 11) - 5.0 for j in range(16)])
            for i in range(60)
        ],
        "vec_id long, v array<double>",
    )
    q = vecs.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("q_vec")
    )
    c = vecs.select(F.col("vec_id").alias("c_id"), F.col("v").alias("c_vec"))
    one = S.knn_lsh(q, c, k=50, n_planes=4, dim=16, n_tables=1)
    multi = S.knn_lsh(q, c, k=50, n_planes=4, dim=16, n_tables=3)
    pairs1 = {(r.q_id, r.c_id) for r in one.collect()}
    pairs3 = {(r.q_id, r.c_id) for r in multi.collect()}
    assert pairs1 <= pairs3
    plan = multi._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_keyed_spread_elides_aggregate_exchange(spark):
    """r13 batch 6 (tools/exp_spread_key.py @ b9babdb): the compute-fan-out
    spread in minhash_signatures/_shingle_hash_rows hash-partitions on the doc
    id, so the keyed groupBy / window / distinct downstream REUSE that
    partitioning — exactly ONE Exchange (the spread itself, shaped
    hashpartitioning(id)) in each subtree, not two."""
    docs = _docs(spark).coalesce(1)  # force the spread to fire

    sig_plan = (
        D.minhash_signatures(docs, "doc_id", "text", num_hashes=16)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert sig_plan.count("Exchange") == 1
    assert "hashpartitioning(doc_id" in sig_plan

    sh_plan = (
        D._shingle_hash_rows(docs, "doc_id", "text", 3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert sh_plan.count("Exchange") == 1
    assert "hashpartitioning(doc_id" in sh_plan


def test_lsh_join_plan_has_no_cartesian(spark):
    """The 100 TB guarantee: MinHash candidate generation is an equi-join on
    (band, bucket) — the physical plan must not contain a cartesian/BNLJ."""
    plan = D.minhash_lsh_pairs(
        _docs(spark), "doc_id", "text", num_hashes=16, bands=4
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_multimodal_decode_stub_shapes(spark):
    from popelines_spark.llm import multimodal as M

    df = spark.createDataFrame(
        [(1, "hello world", "src1"), (2, "bytes here", "src2")],
        "doc_id long, text string, source string",
    )
    wrapped = M.attach_payload(df, "doc_id", "text", "source", "text/plain")
    out = {r.doc_id: r for r in M.decode_stub(wrapped).collect()}
    assert out[1].n_bytes == len("hello world")
    assert 1 <= out[1].width <= 1920 and 1 <= out[1].height <= 1080
    # deterministic fake decode: same payload → same features
    out2 = {r.doc_id: r for r in M.decode_stub(wrapped).collect()}
    assert out == out2


def test_ppm_decoder_parses_real_spec(spark):
    """decode_ppm is a genuine netpbm parser: handles header comments and
    arbitrary whitespace, recovers exact dims/pixels, and REJECTS payloads
    whose pixel buffer doesn't match the declared dimensions."""
    import pytest
    from pyspark.sql import functions as F
    from popelines_spark.llm import multimodal as M

    def wrap(doc_id, buf: bytes):
        return spark.createDataFrame(
            [(doc_id, bytearray(buf), ("image/x-portable-pixmap", len(buf), "t"))],
            "doc_id long, payload binary, "
            "meta struct<mime:string,n_bytes:bigint,source:string>",
        )

    # 2x2 image, comment line in header, R channel = 10/50/90/130 → mean 70
    pix = bytes([10, 0, 0, 50, 0, 0, 90, 0, 0, 130, 0, 0])
    good = b"P6\n# a comment\n2 2\n255\n" + pix
    row = M.decode_ppm(wrap(7, good)).collect()[0]
    assert (row.width, row.height, row.maxval, row.n_pixel_bytes) == (2, 2, 255, 12)
    assert row.mean_r == 70.0

    # truncated pixel buffer must raise, not return garbage
    with pytest.raises(Exception, match="pixel buffer"):
        M.decode_ppm(wrap(8, b"P6\n2 2\n255\n" + pix[:9])).collect()

    # make_ppm fixtures round-trip through the real decoder
    fx = M.make_ppm(spark.range(5).select(F.col("id").alias("doc_id")))
    got = {r.doc_id: r for r in M.decode_ppm(fx).collect()}
    for i in range(5):
        assert got[i].width == i % 16 + 1 and got[i].height == i % 9 + 1
        assert got[i].mean_r == float(65 + i % 26)


def test_wav_decoder_parses_real_spec(spark):
    """decode_wav is a genuine RIFF/WAVE parser: recovers stereo layout and
    true sample statistics from an independently-encoded clip, and
    round-trips the make_wav fixtures."""
    import io
    import struct
    import wave

    from pyspark.sql import functions as F
    from popelines_spark.llm import multimodal as M

    # stereo clip, 4 frames, samples -100..700 → mean 300
    bio = io.BytesIO()
    with wave.open(bio, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(struct.pack("<8h", -100, 0, 100, 200, 300, 400, 500, 700))
    buf = bio.getvalue()
    df = spark.createDataFrame(
        [(3, bytearray(buf), ("audio/wav", len(buf), "t"))],
        "doc_id long, payload binary, "
        "meta struct<mime:string,n_bytes:bigint,source:string>",
    )
    row = M.decode_wav(df).collect()[0]
    assert (row.n_channels, row.sample_width, row.frame_rate, row.n_frames) == (
        2, 2, 16000, 4,
    )
    assert row.duration_sec == 4 / 16000
    assert row.mean_amp == 262.5  # mean of the 8 interleaved samples

    fx = M.make_wav(spark.range(4).select(F.col("id").alias("doc_id")))
    got = {r.doc_id: r for r in M.decode_wav(fx).collect()}
    for i in range(4):
        assert got[i].n_frames == i % 50 + 10
        assert got[i].mean_amp == float(i % 100 - 50)


def test_image_decoder_png_bmp_real_spec(spark):
    """decode_image is a genuine codec stage: a filter-0-only PNG built
    here from the spec (chunk layout + CRC32 + zlib, independent of
    make_png's filtered encoder) must decode to exact pixel stats; BMP
    BGR ordering must be flipped to RGB; corrupted CRCs and unsupported
    variants must raise, not guess. make_png round-trips exercise all
    five scanline filters (scanline r uses filter r%5)."""
    import binascii
    import struct
    import zlib

    import pytest
    from pyspark.sql import functions as F
    from popelines_spark.llm import multimodal as M

    def wrap(doc_id, buf: bytes, mime="image/png"):
        return spark.createDataFrame(
            [(doc_id, bytearray(buf), (mime, len(buf), "t"))],
            "doc_id long, payload binary, "
            "meta struct<mime:string,n_bytes:bigint,source:string>",
        )

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", binascii.crc32(typ + data) & 0xFFFFFFFF)
        )

    # 2x2 RGB PNG, filter 0 rows, R channel = 10/50/90/130 → mean 70
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    raw = (
        b"\x00" + bytes([10, 0, 0, 50, 0, 0])
        + b"\x00" + bytes([90, 0, 0, 130, 0, 0])
    )
    png = (
        M._PNG_SIG + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )
    row = M.decode_image(wrap(1, png)).collect()[0]
    assert (row.format, row.width, row.height, row.n_channels) == ("png", 2, 2, 3)
    assert row.mean_r == 70.0

    # flip one IDAT byte → CRC check must catch it
    bad = bytearray(png)
    bad[len(M._PNG_SIG) + 25 + 8] ^= 0xFF
    with pytest.raises(Exception, match="CRC"):
        M.decode_image(wrap(2, bytes(bad))).collect()

    # interlaced PNG must be rejected, not mis-decoded
    ihdr_i = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)
    png_i = (
        M._PNG_SIG + chunk(b"IHDR", ihdr_i)
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )
    with pytest.raises(Exception, match="unsupported PNG"):
        M.decode_image(wrap(3, png_i)).collect()

    # 1x1 24-bit BMP storing BGR=(1,2,3): mean_r must see R=3, not B=1
    pix = bytes([1, 2, 3]) + b"\x00"  # stride padded to 4
    filehdr = b"BM" + struct.pack("<IHHI", 54 + len(pix), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 24, 0, len(pix), 0, 0, 0, 0)
    row = M.decode_image(wrap(4, filehdr + dib + pix, "image/bmp")).collect()[0]
    assert (row.format, row.width, row.height, row.mean_r) == ("bmp", 1, 1, 3.0)

    # make_png (all five filters) and make_bmp round-trip analytically;
    # ids chosen so h = id%9+1 ≥ 5 covers Sub/Up/Average/Paeth scanlines
    ids = spark.createDataFrame([(i,) for i in (4, 7, 13, 22)], "doc_id long")
    both = M.make_png(ids).unionByName(M.make_bmp(ids))
    got = [
        (r.doc_id, r.format, r.width, r.height, r.mean_r)
        for r in M.decode_image(both).collect()
    ]
    for i in (4, 7, 13, 22):
        for fmt in ("png", "bmp"):
            assert (i, fmt, i % 16 + 1, i % 9 + 1, float(65 + i % 26)) in got


def test_png_codec_roundtrip_random_pixels():
    """Property: for RANDOM pixel content (not the fixtures' constant
    fill, whose Sub/Up/Average/Paeth filtered bytes are mostly zero), a
    spec-forward-filtered + zlib-compressed PNG decodes back to the exact
    pixel array through _png_decode. The forward filters here implement
    RFC 2083 §6's defining formulas directly on the raw array — an
    independent path from make_png's byte-level encoder. Pure-Python
    (no Spark session), so hypothesis can drive many cases cheaply."""
    import binascii
    import struct
    import zlib

    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from popelines_spark.llm.multimodal import _PNG_SIG, _paeth, _png_decode

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", binascii.crc32(typ + data) & 0xFFFFFFFF)
        )

    def encode(px: np.ndarray) -> bytes:
        h, w, ch = px.shape
        ctype = {1: 0, 3: 2, 4: 6}[ch]
        stride, bpp = w * ch, ch
        flat = px.reshape(h, stride).astype(np.int32)
        prev = np.zeros(stride, np.int32)
        raw = bytearray()
        for r in range(h):
            row, t = flat[r], r % 5
            left = np.concatenate([np.zeros(bpp, np.int32), row[:-bpp]]) \
                if stride > bpp else np.zeros(stride, np.int32)
            ul = np.concatenate([np.zeros(bpp, np.int32), prev[:-bpp]]) \
                if stride > bpp else np.zeros(stride, np.int32)
            if t == 0:
                out = row
            elif t == 1:
                out = row - left
            elif t == 2:
                out = row - prev
            elif t == 3:
                out = row - (left + prev) // 2
            else:
                p = left + prev - ul
                pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul)
                )
                out = row - pred
            raw += bytes([t]) + (out % 256).astype(np.uint8).tobytes()
            prev = row
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
        return (
            _PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
        )

    @given(
        st.integers(1, 9),      # width
        st.integers(1, 7),      # height (≥5 exercises all five filters)
        st.sampled_from([1, 3, 4]),
        st.integers(0, 2**32 - 1),
    )
    @settings(max_examples=60, deadline=None)
    def prop(w, h, ch, rngseed):
        rng = np.random.default_rng(rngseed)
        px = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
        got_w, got_h, got_ch, got_px = _png_decode(encode(px))
        assert (got_w, got_h, got_ch) == (w, h, ch)
        assert np.array_equal(got_px, px)

    prop()
    # sanity on the scalar Paeth the decoder's unfilter path uses
    assert _paeth(0, 0, 0) == 0 and _paeth(10, 20, 30) in (10, 20, 30)


def test_bmp_codec_roundtrip_random_pixels():
    """Property: a spec-encoded 24-bit bottom-up BMP with RANDOM pixels
    (4-byte row padding, BGR storage) decodes to the exact RGB array —
    including widths where the stride padding is nonzero."""
    import struct

    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from popelines_spark.llm.multimodal import _bmp_decode

    def encode(px: np.ndarray) -> bytes:
        h, w, _ = px.shape
        stride = (w * 3 + 3) & ~3
        body = b"".join(
            px[r][:, ::-1].tobytes() + b"\x00" * (stride - w * 3)
            for r in range(h - 1, -1, -1)  # bottom-up row order
        )
        filehdr = b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
        dib = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0
        )
        return filehdr + dib + body

    @given(st.integers(1, 9), st.integers(1, 6), st.integers(0, 2**32 - 1))
    @settings(max_examples=40, deadline=None)
    def prop(w, h, rngseed):
        rng = np.random.default_rng(rngseed)
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        got_w, got_h, got_ch, got_px = _bmp_decode(encode(px))
        assert (got_w, got_h, got_ch) == (w, h, 3)
        assert np.array_equal(got_px, px)

    prop()


def test_exact_dedup_keeps_payload_columns(spark):
    """VERDICT r1 #3: every input column must survive dedup — callers must
    not need a re-join to recover their payload."""
    df = _docs(spark).withColumn("meta", F.lit("m")).withColumn(
        "score", F.col("doc_id") * 2
    )
    out = D.exact_dedup(df, keys=["text"], id_col="doc_id")
    assert set(out.columns) == {"doc_id", "text", "meta", "score", "n_copies"}
    survivor = out.filter(F.col("doc_id") == 0).collect()[0]
    assert survivor.meta == "m" and survivor.score == 0 and survivor.n_copies == 2


def test_shingles_short_doc_guard(spark):
    """ADVICE r1: docs with < k tokens must yield an empty shingle set (not
    a sequence(1,0) slice crash), and fingerprint's whole-text MD5 fallback
    must actually fire for them."""
    from popelines_spark.llm.text import fingerprint, shingles

    df = spark.createDataFrame(
        [(1, "one"), (2, "two tokens"), (3, "three token doc")],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: (r.sh, r.fp)
        for r in df.select(
            "doc_id",
            shingles("text", 3).alias("sh"),
            fingerprint("text", 3).alias("fp"),
        ).collect()
    }
    assert rows[1][0] == [] and rows[2][0] == []
    assert rows[3][0] == ["three token doc"]
    assert rows[1][1] is not None  # md5(whole text) fallback
    # minhash over a corpus containing short docs must not crash either
    D.minhash_signatures(df, "doc_id", "text").collect()


def test_ngram_prefix_filter_is_complete(spark):
    """The prefix-filtered candidate join must return EXACTLY the pairs a
    brute-force all-pairs Jaccard finds (threshold-completeness)."""
    df = _docs(spark).withColumn("blk", F.lit(1))
    for thr in (0.3, 0.5, 0.8):
        got = {
            (r.id_a, r.id_b): round(r.jaccard, 9)
            for r in D.ngram_jaccard_pairs(
                df, "doc_id", "text", ["blk"], threshold=thr
            ).collect()
        }
        from popelines_spark.llm.text import shingles as _sh

        base = df.select(
            "doc_id", F.array_distinct(_sh(F.col("text"), 3)).alias("s")
        )
        a = base.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
        b = base.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
        inter = F.size(F.array_intersect("sa", "sb")).cast("double")
        union = F.size("sa") + F.size("sb") - F.size(F.array_intersect("sa", "sb"))
        brute = {
            (r.id_a, r.id_b): round(r.j, 9)
            for r in a.crossJoin(b)
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("j", inter / union.cast("double"))
            .filter(F.col("j") >= thr)
            .collect()
        }
        assert got == brute, f"threshold {thr}: {got.keys() ^ brute.keys()}"


def _random_corpus(spark, seed: int, n_docs: int = 48, vocab: int = 12):
    """Deterministic random corpus built to stress the candidate bounds:
    a small vocabulary forces heavy cross-doc shingle collisions, doc
    lengths vary 5..60 tokens, and a third of the docs are mutations
    (token drops/edits) of earlier docs so true pairs exist at every
    threshold. Pure python stdlib randomness with a fixed seed — the
    corpus is identical on every run."""
    import random

    rng = random.Random(seed)
    words = [f"w{i}" for i in range(vocab)]
    rows = []
    for i in range(n_docs):
        if i >= 2 * n_docs // 3 and rng.random() < 0.8:
            # mutate an earlier doc: drop/replace a few tokens
            base = rows[rng.randrange(len(rows))][1].split()
            for _ in range(rng.randrange(0, 4)):
                if len(base) > 6:
                    base.pop(rng.randrange(len(base)))
            if base and rng.random() < 0.5:
                base[rng.randrange(len(base))] = rng.choice(words)
            toks = base
        else:
            toks = [rng.choice(words) for _ in range(rng.randrange(5, 61))]
        rows.append((i, " ".join(toks)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_match_count_bound_is_complete(spark):
    """r14 property harness (VERDICT r13 next #2): ngram_jaccard_pairs
    must return EXACTLY the brute-force all-pairs result on randomized
    high-collision corpora at every threshold — a false prune silently
    loses qualifying pairs, the failure mode that kept suffix filtering
    out of round 13. This harness gated the r14 match-count-bound
    experiment (built, proven complete, measured 0% pruning on the sf0.1
    corpus, rejected — tools/exp_ngram_match_count.py @ b9babdb) and stays as
    the completeness gate for any future candidate-bound tightening."""
    from popelines_spark.llm.text import shingles as _sh

    for seed in (7, 23):
        df = _random_corpus(spark, seed).withColumn("blk", F.lit(1))
        base = df.select(
            "doc_id", F.array_distinct(_sh(F.col("text"), 3)).alias("s")
        ).filter(F.size("s") > 0)
        a = base.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
        b = base.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
        inter = F.size(F.array_intersect("sa", "sb")).cast("double")
        union = (
            F.size("sa") + F.size("sb") - F.size(F.array_intersect("sa", "sb"))
        )
        for thr in (0.3, 0.5, 0.7):
            got = {
                (r.id_a, r.id_b): round(r.jaccard, 9)
                for r in D.ngram_jaccard_pairs(
                    df, "doc_id", "text", ["blk"], threshold=thr
                ).collect()
            }
            brute = {
                (r.id_a, r.id_b): round(r.j, 9)
                for r in a.crossJoin(b)
                .filter(F.col("id_a") < F.col("id_b"))
                .withColumn("j", inter / union.cast("double"))
                .filter(F.col("j") >= thr)
                .collect()
            }
            assert got == brute, (
                f"seed {seed} thr {thr}: {got.keys() ^ brute.keys()}"
            )


def test_containment_pairs_complete_on_random_corpus(spark):
    """Containment twin of the randomized completeness property: the
    bench-side prefix filter (the only prune the asymmetric path has —
    r14 re-derived that an A-side positional bound is vacuous, see
    OPTIMIZATION_r14.md) must match brute-force containment exactly."""
    from popelines_spark.llm.text import shingles as _sh

    corpus = _random_corpus(spark, 11)
    bench = _random_corpus(spark, 13, n_docs=16).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    sa = bench.select(
        F.col("doc_id").alias("id_a"),
        F.array_distinct(_sh(F.col("text"), 3)).alias("sa"),
    ).filter(F.size("sa") > 0)
    sb = corpus.select(
        F.col("doc_id").alias("id_b"),
        F.array_distinct(_sh(F.col("text"), 3)).alias("sb"),
    ).filter(F.size("sb") > 0)
    for thr in (0.4, 0.6):
        got = {
            (r.id_a, r.id_b): r.containment
            for r in D.containment_pairs(
                bench, corpus, "doc_id", "text", 3, thr
            ).collect()
        }
        brute = {
            (r.id_a, r.id_b): r.c
            for r in sa.crossJoin(sb)
            .withColumn(
                "c",
                F.round(
                    F.size(F.array_intersect("sa", "sb")).cast("double")
                    / F.size("sa").cast("double"),
                    6,
                ),
            )
            .filter(F.col("c") >= thr)
            .collect()
        }
        assert got == brute, f"thr {thr}: {got.keys() ^ brute.keys()}"


def test_connected_components_chain(spark):
    """Min-label propagation must converge past diameter 1: a 4-node chain
    collapses to its min id, disconnected pair keeps its own, singleton
    stays itself."""
    verts = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 10, 11, 99)], "id long")
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    out = {r.id: r.component for r in
           D.connected_components(verts, edges, id_col="id").collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 99}


def test_star_contraction_matches_label_propagation(spark):
    """large-star/small-star contraction returns EXACTLY the same
    components as min-label propagation on random graphs (seeded), and
    solves a diameter-63 chain within its O(log n) round budget — the case
    where propagation's O(diameter) rounds would blow max_iter."""
    import random

    rng = random.Random(7)
    n = 120
    verts = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame(
        [(rng.randrange(n), rng.randrange(n)) for _ in range(90)],
        "id_a long, id_b long",
    ).filter("id_a <> id_b")
    prop = {r.id: r.component for r in
            D.connected_components(verts, edges, id_col="id").collect()}
    star = {r.id: r.component for r in
            D.connected_components_star(verts, edges, id_col="id").collect()}
    assert star == prop

    chain_n = 64
    cverts = spark.createDataFrame([(i,) for i in range(chain_n)], "id long")
    cedges = spark.createDataFrame(
        [(i, i + 1) for i in range(chain_n - 1)], "id_a long, id_b long"
    )
    out = {r.id: r.component for r in
           D.connected_components_star(
               cverts, cedges, id_col="id", max_iter=10
           ).collect()}
    assert out == {i: 0 for i in range(chain_n)}


def test_both_cc_implementations_match_union_find_ground_truth(spark):
    """Property check vs an independent union-find oracle: on several
    seeded random graphs (varying density, with singletons), BOTH
    implementations return exactly min-id-per-component labels."""
    import random

    def union_find_labels(n, edge_list):
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edge_list:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {v: find(v) for v in range(n)}

    for seed, n, m in ((1, 40, 10), (2, 80, 120), (3, 25, 60)):
        rng = random.Random(seed)
        edge_list = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        edge_list = [(a, b) for a, b in edge_list if a != b]
        want = union_find_labels(n, edge_list)
        verts = spark.createDataFrame([(i,) for i in range(n)], "id long")
        edges = spark.createDataFrame(edge_list, "id_a long, id_b long")
        for fn in (D.connected_components, D.connected_components_star):
            got = {r.id: r.component
                   for r in fn(verts, edges, id_col="id").collect()}
            assert got == want, (fn.__name__, seed)


def test_repetition_stats_matches_python_reference(spark):
    """repetition_stats vs a direct Python computation on seeded random
    token sequences (including max-repetition and all-distinct extremes)."""
    import random
    from collections import Counter

    from popelines_spark.llm.text import repetition_stats

    rng = random.Random(11)
    docs = [(0, "a a a a a a"), (1, "b c d e f g")]
    for i in range(2, 30):
        words = [rng.choice("abcdefgh") for _ in range(rng.randint(2, 40))]
        docs.append((i, " ".join(words)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r for r in
           repetition_stats(df, id_col="doc_id", text_col="text").collect()}
    for doc_id, text in docs:
        ws = text.split(" ")
        bgs = [f"{a} {b}" for a, b in zip(ws, ws[1:])]
        wc, bc = Counter(ws), Counter(bgs)
        r = got[doc_id]
        assert r.n_words == len(ws)
        assert r.n_distinct_words == len(wc)
        assert r.dup_word_frac == (len(ws) - len(wc)) / len(ws)
        assert r.top_word_frac == max(wc.values()) / len(ws)
        assert r.top_bigram_frac == max(bc.values()) / len(bgs)


def test_connected_components_raises_when_not_converged(spark):
    """A graph whose diameter exceeds max_iter must RAISE, never return
    mid-propagation labels as if they were final clusters (ADVICE r2)."""
    import pytest

    verts = spark.createDataFrame([(i,) for i in range(8)], "id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(verts, chain, id_col="id", max_iter=2)


def test_exact_dedup_normalize_case_groups_but_preserves_values(spark):
    df = spark.createDataFrame(
        [(1, "Hello World"), (2, "hello world"), (3, "other")],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.text, r.n_copies) for r in D.exact_dedup(
        df, keys=["text"], id_col="doc_id", normalize_case=True).collect()}
    # case-insensitive grouping, survivor keeps its ORIGINAL casing
    assert out == {1: ("Hello World", 2), 3: ("other", 1)}


def test_assign_split_group_constant_and_append_stable(spark):
    from popelines_spark.llm.split import assign_split

    rows = [(i, f"site_{i % 7}") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = assign_split(df, group_col="source", id_col="doc_id")
    # leakage safety: every group maps to exactly ONE split
    per_group = out.groupBy("source").agg(
        F.countDistinct("split").alias("k")
    ).collect()
    assert all(r.k == 1 for r in per_group)
    # append stability: adding rows with LARGER ids (the only way ingest
    # grows a domain) never moves an existing group's split — min(id)
    # anchors are unchanged
    grown = spark.createDataFrame(
        rows + [(1000 + i, f"site_{i % 7}") for i in range(50)],
        "doc_id long, source string",
    )
    before = {r.source: r.split for r in
              assign_split(df, "source", "doc_id")
              .select("source", "split").distinct().collect()}
    after = {r.source: r.split for r in
             assign_split(grown, "source", "doc_id")
             .select("source", "split").distinct().collect()}
    assert before == after


def test_assign_split_custom_fractions_order(spark):
    from popelines_spark.llm.split import assign_split

    df = spark.createDataFrame(
        [(i, f"g{i}") for i in range(200)], "doc_id long, source string"
    )
    out = assign_split(
        df, "source", "doc_id", fractions={"a": 0.5, "b": 0.5}
    )
    counts = {r.split: r.cnt for r in out.groupBy("split")
              .agg(F.count("*").alias("cnt")).collect()}
    # fractions cover the whole hash range: no row falls to 'holdout',
    # and both named splits are hit on 200 distinct groups
    assert set(counts) == {"a", "b"}


def test_lsh_index_probe_matches_on_the_fly(spark, tmp_path):
    """The at-rest bucket-partitioned index must return bit-identical
    results to the on-the-fly knn_lsh at the same planes/salt — the
    recall-invariant thresholds in ext_similarity assume this."""
    from popelines_spark.llm.similarity import (
        build_lsh_index, knn_lsh, load_lsh_index, probe_lsh_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
    )
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    path = str(tmp_path / "lsh")
    build_lsh_index(corpus, "c_vec", "neighbor_id", path, n_planes=4, dim=64)
    probed = probe_lsh_index(load_lsh_index(spark, path), queries, k=5)
    direct = knn_lsh(
        queries, corpus, k=5, c_id="neighbor_id", n_planes=4, dim=64
    )
    a = sorted(map(tuple, probed.select("q_id", "rank", "neighbor_id").collect()))
    b = sorted(map(tuple, direct.select("q_id", "rank", "neighbor_id").collect()))
    assert a == b and a
