"""Property-based checks for the approximate LLM-data operators
(SURVEY.md §5.2-6): recall on planted near-duplicates (MinHash,
SimHash) and LSH top-k recall vs the exact brute-force baseline."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from end_to_end_mlops_airflow_cloudformation_great_expectations_spark import catalog
from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.operators import (
    dedup,
    ledger,
    multimodal,
    similarity,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def planted_docs(spark):
    """50 base docs + a lightly-mutated near-duplicate of each
    (~10% of words replaced) under doc_id+100000."""
    base = (
        catalog.load(spark, SF_DIR, "documents")
        .filter(F.col("doc_id") < 50)
        .select("doc_id", "text")
        .collect()
    )
    rng = random.Random(7)
    mutated = []
    for r in base:
        ws = r["text"].split()
        for _ in range(max(1, len(ws) // 10)):
            ws[rng.randrange(len(ws))] = "zzz"
        mutated.append((r["doc_id"] + 100000, " ".join(ws)))
    all_rows = [(r["doc_id"], r["text"]) for r in base] + mutated
    return spark.createDataFrame(all_rows, "doc_id long, text string")


def test_minhash_recall_on_planted(planted_docs):
    pairs = dedup.minhash_neardup_pairs(planted_docs, threshold=0.5).collect()
    found = {(p["id_a"], p["id_b"]) for p in pairs}
    planted = {(i, i + 100000) for i in range(50)}
    recall = len(found & planted) / len(planted)
    # every found pair must verify with jaccard >= threshold (precision
    # is exact by construction — Jaccard is recomputed exactly)
    assert all(p["jaccard"] >= 0.5 for p in pairs)
    assert recall >= 0.8, f"minhash recall {recall}"


def test_minhash_dedup_drops_planted(planted_docs):
    kept = dedup.minhash_dedup(planted_docs, threshold=0.5)
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    # most mutated copies dropped (note: some ORIGINALS may also drop —
    # the word-soup corpus contains genuine near-dups among the base
    # docs, and single-link keeps only min-id representatives)
    dropped_mutants = sum(1 for i in range(50) if i + 100000 not in kept_ids)
    assert dropped_mutants >= 40
    # no planted pair survives intact
    both_alive = sum(
        1 for i in range(50) if i in kept_ids and i + 100000 in kept_ids
    )
    assert both_alive <= 10


def test_connected_components_on_planted_chains(spark):
    """Chains (1-2-3-4-5), (10-11-12), a clique, and singleton pairs
    must each collapse to exactly their min-id label — the fixed-point
    guarantee single-link one-hop lacks (VERDICT r01 item 5)."""
    pairs = spark.createDataFrame(
        [
            # chain of 5 (diameter 4 — needs >1 propagation round)
            (1, 2), (2, 3), (3, 4), (4, 5),
            # chain of 3, reversed orientation
            (12, 11), (11, 10),
            # triangle
            (20, 21), (21, 22), (20, 22),
            # isolated pair
            (30, 31),
        ],
        "id_a long, id_b long",
    )
    comp = {
        r["id"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert comp == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20, 22: 20,
        30: 30, 31: 30,
    }


def test_minhash_dedup_transitive_collapses_chain(spark):
    """A≈B≈C with A≉C: build a 3-chain by overlapping halves. The
    transitive dedup keeps exactly one representative of the chain;
    the one-hop default can be verified against the pair list."""
    words = [f"w{i}" for i in range(40)]
    a = " ".join(words[0:20])
    b = " ".join(words[6:26])   # j(a,b)=14/26≈0.54, j(b,c)≈0.54
    c = " ".join(words[12:32])  # j(a,c)=8/32=0.25 < threshold: not a pair
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    # bands=16×2 rows ⇒ S-curve threshold (1/16)^(1/2)=0.25, low enough
    # to catch the 0.54-Jaccard links (the default 8×4 ⇒ 0.59 misses
    # them); everything is deterministic (fixed hash family).
    kw = dict(
        threshold=0.3,
        bands=16,
        shingle_fn=lambda col: dedup.word_ngrams(col, 1),
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_neardup_pairs(docs, **kw).collect()
    }
    assert (1, 2) in pairs and (2, 3) in pairs and (1, 3) not in pairs
    kept = sorted(
        r["doc_id"]
        for r in dedup.minhash_dedup(docs, transitive=True, **kw).collect()
    )
    assert kept == [1]


def test_embedding_dedup_transitive(spark):
    """Semantic dedup closes cosine chains: v1≈v2≈v3 (adjacent ~0.98,
    ends ~0.92 < threshold) collapses to the min-id representative."""
    import math

    def unit(theta):
        return [math.cos(theta), math.sin(theta), 0.0, 0.0]

    rows = [
        (1, "x", unit(0.00)),
        (2, "x", unit(0.18)),  # cos≈0.984 to v1
        (3, "x", unit(0.36)),  # cos≈0.984 to v2, 0.936 to v1
        (9, "x", unit(1.40)),  # far from everything
        (10, "y", unit(0.00)),  # other block: kept (blocks don't mix)
    ]
    e = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    )
    kept = sorted(
        r["vec_id"]
        for r in similarity.embedding_dedup(
            e, block_col="label", threshold=0.95
        ).collect()
    )
    assert kept == [1, 9, 10]


def test_simhash_finds_planted_neardups(planted_docs):
    pairs = dedup.simhash_neardup_pairs(
        planted_docs, max_hamming=12, n_chunks=8
    ).collect()
    found = {(p["id_a"], p["id_b"]) for p in pairs}
    planted = {(i, i + 100000) for i in range(50)}
    recall = len(found & planted) / len(planted)
    assert recall >= 0.5, f"simhash recall {recall}"


def test_lsh_topk_recall_vs_bruteforce(spark):
    e = catalog.load(spark, SF_DIR, "embeddings")
    q = e.filter(F.col("vec_id") < 20).withColumnRenamed("vec_id", "query_id")
    exact = similarity.brute_force_topk(q, e, k=5).collect()
    approx = similarity.lsh_topk(q, e, dim=64, k=5, n_planes=4, n_tables=16).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # measured on this 2k-vector fixture: 6 planes × 8 tables → 0.25,
    # 6×16 → 0.51, 4×16 → 0.91. Plane count must scale with
    # log(corpus/target_bucket); 4 planes fits this corpus, and the
    # 0.7 floor fails under any broken bucketing while leaving seed
    # headroom.
    print(f"LSH top-5 recall vs brute force: {recall:.3f}")
    assert recall >= 0.7, f"lsh recall collapsed: {recall}"


def test_ivf_topk_recall_vs_bruteforce(spark):
    e = catalog.load(spark, SF_DIR, "embeddings")
    q = e.filter(F.col("vec_id") < 20).withColumnRenamed("vec_id", "query_id")
    exact = similarity.brute_force_topk(q, e, k=5).collect()
    approx = similarity.ivf_topk(
        q, e, k=5, n_centroids=8, n_probe=6
    ).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # measured on this fixture: n_probe 1→0.45, 3→0.64, 6→0.91, 8→1.0.
    # The 0.8 floor at n_probe=6 fails under a broken probe count (a
    # regression to single-cell probing scores 0.45) while leaving
    # headroom for kmeans seed jitter.
    print(f"IVF top-5 recall vs brute force (8 cells, 6 probes): {recall:.3f}")
    assert recall >= 0.8, f"ivf recall collapsed: {recall}"


def test_real_decoder_seam_raises_without_codecs():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image_real(b"\x89PNG\r\n")


def test_simhash_signatures_match_expression_form(spark):
    """The codegen'd explode→sum formulation must be bit-identical to
    the per-row expression form (same token hash, same sign rule,
    same bit packing)."""
    docs = (
        catalog.load(spark, SF_DIR, "documents")
        .limit(200)
        .select("doc_id", "text")
    )
    expr = docs.select("doc_id", dedup.simhash(F.col("text")).alias("sig"))
    fast = dedup.simhash_signatures(docs)
    assert expr.exceptAll(fast).count() == 0
    assert fast.exceptAll(expr).count() == 0


def test_simhash_signatures_zero_token_doc(spark):
    """Docs with no tokens (dropped by explode) must re-enter with the
    empty signature 0, matching the expression form."""
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "   "), (3, "")], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r["sig"]
        for r in dedup.simhash_signatures(docs).collect()
    }
    assert set(rows) == {1, 2, 3}
    assert rows[2] == 0 and rows[3] == 0


def test_wav_roundtrip_and_malformed():
    """parse_wav genuinely reads bytes: roundtrip matches the builder's
    parameters, and corrupt payloads raise instead of guessing."""
    payload = multimodal._build_wav(5, b"0123456789abcdef")
    meta = multimodal.parse_wav(payload)
    assert meta["channels"] == 1 + 5 % 2
    assert meta["sample_rate"] == 8000 * (1 + 5 % 3)
    assert meta["data_len"] == 16
    with pytest.raises(ValueError):
        multimodal.parse_wav(b"RIFXjunk")
    with pytest.raises(ValueError):
        multimodal.parse_wav(payload[:8])  # truncated header
    # valid RIFF wrapper but no fmt/data chunks
    with pytest.raises(ValueError):
        multimodal.parse_wav(b"RIFF\x04\x00\x00\x00WAVE")


def test_minhash_estimator_tracks_jaccard(spark):
    """Pin the hash-family property itself: the fraction of agreeing
    signature positions must approximate true Jaccard pairwise. A
    degenerate permutation family (e.g. an affine family whose a*x
    never wraps its modulus — monotone in x, so every permutation
    selects the same shingle) still passes planted-dup recall but
    fails this: agreement collapses to 0/1 regardless of Jaccard."""
    docs = (
        catalog.load(spark, SF_DIR, "documents")
        .limit(150)
        .select("doc_id", "text")
    )
    hs = docs.select(
        "doc_id",
        dedup.hashed_shingles(dedup.word_ngrams(F.col("text"), 3)).alias("sh"),
    ).persist()
    sig = hs.select(
        "doc_id", dedup.minhash_signature(F.col("sh"), 32).alias("sig"), "sh"
    )
    a = sig.selectExpr("doc_id id_a", "sig sig_a", "sh sh_a")
    b = sig.selectExpr("doc_id id_b", "sig sig_b", "sh sh_b")
    row = (
        a.crossJoin(b)
        .filter("id_a < id_b")
        .select(
            (
                F.aggregate(
                    F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                    F.lit(0),
                    lambda acc, v: acc + v,
                )
                / 32.0
            ).alias("est"),
            dedup.jaccard(F.col("sh_a"), F.col("sh_b")).alias("true_j"),
        )
        .agg(
            F.avg(F.abs(F.col("est") - F.col("true_j"))).alias("mae"),
            F.max(F.abs(F.col("est") - F.col("true_j"))).alias("maxae"),
        )
        .collect()[0]
    )
    hs.unpersist()
    # 32 permutations ⇒ per-pair stderr ≈ sqrt(j(1-j)/32) ≤ 0.09; the
    # degenerate family produces maxae ≈ 1 on any corpus with partial
    # overlaps
    assert row["mae"] < 0.02, row
    assert row["maxae"] < 0.5, row


def test_bmp_parser_rejects_malformed_bytes():
    with pytest.raises(ValueError):
        multimodal.parse_bmp(b"not a bmp at all")
    with pytest.raises(ValueError):
        multimodal.parse_bmp(b"BM" + b"\x00" * 20)  # truncated header
    # valid build parses back and honors bottom-up row order
    raw = multimodal._build_bmp(7)
    meta = multimodal.parse_bmp(raw)
    assert meta["width"] == 4 + 7 % 13 and meta["height"] == 3 + 7 % 7
    stride = meta["row_stride"]
    j0 = (meta["height"] - 1) * stride
    assert meta["px_tl_b"] == (7 * 7 + j0 * 13) % 256


def test_png_roundtrip_and_rejects_malformed_bytes():
    """Stdlib PNG decode: inflate + all-five-filter unfilter recovers
    the deterministic fill; CRC, signature, and chunk bounds are
    actually enforced."""
    with pytest.raises(ValueError):
        multimodal.parse_png(b"not a png")
    raw = multimodal._build_png(11)
    meta = multimodal.parse_png(raw)
    w, h = 4 + 11 % 13, 3 + 11 % 7
    assert (meta["width"], meta["height"]) == (w, h)
    assert meta["px_tl_r"] == (11 * 7) % 256
    jbr = w * h * 3 - 3
    assert meta["px_br_r"] == (11 * 7 + jbr * 13) % 256
    # flip one IDAT byte: CRC check must fire
    idat_at = raw.index(b"IDAT") + 4
    corrupted = (
        raw[:idat_at] + bytes([raw[idat_at] ^ 0xFF]) + raw[idat_at + 1 :]
    )
    with pytest.raises(ValueError):
        multimodal.parse_png(corrupted)
    # bogus chunk length must not escape as struct/index errors
    with pytest.raises(ValueError):
        multimodal.parse_png(raw[:8] + b"\xff\xff\xff\xff" + raw[12:])


def test_minhash_pairs_invariant_under_partitioning(spark):
    """The LSH candidate/verify pipeline must return the SAME pair set
    regardless of input partitioning — shingle hashing, min-agg
    signatures, band bucketing, and the Jaccard verify are all
    deterministic per-row/per-group computations, so partition count
    must not leak into results."""
    docs = catalog.load(spark, SF_DIR, "documents").select("doc_id", "text")
    a = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_neardup_pairs(docs.repartition(2)).collect()
    }
    b = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_neardup_pairs(docs.repartition(17)).collect()
    }
    assert a == b and len(a) > 0


def test_pq_topk_recall_vs_bruteforce(spark):
    e = catalog.load(spark, SF_DIR, "embeddings")
    q = e.filter(F.col("vec_id") < 20).withColumnRenamed("vec_id", "query_id")
    exact = similarity.brute_force_topk(q, e, k=5).collect()
    approx = similarity.pq_topk(
        q, e, k=5, m=8, n_codes=16, rerank=100
    ).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # measured on this 500-vector fixture: rerank 20→0.56, 50→0.77,
    # 100→0.92. The 0.8 floor at rerank=100 fails if the ADC ranking
    # degrades toward random (which scores ~rerank/corpus = 0.2) while
    # leaving codebook-seed headroom.
    print(f"PQ top-5 recall vs brute force (m=8, rerank=100): {recall:.3f}")
    assert recall >= 0.8, f"pq recall collapsed: {recall}"


def test_ivfpq_topk_recall_vs_bruteforce(spark):
    e = catalog.load(spark, SF_DIR, "embeddings")
    q = e.filter(F.col("vec_id") < 20).withColumnRenamed("vec_id", "query_id")
    exact = similarity.brute_force_topk(q, e, k=5).collect()
    approx = similarity.ivfpq_topk(
        q, e, k=5, n_centroids=8, n_probe=6, rerank=100
    ).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # measured on this fixture: (probe,rerank) (4,50)→0.63, (6,50)→0.72,
    # (6,100)→0.84, (8,100)→0.93 (= the PQ-only ceiling, as expected
    # when every cell is probed). The 0.75 floor at (6,100) fails under
    # broken cell routing while leaving seed headroom.
    print(f"IVFPQ top-5 recall (8 cells, 6 probes, rerank=100): {recall:.3f}")
    assert recall >= 0.75, f"ivfpq recall collapsed: {recall}"


def test_random_projection_preserves_distances(spark):
    """JL lemma in practice: 64d → 16d Gaussian projection keeps
    pairwise squared distances within a modest distortion band on
    average, and is seed-deterministic across invocations."""
    import itertools

    import numpy as np

    e = catalog.load(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 60)
    orig = {
        r["vec_id"]: np.array(r["embedding"], dtype="float64")
        for r in e.collect()
    }
    proj1 = {
        r["vec_id"]: np.array(r["proj"])
        for r in similarity.random_projection(e, out_dim=16).collect()
    }
    proj2 = {
        r["vec_id"]: np.array(r["proj"])
        for r in similarity.random_projection(e, out_dim=16).collect()
    }
    for k in proj1:
        assert np.allclose(proj1[k], proj2[k])  # determinism
    ratios = []
    ids = sorted(orig)
    for a, b in itertools.combinations(ids[:30], 2):
        d0 = float(((orig[a] - orig[b]) ** 2).sum())
        d1 = float(((proj1[a] - proj1[b]) ** 2).sum())
        if d0 > 0:
            ratios.append(d1 / d0)
    mean_ratio = sum(ratios) / len(ratios)
    # E[ratio]=1; at out_dim=16 individual pairs fluctuate (std
    # ~sqrt(2/16)≈0.35) but the mean over 435 pairs concentrates
    assert 0.8 <= mean_ratio <= 1.2, mean_ratio
    assert all(0.2 <= r <= 3.0 for r in ratios), (min(ratios), max(ratios))


def test_resize_nearest_matches_reference():
    """Nearest-neighbor resize must sample src[(y*h)//H][(x*w)//W] per
    channel — checked against an index-by-index python reference on an
    uneven (5x3 -> 2x2) grid where rounding conventions diverge."""
    import numpy as np

    w, h = 5, 3
    recon = np.arange(h * w * 3).reshape(h, w * 3)
    out = multimodal.resize_nearest(recon, w, 2, 2)
    for y in range(2):
        for x in range(2):
            sy, sx = (y * h) // 2, (x * w) // 2
            for c in range(3):
                assert out[y, x * 3 + c] == recon[sy, sx * 3 + c]


def test_arrow_sq_norm_handles_sliced_batches():
    """The mapInArrow kernel must pair values with rows via REBASED
    offsets: a sliced ListArray keeps raw offsets into the unsliced
    child while flatten() rebases (r02 ADVICE). Feed the generator a
    batch built from sliced arrays and check the sums."""
    import pyarrow as pa

    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.operators import (
        udfs,
    )

    ids = pa.array([10, 11], type=pa.int64())
    vecs = pa.array(
        [[1.0, 2.0], [3.0, 4.0], [5.0, 6.0], [7.0, 8.0]]
    ).slice(1, 2)  # rows [3,4] and [5,6]; raw offsets start at 2
    batch = pa.RecordBatch.from_arrays([ids, vecs], ["vec_id", "embedding"])

    class _FakeDF:
        def select(self, *_):
            return self

        def mapInArrow(self, fn, _schema):
            return list(fn(iter([batch])))

    (out,) = udfs.arrow_sq_norm(_FakeDF())
    assert out.column(0).to_pylist() == [10, 11]
    assert out.column(1).to_pylist() == [25.0, 61.0]  # 9+16, 25+36


def test_meta_frame_empty_batch_keeps_schema_columns():
    """An empty Arrow batch (possible under AQE repartitioning) must
    still yield every schema column — pd.DataFrame([]) alone would
    produce a doc_id-only frame and break serialization (the
    png_thumbnail hazard fixed in commit 827ea58, applied uniformly)."""
    import numpy as np

    for ddl in (
        multimodal.WAV_META_SCHEMA,
        multimodal.BMP_META_SCHEMA,
        multimodal.PNG_META_SCHEMA,
    ):
        cols = [f.strip().split()[0] for f in ddl.split(",")]
        out = multimodal._meta_frame([], np.array([], dtype="int64"), ddl)
        assert list(out.columns) == cols
        assert len(out) == 0
        # and the non-empty path is unchanged
        meta = {c: 1 for c in cols[1:]}
        out = multimodal._meta_frame([meta], np.array([7]), ddl)
        assert list(out.columns) == cols and out["doc_id"].tolist() == [7]


def test_jpeg_roundtrip_and_rejects_malformed():
    """From-scratch baseline JPEG codec (operators/jpeg.py, SURVEY
    §2.11 round-4 note): grayscale flat 8×8 blocks survive
    encode→decode PIXEL-EXACT at q=1 (constant blocks have an
    integer-valued DC and zero AC, so quantization is lossless);
    arbitrary RGB content stays within ±2 (YCbCr + coefficient
    rounding); non-baseline/malformed inputs raise."""
    import numpy as np

    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.operators import (
        jpeg,
    )

    img = np.zeros((16, 16), dtype=np.uint8)
    img[:8, :8], img[:8, 8:], img[8:, :8], img[8:, 8:] = 50, 200, 130, 17
    w, h, nc, px = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quant=1))
    assert (w, h, nc) == (16, 16, 1)
    assert np.array_equal(px, img)

    rng = np.random.default_rng(7)
    img3 = rng.integers(0, 256, (24, 32, 3), dtype=np.uint8)
    w, h, nc, px3 = jpeg.decode_jpeg(jpeg.encode_jpeg(img3, quant=1))
    assert (w, h, nc) == (32, 24, 3)
    assert np.abs(px3.astype(int) - img3.astype(int)).max() <= 2

    # a real quant table still decodes with bounded error on a ramp
    yy, xx = np.mgrid[0:16, 0:16]
    smooth = (100 + 3 * yy + 2 * xx).astype(np.uint8)
    _, _, _, pxq = jpeg.decode_jpeg(
        jpeg.encode_jpeg(smooth, quant=np.full((8, 8), 8))
    )
    assert np.abs(pxq.astype(int) - smooth.astype(int)).max() <= 4

    import pytest as _pytest

    with _pytest.raises(ValueError):
        jpeg.decode_jpeg(b"\x00\x00not a jpeg")
    good = jpeg.encode_jpeg(img, quant=1)
    with _pytest.raises(ValueError):
        jpeg.decode_jpeg(good[:40])  # truncated: no SOS/EOI
    # progressive SOF2 must raise, not mis-decode
    bad = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with _pytest.raises(ValueError):
        jpeg.decode_jpeg(bad)


def test_jpeg_metadata_spark_plumbing(spark):
    """jpeg_metadata end-to-end through Arrow mapInPandas: per-doc
    synthesized JPEG → full decode → corner pixels match the fixture
    quadrant colors within codec tolerance (±2)."""
    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.operators import (
        jpeg,
    )

    docs = spark.range(1, 9).withColumnRenamed("id", "doc_id")
    rows = {r["doc_id"]: r for r in jpeg.jpeg_metadata(docs).collect()}
    assert len(rows) == 8
    for d, r in rows.items():
        assert (r["width"], r["height"], r["n_components"]) == (16, 16, 3)
        tl = ((d * 37) % 200 + 20, (d * 59) % 200 + 20, (d * 83) % 200 + 20)
        br = ((d * 101) % 200 + 20, (d * 131) % 200 + 20, (d * 151) % 200 + 20)
        got_tl = (r["px_tl_r"], r["px_tl_g"], r["px_tl_b"])
        got_br = (r["px_br_r"], r["px_br_g"], r["px_br_b"])
        assert all(abs(a - b) <= 2 for a, b in zip(got_tl, tl)), (d, got_tl, tl)
        assert all(abs(a - b) <= 2 for a, b in zip(got_br, br)), (d, got_br, br)


def test_cosine_neardup_arrow_matches_expression_form(spark):
    """The blockwise-matmul pair finder must produce the SAME pair set
    as the 6-dp oracle-checked expression form on real fixture data
    (values can differ in the last ulp; membership at a non-borderline
    threshold must not)."""
    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark import (
        catalog,
    )
    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.operators import (
        similarity,
    )

    emb = catalog.load(spark, "/root/testdata/sf0.01", "embeddings")
    kw = dict(block_col="label", threshold=0.35)
    expr = {
        (r["id_a"], r["id_b"])
        for r in similarity.cosine_neardup_pairs(emb, **kw).collect()
    }
    arrow = {
        (r["id_a"], r["id_b"])
        for r in similarity.cosine_neardup_pairs_arrow(emb, **kw).collect()
    }
    assert expr, "fixture produced no pairs — test is vacuous"
    assert arrow == expr
    # chunking must not change membership (exercise the tile seam)
    small = {
        (r["id_a"], r["id_b"])
        for r in similarity.cosine_neardup_pairs_arrow(
            emb, chunk_rows=7, **kw
        ).collect()
    }
    assert small == expr


def test_ivf_persisted_index_search_equals_direct(spark, tmp_path):
    """Index RELOCATION must not change the answer: build the IVF
    index to disk (cell-partitioned postings + centroid table), then
    a fit-free search over the persisted index must return exactly
    the rows ivf_topk computes in one shot with the same build
    parameters — and the on-disk layout must be cell-partitioned so
    probing prunes at the file level."""
    import os

    base = str(tmp_path / "ivf_index")
    e = catalog.load(spark, SF_DIR, "embeddings")
    similarity.ivf_index_build(e, base, n_centroids=8)

    # cell-partitioned layout on disk = file-level probe pruning
    postings = os.path.join(ledger.current(base), "postings")
    cells = [d for d in os.listdir(postings) if d.startswith("cell=")]
    assert len(cells) == 8

    q = e.filter(F.col("vec_id") < 20).withColumnRenamed("vec_id", "query_id")
    direct = similarity.ivf_topk(q, e, k=5, n_centroids=8, n_probe=6)
    persisted = similarity.ivf_index_search(
        q, base, k=5, n_probe=6, query_id="query_id"
    )
    want = sorted(tuple(r) for r in direct.collect())
    got = sorted(tuple(r) for r in persisted.collect())
    assert got == want and len(got) > 0


def test_ivf_index_streaming_append_matches_single_shot(spark, tmp_path):
    """Incremental index maintenance: building the IVF index on half
    the corpus and streaming the other half through ivf_index_append
    in two micro-batches must leave exactly the postings a single
    append of the same rows produces — and the search must see every
    appended vector (cell counts match a numpy replay of the stored-
    centroid assignment; replayed batch ids are no-ops)."""
    import os

    import numpy as np

    e = catalog.load(spark, SF_DIR, "embeddings")
    first = e.filter(F.col("vec_id") % 2 == 0)
    rest = e.filter(F.col("vec_id") % 2 == 1)
    base = str(tmp_path / "ivf_inc")
    similarity.ivf_index_build(first, base, n_centroids=8)

    def postings_rows(df):
        return df.select(
            F.col("vec_id").alias("neighbor_id"),
            similarity._as_double(F.col("embedding")).alias("cv"),
        )

    sink = similarity.ivf_index_append(base)
    r = postings_rows(rest)
    b0 = r.filter(F.col("neighbor_id") % 4 == 1)
    b1 = r.filter(F.col("neighbor_id") % 4 == 3)
    sink(b0, 0)
    sink(b1, 1)
    sink(b0, 0)  # replay: must be a no-op

    # single-shot twin
    twin = str(tmp_path / "ivf_one")
    similarity.ivf_index_build(first, twin, n_centroids=8)
    similarity.ivf_index_append(twin)(r, 0)

    q = e.filter(F.col("vec_id") < 20).withColumnRenamed("vec_id", "query_id")
    got = sorted(
        tuple(x)
        for x in similarity.ivf_index_search(
            q, base, k=5, n_probe=6, query_id="query_id"
        ).collect()
    )
    want = sorted(
        tuple(x)
        for x in similarity.ivf_index_search(
            q, twin, k=5, n_probe=6, query_id="query_id"
        ).collect()
    )
    assert got == want and len(got) > 0

    # appended postings == numpy assignment with the STORED centroids
    root = ledger.current(base)
    cent = spark.read.parquet(f"{root}/centroids").orderBy("cell").collect()
    C = np.array([x["centroid"] for x in cent])
    rest_rows = rest.select("vec_id", "embedding").collect()
    expected = {}
    for row in rest_rows:
        x = np.array(row.embedding, dtype="float64")
        cell = int(((C - x) ** 2).sum(axis=1).argmin())
        expected[cell] = expected.get(cell, 0) + 1
    delta_root = os.path.join(root, "delta")
    got_counts = {}
    for d in os.listdir(delta_root):
        for x in spark.read.parquet(
            os.path.join(delta_root, d, "postings")
        ).groupBy("cell").count().collect():
            got_counts[x.cell] = got_counts.get(x.cell, 0) + x["count"]
    assert got_counts == expected


def test_ivf_index_compaction_preserves_search(spark, tmp_path):
    """Folding deltas into the base layout must not change a single
    search row, and must leave no delta directories behind."""
    import os

    e = catalog.load(spark, SF_DIR, "embeddings")
    base = str(tmp_path / "ivf_cpt")
    similarity.ivf_index_build(e.filter(F.col("vec_id") % 2 == 0), base, n_centroids=8)
    rest = e.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("neighbor_id"),
        similarity._as_double(F.col("embedding")).alias("cv"),
    )
    similarity.ivf_index_append(base)(rest, 0)

    q = e.filter(F.col("vec_id") < 20).withColumnRenamed("vec_id", "query_id")
    before = sorted(
        tuple(x)
        for x in similarity.ivf_index_search(
            q, base, k=5, n_probe=6, query_id="query_id"
        ).collect()
    )
    similarity.ivf_index_compact(spark, base)
    assert not os.path.isdir(os.path.join(ledger.current(base), "delta"))
    after = sorted(
        tuple(x)
        for x in similarity.ivf_index_search(
            q, base, k=5, n_probe=6, query_id="query_id"
        ).collect()
    )
    assert after == before and len(after) > 0


def test_ivf_append_replay_after_compaction_is_noop(spark, tmp_path):
    """Compaction must not forget which batches were folded: replaying
    an already-compacted batch_id appends nothing (the tombstone
    ledger), so postings counts stay exact."""
    e = catalog.load(spark, SF_DIR, "embeddings")
    base = str(tmp_path / "ivf_tomb")
    similarity.ivf_index_build(e.filter(F.col("vec_id") % 2 == 0), base, n_centroids=8)
    rest = e.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("neighbor_id"),
        similarity._as_double(F.col("embedding")).alias("cv"),
    )
    sink = similarity.ivf_index_append(base)
    sink(rest, 0)
    similarity.ivf_index_compact(spark, base)
    root = ledger.current(base)
    n = spark.read.parquet(f"{root}/postings").count()
    assert n == e.count()
    sink(rest, 0)  # replay AFTER compaction: must be a no-op
    import os

    assert not os.path.isdir(os.path.join(root, "delta"))
    assert spark.read.parquet(f"{root}/postings").count() == n


def test_ivf_index_search_plan_prunes_partitions(spark, tmp_path):
    """The docstring's economics made checkable: the probed-cell join
    must reach the postings scan as DYNAMIC PARTITION PRUNING, so a
    search reads only probed cells' files."""
    base = str(tmp_path / "ivf_dpp")
    e = catalog.load(spark, SF_DIR, "embeddings")
    similarity.ivf_index_build(e, base, n_centroids=8)
    q = e.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    df = similarity.ivf_index_search(q, base, k=5, n_probe=2, query_id="query_id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()


def test_ivf_rejects_empty_cell_count_before_touching_the_index(
    spark, tmp_path
):
    """n_centroids < 1 is refused at entry: a rebuild with it must not
    overwrite the existing index (with no Lloyd round to fail first,
    it used to reach the overwrite and fail inside an executor), and
    the one-shot operators refuse it too."""
    base = str(tmp_path / "ivf_guard")
    e = catalog.load(spark, SF_DIR, "embeddings")
    similarity.ivf_index_build(e, base, n_centroids=8)
    q = e.filter(F.col("vec_id") < 20).withColumnRenamed("vec_id", "query_id")
    before = _search_rows(spark, q, base)
    with pytest.raises(ValueError, match="n_centroids"):
        similarity.ivf_index_build(e, base, n_centroids=0, max_iter=0)
    assert _search_rows(spark, q, base) == before and before
    for op in (similarity.ivf_topk, similarity.ivfpq_topk):
        with pytest.raises(ValueError, match="n_centroids"):
            op(q, e, n_centroids=0)


def _ivf_crash_fixture(spark, tmp_path, name):
    """Build a half-corpus index + one appended delta batch; return
    (base_dir, query_df, truth) where truth = search rows that every
    crash-recovery path must reproduce exactly."""
    e = catalog.load(spark, SF_DIR, "embeddings")
    base = str(tmp_path / name)
    similarity.ivf_index_build(
        e.filter(F.col("vec_id") % 2 == 0), base, n_centroids=8
    )
    rest = e.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("neighbor_id"),
        similarity._as_double(F.col("embedding")).alias("cv"),
    )
    similarity.ivf_index_append(base)(rest, 0)
    q = e.filter(F.col("vec_id") < 20).withColumnRenamed("vec_id", "query_id")
    truth = sorted(
        tuple(x)
        for x in similarity.ivf_index_search(
            q, base, k=5, n_probe=6, query_id="query_id"
        ).collect()
    )
    assert truth
    return base, q, truth


def _search_rows(spark, q, base):
    return sorted(
        tuple(x)
        for x in similarity.ivf_index_search(
            q, base, k=5, n_probe=6, query_id="query_id"
        ).collect()
    )


def test_ivf_append_partial_delta_is_redone(spark, tmp_path):
    """ADVICE r05: a crash mid-write leaves a delta directory WITHOUT
    _SUCCESS; the replayed batch must re-apply (delete + rewrite), not
    no-op — otherwise those vectors silently vanish from the index."""
    import os

    e = catalog.load(spark, SF_DIR, "embeddings")
    base = str(tmp_path / "ivf_partial")
    similarity.ivf_index_build(
        e.filter(F.col("vec_id") % 2 == 0), base, n_centroids=8
    )
    rest = e.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("neighbor_id"),
        similarity._as_double(F.col("embedding")).alias("cv"),
    )
    sink = similarity.ivf_index_append(base)
    sink(rest, 0)
    delta = os.path.join(ledger.current(base), "delta", "b0")
    # simulate the crash: strip the commit marker, truncate contents
    os.remove(os.path.join(delta, "_SUCCESS"))
    written = os.path.join(delta, "postings")
    for f in os.listdir(written):
        if f.startswith("part-"):
            os.remove(os.path.join(written, f))
    # partial deltas are invisible to search (aborted write)...
    q = e.filter(F.col("vec_id") < 20).withColumnRenamed("vec_id", "query_id")
    half_only = _search_rows(spark, q, base)
    # ...and the replay re-applies instead of no-opping
    sink(rest, 0)
    assert os.path.exists(os.path.join(delta, "_SUCCESS"))
    full = _search_rows(spark, q, base)
    assert full != half_only
    appended = spark.read.parquet(written).count()
    assert appended == rest.count()


def test_ivf_compact_precommit_crash_rolls_back(spark, tmp_path):
    """Crash AFTER postings_new materialized but BEFORE the ledger
    commit point: search must treat the base+delta state as
    authoritative WITHOUT mutating the directory (ADVICE r06 — a
    search racing a live compactor must not delete its in-flight
    postings_new); the compactor's own recovery rolls back, and a
    re-run compact converges to the folded layout exactly once."""
    import os
    import shutil

    base, q, truth = _ivf_crash_fixture(spark, tmp_path, "ivf_precommit")
    # manufacture the pre-commit crash state: a fully-materialized
    # postings_new (with _FOLDED manifest) but NO ledger entry
    twin = str(tmp_path / "ivf_precommit_twin")
    shutil.copytree(base, twin)
    similarity.ivf_index_compact(spark, twin)
    root = ledger.current(base)
    shutil.copytree(
        os.path.join(ledger.current(twin), "postings"),
        os.path.join(root, "postings_new"),
    )
    assert not os.path.isfile(os.path.join(root, "compacted_deltas.txt"))
    assert _search_rows(spark, q, base) == truth  # uncommitted new ignored
    # read path is READ-ONLY: the in-flight/crashed postings_new survives
    assert os.path.isdir(os.path.join(root, "postings_new"))
    similarity.ivf_index_compact(spark, base)  # writer recovery rolls back
    assert not os.path.isdir(os.path.join(root, "postings_new"))
    assert _search_rows(spark, q, base) == truth
    assert spark.read.parquet(os.path.join(root, "postings")).count() == (
        catalog.load(spark, SF_DIR, "embeddings").count()
    )


def test_ivf_compact_postcommit_crash_rolls_forward(spark, tmp_path):
    """Crash AFTER the ledger commit point but BEFORE/DURING the swap:
    search must read the committed postings_new as the base and skip
    the folded delta dirs — WITHOUT mutating anything (read-only read
    path, ADVICE r06) — so every appended row is counted exactly once
    (the ADVICE r05 double-count scenario); the next compact finishes
    the swap."""
    import os
    import shutil

    n_total = catalog.load(spark, SF_DIR, "embeddings").count()

    # state 1: ledger written, swap not started
    base, q, truth = _ivf_crash_fixture(spark, tmp_path, "ivf_postcommit")
    twin = str(tmp_path / "ivf_postcommit_twin")
    shutil.copytree(base, twin)
    similarity.ivf_index_compact(spark, twin)
    root = ledger.current(base)
    shutil.copytree(
        os.path.join(ledger.current(twin), "postings"),
        os.path.join(root, "postings_new"),
    )
    with open(os.path.join(root, "compacted_deltas.txt"), "w") as fh:
        fh.write("b0\n")
    assert _search_rows(spark, q, base) == truth  # reads committed new
    # read path left the crash state intact for the writer to recover
    assert os.path.isdir(os.path.join(root, "postings_new"))
    assert os.path.isdir(os.path.join(root, "delta"))
    similarity.ivf_index_compact(spark, base)  # writer finishes the swap
    assert _search_rows(spark, q, base) == truth
    assert not os.path.isdir(os.path.join(root, "postings_new"))
    assert not os.path.isdir(os.path.join(root, "delta"))
    assert spark.read.parquet(os.path.join(root, "postings")).count() == n_total

    # state 2: mid-swap — old base moved aside, new not yet in place
    base2, q2, truth2 = _ivf_crash_fixture(spark, tmp_path, "ivf_midswap")
    twin2 = str(tmp_path / "ivf_midswap_twin")
    shutil.copytree(base2, twin2)
    similarity.ivf_index_compact(spark, twin2)
    root2 = ledger.current(base2)
    shutil.copytree(
        os.path.join(ledger.current(twin2), "postings"),
        os.path.join(root2, "postings_new"),
    )
    with open(os.path.join(root2, "compacted_deltas.txt"), "w") as fh:
        fh.write("b0\n")
    os.rename(
        os.path.join(root2, "postings"), os.path.join(root2, "postings_old")
    )
    assert _search_rows(spark, q2, base2) == truth2  # still read-only
    assert os.path.isdir(os.path.join(root2, "postings_old"))
    similarity.ivf_index_compact(spark, base2)
    assert not os.path.isdir(os.path.join(root2, "postings_old"))
    assert _search_rows(spark, q2, base2) == truth2

    # state 3: post-swap, delta dirs not yet cleaned — ledger makes
    # search skip them and a re-run compact must not double-fold
    base3, q3, truth3 = _ivf_crash_fixture(spark, tmp_path, "ivf_postswap")
    root3 = ledger.current(base3)
    delta_keep = str(tmp_path / "delta_copy")
    shutil.copytree(os.path.join(root3, "delta"), delta_keep)
    similarity.ivf_index_compact(spark, base3)
    shutil.copytree(delta_keep, os.path.join(root3, "delta"))
    assert _search_rows(spark, q3, base3) == truth3  # no double-count
    similarity.ivf_index_compact(spark, base3)  # no double-fold
    assert _search_rows(spark, q3, base3) == truth3
    assert spark.read.parquet(os.path.join(root3, "postings")).count() == n_total


def test_ivf_ledger_commit_is_atomic(spark, tmp_path):
    """ADVICE r06: the ledger write must be temp+fsync+rename, never an
    in-place append — a crash can then only leave the old or the new
    COMPLETE ledger, no torn prefix. Pin the mechanism (no stale .tmp,
    ids merged not duplicated) and that a pre-existing ledger survives
    a later compaction's commit."""
    import os

    base, q, truth = _ivf_crash_fixture(spark, tmp_path, "ivf_ledger")
    # a second delta batch so compact folds {b0, b1} on top of nothing
    e = catalog.load(spark, SF_DIR, "embeddings")
    extra = e.filter(F.col("vec_id") % 2 == 0).limit(7).select(
        F.col("vec_id").alias("neighbor_id"),
        similarity._as_double(F.col("embedding")).alias("cv"),
    )
    similarity.ivf_index_append(base)(extra, 1)
    similarity.ivf_index_compact(spark, base)
    path = os.path.join(ledger.current(base), "compacted_deltas.txt")
    assert not os.path.exists(path + ".tmp")
    with open(path) as fh:
        lines = fh.read().split()
    assert lines == sorted(set(lines)) and set(lines) == {"b0", "b1"}
    # a later append+compact MERGES into the ledger atomically
    similarity.ivf_index_append(base)(extra, 2)
    similarity.ivf_index_compact(spark, base)
    with open(path) as fh:
        lines2 = fh.read().split()
    assert lines2 == sorted(set(lines2)) and set(lines2) == {"b0", "b1", "b2"}
    assert not os.path.exists(path + ".tmp")


def test_ivf_compact_preserves_inflight_partial_delta(spark, tmp_path):
    """ADVICE r06: compact must not delete an unmarked (no-_SUCCESS)
    delta directory — it may be an append mid-write; only ledger-listed
    (folded) dirs are removable. The partial dir must survive BOTH the
    nothing-to-fold path and a real fold of other deltas, and the
    append sink's replay must then complete it."""
    import os

    base, q, truth = _ivf_crash_fixture(spark, tmp_path, "ivf_inflight")
    delta_root = os.path.join(ledger.current(base), "delta")
    # simulate an in-flight append: a delta dir without _SUCCESS
    partial = os.path.join(delta_root, "b7")
    os.makedirs(partial)
    # real fold of the committed b0 leaves the partial untouched
    similarity.ivf_index_compact(spark, base)
    assert os.path.isdir(partial)
    assert _search_rows(spark, q, base) == truth
    # nothing-to-fold path (only the partial remains) also preserves it
    similarity.ivf_index_compact(spark, base)
    assert os.path.isdir(partial)
    # the append replay overwrites the aborted write and completes it
    e = catalog.load(spark, SF_DIR, "embeddings")
    late = e.limit(5).select(
        F.col("vec_id").alias("neighbor_id"),
        similarity._as_double(F.col("embedding")).alias("cv"),
    )
    similarity.ivf_index_append(base)(late, 7)
    assert os.path.exists(os.path.join(partial, "_SUCCESS"))


def test_hnsw_graph_bounded_degree_and_recall(spark):
    """HNSW-lite (round 10): the DIRECTED neighbor graph's out-degree
    must stay <= m (no symmetrization here — only the persisted
    index's append lands edges both ways), every edge's cosine must be
    the true rounded cosine, and beam search must hit the measured
    recall (0.98 on this fixture at the registered config; 0.85 floor
    leaves seed headroom while failing under a broken expand round —
    a 1-round search scores ~0.5)."""
    e = catalog.load(spark, SF_DIR, "embeddings")
    g = similarity.neighbor_graph_build(e, m=16, n_planes=5, n_tables=16)
    deg = g.groupBy("src").count().agg(F.max("count")).collect()[0][0]
    assert deg <= 16
    q = e.filter(F.col("vec_id") < 20).withColumnRenamed("vec_id", "query_id")
    exact = similarity.brute_force_topk(q, e, k=5).collect()
    approx = similarity.graph_greedy_search(
        g, e, q, k=5, beam=24, rounds=4, n_entry=8
    ).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    print(f"HNSW-lite top-5 recall vs brute force: {recall:.3f}")
    assert recall >= 0.85, f"graph-ANN recall collapsed: {recall}"
    # self-matches excluded, ranks contiguous from 1
    for r in approx:
        assert r["query_id"] != r["neighbor_id"]
    by_q = {}
    for r in approx:
        by_q.setdefault(r["query_id"], []).append(r["rnk"])
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_hnsw_beam_monotone_in_rounds(spark):
    """The union-keep beam means more rounds can only raise recall —
    the property that makes `rounds` a safe knob (a regression that
    drops previous winners shows up as non-monotone recall here)."""
    e = catalog.load(spark, SF_DIR, "embeddings")
    g = similarity.neighbor_graph_build(e, m=16, n_planes=5, n_tables=16)
    q = e.filter(F.col("vec_id") < 10).withColumnRenamed("vec_id", "query_id")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(q, e, k=5).collect()
    }
    last = -1.0
    for rounds in (1, 2, 4):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.graph_greedy_search(
                g, e, q, k=5, beam=24, rounds=rounds, n_entry=8
            ).collect()
        }
        rec = len(got & exact) / len(exact)
        assert rec >= last - 1e-9, (rounds, rec, last)
        last = rec


def test_hnsw_index_append_replay_noop_and_reachability(spark, tmp_path):
    """Ledger-protocol contracts on the HNSW index: a re-delivered
    batch id is a no-op (at-least-once -> exactly-once), appended
    vectors are reachable by search, and compaction changes nothing
    (file layout only)."""
    e = catalog.load(spark, SF_DIR, "embeddings")
    base = str(tmp_path / "hnsw")
    similarity.hnsw_index_build(e.filter(F.col("vec_id") % 2 == 0), base)
    sink = similarity.hnsw_index_append(base)
    batch = e.filter(F.col("vec_id") % 2 == 1).limit(40)
    sink(batch, 0)
    t1 = ledger.resolve_delta_tables(spark, base, similarity._HNSW_TABLES)
    n_edges = t1["edges"].count()
    n_vecs = t1["vectors"].count()
    sink(batch, 0)  # replay — must no-op
    t2 = ledger.resolve_delta_tables(spark, base, similarity._HNSW_TABLES)
    assert t2["edges"].count() == n_edges
    assert t2["vectors"].count() == n_vecs
    # appended vectors are searchable: probe with their own vectors
    probes = batch.select(
        (F.col("vec_id") + 10_000).alias("query_id"), "embedding"
    ).limit(10)
    res = similarity.hnsw_index_search(spark, base, probes, k=3).collect()
    found = {
        r.query_id - 10_000
        for r in res
        if r.neighbor_id == r.query_id - 10_000 and r.cos_sim == 1.0
    }
    probe_ids = {r.vec_id for r in batch.limit(10).collect()}
    assert found == probe_ids
    # compaction invariance on a fixed query cohort
    q = e.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    pre = sorted(
        map(tuple, similarity.hnsw_index_search(spark, base, q, k=5).collect())
    )
    similarity.hnsw_index_compact(spark, base)
    post = sorted(
        map(tuple, similarity.hnsw_index_search(spark, base, q, k=5).collect())
    )
    assert pre == post
