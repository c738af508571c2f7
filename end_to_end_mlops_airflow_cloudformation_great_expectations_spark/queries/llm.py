"""LLM-data-pipeline queries (SURVEY.md stage 5 [N]): text analysis,
dedup (exact / MinHash / SimHash / n-gram Jaccard), embedding
similarity search, multimodal column plumbing.

Everything SQL-expressible carries a DuckDB oracle — including the
mapInPandas multimodal pipeline (its fake decoder is deliberately
built from portable arithmetic so plain SQL can verify the full
Arrow/binary/batch plumbing end-to-end). Approximate ops (MinHash/
SimHash/LSH candidates) are rows-only here and recall-tested in
tests/test_llm_ops.py against planted ground truth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import catalog
from ..operators import dedup, multimodal, similarity, text
from .registry import query


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return catalog.load(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return catalog.load(spark, sf_dir, "embeddings")


# ---------------------------------------------------------------------------
# Text analysis (A14)
# ---------------------------------------------------------------------------


@query(
    "text_token_stats",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> len(x) > 0) AS ws
      FROM documents
    )
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT) AS n_chars_calc,
           CAST(LEN(ws) AS BIGINT) AS n_words,
           CAST(LEN(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]'))
                AS BIGINT) AS n_tokens,
           ROUND(list_aggregate(list_transform(ws, x -> CAST(LEN(x) AS DOUBLE)),
                                'sum') / LEN(ws), 4) AS mean_word_len
    FROM t
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14: char/word/BPE-ish token counts + mean word length, all
    expression-level (no UDF in a 100 TB token-counting pass).

    Array-free formulation: word count ≡ count of ``\\S+`` runs and
    total word length ≡ non-whitespace char count, so the whole row is
    regexp_count/length arithmetic — the split-to-array form
    materialized the token array twice per row (projection collapse
    re-inlines the split into each consumer; see the re-inlining
    lesson in BASELINE.md). Values are identical: the oracle keeps the
    split-based form."""
    d = _docs(spark, sf_dir)
    t = F.col("text")
    n_words = F.regexp_count(t, F.lit(r"\S+"))
    non_ws_chars = F.length(F.regexp_replace(t, r"\s", ""))
    return d.select(
        "doc_id",
        F.length(t).cast("long").alias("n_chars_calc"),
        n_words.cast("long").alias("n_words"),
        text.token_count(t).alias("n_tokens"),
        F.round(
            F.try_divide(non_ws_chars.cast("double"), n_words), 4
        ).alias("mean_word_len"),
    )


@query(
    "text_quality",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> len(x) > 0) AS ws
      FROM documents
    ), m AS (
      SELECT doc_id,
             LEN(ws) AS n_words,
             list_aggregate(list_transform(ws, x -> CAST(LEN(x) AS DOUBLE)),
                            'sum') / LEN(ws) AS mwl,
             CAST(LEN(list_filter(ws, x -> list_contains(
                 ['the','and','of','to','in','is','a','that','it','for',
                  'on','with','as','at','by','an'], x))) AS DOUBLE)
               / LEN(ws) AS swr,
             CAST(LENGTH(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g'))
                  AS DOUBLE) / LENGTH(text) AS pr
      FROM t
    )
    SELECT doc_id,
           ROUND(swr, 4) AS stopword_ratio,
           ROUND(pr, 4) AS punct_ratio,
           ROUND((CASE WHEN n_words BETWEEN 5 AND 10000 THEN 1.0 ELSE 0.0 END
                + CASE WHEN mwl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END
                + CASE WHEN swr >= 0.05 THEN 1.0 ELSE 0.0 END
                + CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.0 END) / 4.0, 2) AS quality
    FROM m
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14: C4/Gopher-style quality heuristics (length band, word
    shape, stopword mass, punctuation density) → composite score."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.round(text.stopword_ratio("text"), 4).alias("stopword_ratio"),
        F.round(text.punct_ratio("text"), 4).alias("punct_ratio"),
        F.round(text.quality_score("text"), 2).alias("quality"),
    )


@query(
    "text_fingerprint",
    oracle=r"""
    SELECT doc_id,
           md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14: canonical-form md5 fingerprint (case/punct/spacing
    invariant dedup key)."""
    return _docs(spark, sf_dir).select(
        "doc_id", text.fingerprint(F.col("text")).alias("fingerprint")
    )


@query(
    "text_lang_id",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> len(x) > 0) AS ws
      FROM documents
    ), s AS (
      SELECT doc_id,
        CAST(LEN(list_filter(ws, x -> list_contains(
          ['the','and','of','to','in','is','a','that','it','for'], x))) AS DOUBLE) / LEN(ws) AS s_en,
        CAST(LEN(list_filter(ws, x -> list_contains(
          ['der','die','und','das','ist','nicht','ein','mit','zu','den'], x))) AS DOUBLE) / LEN(ws) AS s_de,
        CAST(LEN(list_filter(ws, x -> list_contains(
          ['le','la','et','les','des','est','un','une','que','pour'], x))) AS DOUBLE) / LEN(ws) AS s_fr,
        CAST(LEN(list_filter(ws, x -> list_contains(
          ['el','la','de','que','y','los','es','un','una','por'], x))) AS DOUBLE) / LEN(ws) AS s_es,
        CAST(LEN(list_filter(ws, x -> list_contains(
          ['的','是','了','在','我','有','和','不','人','这'], x))) AS DOUBLE) / LEN(ws) AS s_zh
      FROM t
    )
    SELECT doc_id,
           CASE WHEN GREATEST(s_en, s_de, s_fr, s_es, s_zh) > 0
                     AND s_en = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
                WHEN GREATEST(s_en, s_de, s_fr, s_es, s_zh) > 0
                     AND s_de = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'de'
                WHEN GREATEST(s_en, s_de, s_fr, s_es, s_zh) > 0
                     AND s_fr = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'fr'
                WHEN GREATEST(s_en, s_de, s_fr, s_es, s_zh) > 0
                     AND s_es = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'es'
                WHEN GREATEST(s_en, s_de, s_fr, s_es, s_zh) > 0
                     AND s_zh = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'zh'
                ELSE 'und' END AS pred_lang
    FROM s
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14: marker-ratio language heuristic, argmax with deterministic
    tie order (en,de,fr,es,zh), 'und' when no markers hit."""
    return _docs(spark, sf_dir).select(
        "doc_id", text.lang_id("text").alias("pred_lang")
    )


# ---------------------------------------------------------------------------
# Dedup (A11/A12)
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle=r"""
    WITH fp AS (
      SELECT doc_id,
             md5(trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS fingerprint
      FROM documents
    )
    SELECT fingerprint,
           MIN(doc_id) AS keeper_id,
           COUNT(*) AS n_copies
    FROM fp GROUP BY fingerprint
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: exact (canonical-form) dedup — hash-groupBy with a
    deterministic min-id keeper. One shuffle on the fingerprint; at
    100 TB group on the hash, never the raw text."""
    d = _docs(spark, sf_dir).withColumn(
        "fingerprint", text.fingerprint(F.col("text"))
    )
    return d.groupBy("fingerprint").agg(
        F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_copies")
    )


@query("dedup_minhash_pairs")  # approximate candidate set → rows-only
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: MinHash-LSH near-dup pairs (shingle→minhash→band→bucket
    self-join→exact-Jaccard verify). Candidate generation is
    probabilistic ⇒ no SQL oracle; recall is measured in
    tests/test_llm_ops.py on planted near-duplicates."""
    return dedup.minhash_neardup_pairs(
        _docs(spark, sf_dir),
        threshold=0.3,
        shingle_fn=lambda c: dedup.word_ngrams(c, 3),
    )


@query("dedup_simhash_pairs")  # approximate → rows-only
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: SimHash near-dup pairs (64-bit signature, 4-chunk banding,
    Hamming ≤ 3 verify)."""
    return dedup.simhash_neardup_pairs(_docs(spark, sf_dir))


@query(
    "dedup_ngram_jaccard",
    oracle=r"""
    WITH w AS (
      SELECT lang AS block, doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> len(x) > 0) AS ws
      FROM documents WHERE doc_id < 200
    ), g AS (
      SELECT block, doc_id,
             list_distinct([ws[i] || ' ' || ws[i+1]
                            for i in generate_series(1, GREATEST(LEN(ws) - 1, 0))]) AS ng
      FROM w
    )
    SELECT a.block, a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(LEN(list_intersect(a.ng, b.ng)) AS DOUBLE) /
                 (LEN(a.ng) + LEN(b.ng) - LEN(list_intersect(a.ng, b.ng))),
                 4) AS jaccard
    FROM g a JOIN g b ON a.block = b.block AND a.doc_id < b.doc_id
    WHERE CAST(LEN(list_intersect(a.ng, b.ng)) AS DOUBLE) /
          (LEN(a.ng) + LEN(b.ng) - LEN(list_intersect(a.ng, b.ng))) >= 0.05
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: direct word-bigram Jaccard within lang blocks (restricted
    to doc_id < 200 — the all-pairs form is for small blocks; the LSH
    form scales). Bigrams rather than trigrams so the fixture corpus
    yields a non-empty result set to hash-check."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    return dedup.ngram_jaccard_pairs(
        d, block_col="lang", n=2, threshold=0.05
    )


# ---------------------------------------------------------------------------
# Similarity search (J8)
# ---------------------------------------------------------------------------


@query(
    "sim_topk_bruteforce",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 10
    ), c AS (
      SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings
    ), scored AS (
      SELECT query_id, neighbor_id,
             ROUND(list_cosine_similarity(qv, cv), 6) AS cos_sim
      FROM q CROSS JOIN c WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rnk
      FROM scored) t
    WHERE rnk <= 5
    """,
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 baseline: exact cosine top-5 for 10 query vectors —
    broadcast(queries) × corpus scan, window re-rank; no corpus
    shuffle. The LSH variant (sim_topk_lsh) is the sublinear path."""
    e = _emb(spark, sf_dir)
    return similarity.brute_force_topk(
        e.filter(F.col("vec_id") < 10).withColumnRenamed("vec_id", "query_id"),
        e,
        k=5,
    )


@query("sim_topk_lsh")  # approximate → rows-only; recall measured in tests
def sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 scale path: random-hyperplane LSH buckets → exact re-rank
    within bucket. Recall vs brute force measured in tests."""
    e = _emb(spark, sf_dir)
    # 6 planes keeps buckets ~corpus/64 (sublinear probes at sf0.1's
    # 20k vectors); 16 tables buys recall (measured 0.25 → 0.51 on the
    # sf0.001 fixture vs 8 tables; plane count should grow with
    # log(corpus size), table count with the recall target).
    return similarity.lsh_topk(
        e.filter(F.col("vec_id") < 10).withColumnRenamed("vec_id", "query_id"),
        e,
        dim=64,
        k=5,
        n_planes=6,
        n_tables=16,
    )


@query("sim_topk_hnsw")  # approximate → rows-only; recall banded in
# sim_topk_hnsw_recall (floor 0.80 under measured 0.98 at all scales)
def sim_topk_hnsw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 graph-ANN path (VERDICT r09 stretch item 9 — completes the
    index families next to IVF/PQ/LSH): bounded-degree k-NN neighbor
    graph (per-vector top-16 by true cosine among LSH-bucket
    candidates; DIRECTED, out-degree <= m — only the persisted
    index's hnsw_index_append lands edges both ways;
    similarity.neighbor_graph_build) +
    greedy BEAM search as 4 bounded relaxation rounds
    (graph_greedy_search: beam 24, the 8 smallest-id entry points, the beam
    carried as one array row per query — the lazy-fixpoint
    discipline, linear plan growth). Monotone-improving beam ⇒
    rounds only raise recall; measured recall@5 = 0.98 at
    sf0.001/0.01/0.1 (floor 0.80 banded in the _recall twin,
    fixture floors pinned in tests)."""
    e = _emb(spark, sf_dir)
    g = similarity.neighbor_graph_build(e, m=16, n_planes=5, n_tables=16)
    return similarity.graph_greedy_search(
        g,
        e,
        e.filter(F.col("vec_id") < 10).withColumnRenamed("vec_id", "query_id"),
        k=5,
        beam=24,
        rounds=4,
        n_entry=8,
    )


@query("sim_topk_hnsw_routed")  # approximate → rows-only; recall banded
# in sim_topk_hnsw_routed_recall (floor 0.80)
def sim_topk_hnsw_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph ANN with ROUTED entry points (VERDICT r10 item 8 — the
    one gap between sim_topk_hnsw and real HNSW was the upper-layer
    routing hierarchy): the IVF coarse quantizer plays the upper
    layers' role (similarity.routed_entry_points — Lloyd centroids on
    the bounded deterministic sample, each cell's 2 nearest-to-
    centroid nodes as that region's entries, each query seeded from
    its 4 nearest NON-EMPTY cells), then the same base-graph beam
    search with the SAME 8 seed nodes but HALF the rounds (2 vs the
    fixed-entry query's 4): entries land O(cell radius) from the
    query, so hops refine instead of crossing the corpus. At a fixed 8-entry seed the
    smallest-id nodes are almost surely in the wrong region of a
    billion-vector corpus and rounds cap recall — routing is what
    makes graph ANN sublinear in hops at scale. Quantizer
    granularity is the knob that must grow with the corpus (~sqrt(n),
    the FAISS IVF sizing rule): 32 cells measured 0.98/0.88/0.50
    recall across sf0.001/0.01/0.1 at 2 rounds — cells of ~600
    vectors put cell-center reps too many hops from boundary queries
    — while 256 cells measures 0.98/0.96/0.92. Recall@5 banded
    >= 0.80 in the _recall twin."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 10).withColumnRenamed("vec_id", "query_id")
    g = similarity.neighbor_graph_build(e, m=16, n_planes=5, n_tables=16)
    entry = similarity.routed_entry_points(
        e, q, n_centroids=256, n_route=4, reps_per_cell=2
    )
    return similarity.graph_greedy_search(
        g, e, q, k=5, beam=24, rounds=2, entry_points=entry
    )


@query(
    "sim_cosine_neardup",
    oracle="""
    WITH e AS (
      SELECT label AS block, vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
    )
    SELECT a.block, a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
    FROM e a JOIN e b ON a.block = b.block AND a.vec_id < b.vec_id
    WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.35
    """,
)
def sim_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within label blocks
    (all-pairs inside block; LSH buckets replace labels at scale)."""
    return similarity.cosine_neardup_pairs(
        _emb(spark, sf_dir), block_col="label", threshold=0.35
    )


@query("dedup_embedding")  # iterative connected components -> rows-only
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (SemDeDup-style): embedding-cosine near-dup pairs
    within label blocks → transitive closure → keep each component's
    min-id representative. Iterative (connected components to a fixed
    point), hence rows-only; the closure itself is oracle-free but
    property-tested on planted chains (test_llm_ops)."""
    kept = similarity.embedding_dedup(
        _emb(spark, sf_dir), block_col="label", threshold=0.35
    )
    return kept.select("vec_id", "label")


@query(
    "text_repetition",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(list_transform(string_split(text, chr(10)),
                                        x -> trim(x)),
                         x -> len(x) > 0) AS lines,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> len(x) > 0) AS ws
      FROM documents
    )
    SELECT doc_id,
           ROUND(CAST(LEN(lines) - LEN(list_distinct(lines)) AS DOUBLE)
                 / LEN(lines), 4) AS dup_line_frac,
           ROUND(CAST(LEN(ws) - LEN(list_distinct(ws)) AS DOUBLE)
                 / LEN(ws), 4) AS rep_token_frac
    FROM t
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals, expression-only: duplicate-line
    fraction (boilerplate/nav spam) and repeated-token fraction
    (keyword stuffing / degenerate loops)."""
    d = _docs(spark, sf_dir)
    t = F.col("text")
    return d.select(
        "doc_id",
        F.round(text.dup_line_fraction(t), 4).alias("dup_line_frac"),
        F.round(text.repeated_token_fraction("text"), 4).alias("rep_token_frac"),
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


@query(
    "mm_media_metadata",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           md5(text) AS checksum,
           CAST((octet_length(encode(text)) * 2654435761) % 4294967296 % 640 + 1
                AS INT) AS width,
           CAST((octet_length(encode(text)) * 2654435761) % 4294967296 % 480 + 1
                AS INT) AS height,
           CAST((octet_length(encode(text)) * 2654435761) % 4294967296 % 120 + 1
                AS INT) AS n_frames,
           'fake/v1' AS fmt
    FROM documents
    """,
)
def mm_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode pipeline: binary payload column →
    ``mapInPandas`` (Arrow-batched) → typed metadata. The decoder is a
    deterministic fake (no codecs in the container) built from
    portable arithmetic, so this oracle verifies the REAL plumbing —
    binary columns through Arrow, batch iteration, schema — end to
    end."""
    d = multimodal.attach_fake_payload(_docs(spark, sf_dir))
    return multimodal.media_metadata(d)


@query(
    "mm_frame_sample",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             CAST((octet_length(encode(text)) * 2654435761) % 4294967296 % 120 + 1
                  AS INT) AS n_frames
      FROM documents
    )
    SELECT doc_id, n_frames,
           CAST(UNNEST(generate_series(0, n_frames - 1, 10)) AS BIGINT) AS frame_idx
    FROM m
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling row-shape transform: one row per (doc, sampled
    frame index) — the explode a real video frame extractor feeds."""
    d = multimodal.attach_fake_payload(_docs(spark, sf_dir))
    meta = multimodal.media_metadata(d)
    return multimodal.frame_sample(meta, every_n=10).withColumn(
        "frame_idx", F.col("frame_idx").cast("long")
    )


@query(
    "mm_wav_decode",
    oracle="""
    SELECT doc_id,
           CAST(1 + doc_id % 2 AS BIGINT) AS channels,
           CAST(8000 * (1 + doc_id % 3) AS BIGINT) AS sample_rate,
           CAST(16 AS BIGINT) AS bits_per_sample,
           CAST(octet_length(encode(text)) // ((1 + doc_id % 2) * 2)
                AS BIGINT) AS n_samples,
           CAST((octet_length(encode(text)) // ((1 + doc_id % 2) * 2))
                * ((1 + doc_id % 2) * 2) AS BIGINT) AS data_len,
           ROUND((octet_length(encode(text)) // ((1 + doc_id % 2) * 2))
                 * 1000.0 / (8000 * (1 + doc_id % 3)), 4) AS duration_ms
    FROM documents
    """,
)
def mm_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multimodal decode (VERDICT r01 item 7): a valid RIFF/WAVE
    file is synthesized per document, shipped as a binary column
    through Arrow, and header-PARSED back (magic check + chunk walk +
    struct unpack — stdlib only, no codec deps). The oracle predicts
    the decoded fields from the same portable arithmetic the builder
    used, so a decoder that didn't genuinely read the bytes (wrong
    endianness, wrong offset, skipped chunk walk) hash-mismatches."""
    return multimodal.wav_metadata(_docs(spark, sf_dir))


@query("sim_topk_ivf")  # approximate (clustered probe) -> rows-only
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 scale path #2: IVF — KMeans cells + n_probe nearest-cell
    exact search (FAISS IVF-Flat structure on DataFrames). Recall vs
    brute force measured in tests."""
    e = _emb(spark, sf_dir)
    return similarity.ivf_topk(
        e.filter(F.col("vec_id") < 10).withColumnRenamed("vec_id", "query_id"),
        e,
        k=5,
        n_centroids=16,
        n_probe=4,
    )


# ---------------------------------------------------------------------------
# Training-data pipeline ops: chunking, mixture sampling, decontamination
# ---------------------------------------------------------------------------


@query(
    "text_chunking",
    oracle="""
    WITH c AS (
      SELECT doc_id,
             [substring(text, i, 300)
              for i in generate_series(1, GREATEST(LENGTH(text), 1), 250)] AS chunks
      FROM documents
    )
    SELECT doc_id,
           CAST(UNNEST(generate_series(0, LEN(chunks) - 1)) AS INT) AS chunk_idx,
           UNNEST(chunks) AS chunk,
           CAST(LENGTH(UNNEST(chunks)) AS BIGINT) AS chunk_len
    FROM c
    """,
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data chunking: split each document into 300-char chunks
    with 50-char overlap (stride 250) — the context-window packing
    primitive. Expression-only; one output row per chunk."""
    d = _docs(spark, sf_dir)
    chunks = F.transform(
        F.sequence(
            F.lit(1), F.greatest(F.length("text"), F.lit(1)), F.lit(250)
        ),
        lambda i: F.substring(F.col("text"), i, 300),
    )
    return d.select(
        "doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk")
    ).withColumn("chunk_len", F.length("chunk").cast("long"))


@query(
    "mix_weighted_sources",
    oracle="""
    SELECT source, COUNT(*) AS n_docs
    FROM documents
    WHERE (doc_id * 2654435761) % 4294967296 % 100 <
          (CASE WHEN source IN ('src0', 'src1', 'src2') THEN 100 ELSE 20 END)
    GROUP BY source
    """,
)
def mix_weighted_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture construction: per-source sampling rates (keep
    100% of preferred sources, 20% of the rest) via the portable
    deterministic bucket — reproducible across engines and runs, unlike
    df.sample. One filter, no shuffle."""
    from ..functions.columns import portable_bucket

    d = _docs(spark, sf_dir)
    rate = F.when(
        F.col("source").isin("src0", "src1", "src2"), F.lit(100)
    ).otherwise(F.lit(20))
    return (
        d.filter(portable_bucket(F.col("doc_id"), 100) < rate)
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"))
    )


@query(
    "decontamination_check",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             md5(array_to_string(list_filter(string_split_regex(lower(text), '\\s+'),
                                             x -> len(x) > 0)[1:8], ' ')) AS prefix_fp,
             CASE WHEN (doc_id * 2654435761) % 4294967296 % 100 < 80
                  THEN 'train' ELSE 'test' END AS split
      FROM documents
    )
    SELECT COUNT(DISTINCT te.doc_id) AS n_contaminated
    FROM fp te JOIN fp tr
      ON te.prefix_fp = tr.prefix_fp
     AND te.split = 'test' AND tr.split = 'train'
    """,
)
def decontamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination: count held-out docs whose 8-token
    prefix fingerprint also appears in train (the n-gram-overlap
    contamination test used for LLM eval hygiene). Fingerprint join —
    one shuffle on the hash, never on raw text."""
    from ..operators.encode import hash_split_col
    from ..operators.text import words

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.md5(
            F.array_join(F.slice(words("text"), 1, 8), " ")
        ).alias("prefix_fp"),
        hash_split_col(F.col("doc_id")).alias("split"),
    )
    te = d.filter(F.col("split") == "test").select(
        F.col("doc_id").alias("te_id"), "prefix_fp"
    )
    tr = d.filter(F.col("split") == "train").select("prefix_fp")
    return te.join(tr, "prefix_fp").agg(
        F.countDistinct("te_id").alias("n_contaminated")
    )


# ---------------------------------------------------------------------------
# Corpus statistics / retrieval scoring / scrubbing
# ---------------------------------------------------------------------------


@query(
    "text_tfidf_topk",
    oracle=r"""
    WITH w AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> len(x) > 0)) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM w GROUP BY doc_id, term
    ), df AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
    SELECT doc_id, term, tf, df,
           ROUND(tf * (ln((n + 1.0) / (df + 1.0)) + 1.0), 4) AS tfidf,
           rnk
    FROM (
      SELECT tf.doc_id, tf.term, tf.tf, df.df, n.n,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS BIGINT) AS rnk
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    WHERE rnk <= 3
    """,
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the classic keyword-profile
    pass over a training corpus.

    Scale shape: two map-side-combinable aggs ((doc,term) counts, then
    term doc-frequency), a term-keyed join (vocab can be huge — left
    to AQE, NOT force-broadcast), a broadcast 1-row corpus-size cross
    join (the Q11/Q15 scalar pattern, no driver collect), and a
    per-doc top-k window. Ranking ties break on integers + term text
    only — no float ordering crosses the engine boundary, the rounded
    tfidf is payload, never sort key."""
    d = _docs(spark, sf_dir)
    w = d.select("doc_id", F.explode(text.words("text")).alias("term"))
    tf = w.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n"))
    win = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("rnk", F.row_number().over(win).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * (F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                4,
            ).alias("tfidf"),
            "rnk",
        )
    )


@query(
    "text_bm25",
    oracle=r"""
    WITH docs AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> len(x) > 0) AS ws
      FROM documents
    ), dl AS (
      SELECT doc_id, CAST(LEN(ws) AS BIGINT) AS dl FROM docs
    ), tok AS (
      SELECT doc_id, unnest(ws) AS term FROM docs
    ), tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok WHERE term IN ('data', 'table', 'fast')
      GROUP BY doc_id, term
    ), df AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ), stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, AVG(dl) AS avgdl FROM dl
    )
    SELECT tf.doc_id,
           ROUND(SUM(
             ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl))
           ), 4) AS bm25
    FROM tf
    JOIN df USING (term)
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN stats
    GROUP BY tf.doc_id
    """,
)
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance of every document against a fixed keyword query
    (k1=1.2, b=0.75) — the retrieval-scoring pass used to mine
    topic-relevant training data from a crawl.

    Scale shape: the term filter lands BEFORE the (doc,term) agg, so
    the shuffle carries only query-term hits (|terms| × docs, not the
    token stream). df table is |query terms| rows → broadcast; corpus
    stats (N, avgdl) are a broadcast 1-row cross join — no driver
    collect, one lazy DAG. avgdl is exact (integer sum / count), so
    the oracle comparison is stable at the 4dp rounding grid."""
    k1, b = 1.2, 0.75
    terms = ["data", "table", "fast"]
    d = _docs(spark, sf_dir)
    docs = d.select("doc_id", text.words("text").alias("ws"))
    dl = docs.select("doc_id", F.size("ws").cast("long").alias("dl"))
    tf = (
        docs.select("doc_id", F.explode("ws").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    stats = dl.agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl"))
    idf = F.log(1.0 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    tf_norm = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", (idf * tf_norm).alias("s"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("s"), 4).alias("bm25"))
    )


#: PII scrubbing patterns — portable across Java regex (Spark) and
#: RE2 (DuckDB): no lookaround, no backrefs.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+\d{1,3}-\d{3}-\d{4}"


@query(
    "text_pii_redact",
    oracle=r"""
    WITH src AS (
      SELECT c_custkey,
             'contact ' || lower(regexp_replace(c_name, '[^A-Za-z0-9]', '', 'g'))
             || '@example.com ip 10.' || CAST(c_custkey % 256 AS VARCHAR)
             || '.0.' || CAST(c_custkey % 100 AS VARCHAR)
             || ' call +1-800-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
               AS raw
      FROM customer
    )
    SELECT c_custkey,
           CAST(len(regexp_extract_all(raw,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(raw,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all(raw,
             '\+\d{1,3}-\d{3}-\d{4}')) AS BIGINT) AS n_phones,
           regexp_replace(regexp_replace(regexp_replace(raw,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             '\+\d{1,3}-\d{3}-\d{4}', '<PHONE>', 'g') AS redacted
    FROM src
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (emails / IPv4 / phone numbers → typed tags) —
    the redaction pass a training-data pipeline runs before anything
    else sees raw text.

    The fixture corpus contains no PII, so the query first CONSTRUCTS
    PII-bearing text deterministically from customer columns (the
    mm_wav_decode precedent: synthesize, then genuinely process), and
    the oracle checks both the match counts and the redacted output
    byte-for-byte. All expression-level (regexp_replace/regexp_count,
    whole-stage codegen) — per-row Python here would dominate a
    100 TB scrub."""
    c = catalog.load(spark, sf_dir, "customer")
    nm = F.lower(F.regexp_replace(F.col("c_name"), "[^A-Za-z0-9]", ""))
    raw = F.concat(
        F.lit("contact "),
        nm,
        F.lit("@example.com ip 10."),
        (F.col("c_custkey") % 256).cast("string"),
        F.lit(".0."),
        (F.col("c_custkey") % 100).cast("string"),
        F.lit(" call +1-800-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(raw, PII_EMAIL, "<EMAIL>"), PII_IPV4, "<IP>"
        ),
        PII_PHONE,
        "<PHONE>",
    )
    return c.select(
        "c_custkey",
        F.regexp_count(raw, F.lit(PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(raw, F.lit(PII_IPV4)).cast("long").alias("n_ips"),
        F.regexp_count(raw, F.lit(PII_PHONE)).cast("long").alias("n_phones"),
        redacted.alias("redacted"),
    )


@query(
    "emb_quantize_int8",
    oracle=r"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
      FROM embeddings
    ), s AS (
      SELECT vec_id, vv,
             list_max(list_transform(vv, x -> abs(x))) / 127.0 AS scale
      FROM v
    )
    SELECT vec_id,
           ROUND(scale, 6) AS q_scale,
           array_to_string(
             CASE WHEN scale = 0.0 THEN list_transform(vv, x -> 0)
                  ELSE list_transform(vv, x -> CAST(floor(x / scale + 0.5) AS INT))
             END, ',') AS q_csv
    FROM s
    """,
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of embeddings (per-vector
    max-abs scale) — 4× storage/bandwidth compression before ANN
    indexing, the standard first step of IVF-PQ-style pipelines.

    All expression-level: abs-max via array HOFs, quantize via
    ``floor(x/scale + 0.5)`` (portable round-half-up — engine
    ``round()`` tie-breaking differs, floor arithmetic doesn't). The
    float→double cast is exact and all subsequent IEEE ops are
    bit-identical across engines, so the oracle checks the full
    quantized vector byte-for-byte, not a summary. The vector is
    emitted CSV-serialized: the driver's value-hash contract is
    defined over scalar columns, not nested arrays."""
    e = _emb(spark, sf_dir)
    base = e.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("vv"),
    ).select(
        "vec_id",
        "vv",
        (F.array_max(F.transform(F.col("vv"), F.abs)) / F.lit(127.0)).alias(
            "scale"
        ),
    )
    q = F.when(
        F.col("scale") == 0.0, F.transform(F.col("vv"), lambda x: F.lit(0))
    ).otherwise(
        F.transform(
            F.col("vv"),
            lambda x: F.floor(x / F.col("scale") + F.lit(0.5)).cast("int"),
        )
    )
    return base.select(
        "vec_id",
        F.round(F.col("scale"), 6).alias("q_scale"),
        F.array_join(
            F.transform(q, lambda x: x.cast("string")), ","
        ).alias("q_csv"),
    )


@query(
    "text_bigram_merges",
    oracle=r"""
    WITH t AS (
      SELECT list_filter(string_split_regex(lower(text), '\s+'),
                         x -> len(x) > 0) AS ws
      FROM documents
    ), p AS (
      SELECT unnest(list_transform(range(1, len(ws)),
                                   i -> ws[i] || ' ' || ws[i + 1])) AS pair
      FROM t
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM p GROUP BY pair
    ORDER BY cnt DESC, pair ASC
    LIMIT 10
    """,
)
def text_bigram_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide adjacent-pair counts, top-10 — the first merge step
    of BPE-style tokenizer induction (which symbol pair to fuse next).

    Scale shape: pairs are built inside the row (zip_with over two
    slices — no self-join of the token stream), counted with map-side
    partial agg, and the top-10 is TakeOrderedAndProject (per-partition
    heads + driver merge, never a global sort). Ties at the cut break
    on pair text, so the limit is deterministic cross-engine."""
    d = _docs(spark, sf_dir)
    ws = text.words("text")
    pairs = F.zip_with(
        F.slice(ws, 1, F.size(ws) - 1),
        F.slice(ws, 2, F.size(ws) - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        d.filter(F.size(ws) >= 2)
        .select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(10)
    )


@query(
    "mm_bmp_decode",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             4 + doc_id % 13 AS w,
             3 + doc_id % 7 AS h,
             ((4 + doc_id % 13) * 3 + 3) // 4 * 4 AS stride
      FROM documents
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(24 AS BIGINT) AS bpp,
           CAST(stride AS BIGINT) AS row_stride,
           CAST(stride * h AS BIGINT) AS img_size,
           CAST((doc_id * 7 + ((h - 1) * stride + 0) * 13) % 256 AS BIGINT)
             AS px_tl_b,
           CAST((doc_id * 7 + ((h - 1) * stride + 1) * 13) % 256 AS BIGINT)
             AS px_tl_g,
           CAST((doc_id * 7 + ((h - 1) * stride + 2) * 13) % 256 AS BIGINT)
             AS px_tl_r
    FROM g
    """,
)
def mm_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal IMAGE path with a REAL decode and no codec deps:
    each doc gets a genuine 24-bit bottom-up BMP (synthesized with
    SQL-predictable dimensions and pixel fill), shipped through Arrow
    as binary, then container-parsed back — magic check, DIB header
    fields, 4-byte row stride, and a top-left pixel read that is only
    correct if the decoder honors BOTTOM-UP row order and stride
    padding. The oracle predicts every field, including the pixel
    bytes, from the same portable arithmetic."""
    return multimodal.bmp_metadata(_docs(spark, sf_dir))


@query(
    "mm_png_decode",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             4 + doc_id % 13 AS w,
             3 + doc_id % 7 AS h
      FROM documents
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(8 AS BIGINT) AS bit_depth,
           CAST(2 AS BIGINT) AS color_type,
           CAST(3 AS BIGINT) AS n_chunks,
           CAST((doc_id * 7) % 256 AS BIGINT) AS px_tl_r,
           CAST((doc_id * 7 + 13) % 256 AS BIGINT) AS px_tl_g,
           CAST((doc_id * 7 + 26) % 256 AS BIGINT) AS px_tl_b,
           CAST((doc_id * 7 + (w * h * 3 - 3) * 13) % 256 AS BIGINT)
             AS px_br_r,
           CAST((doc_id * 7 + (w * h * 3 - 2) * 13) % 256 AS BIGINT)
             AS px_br_g,
           CAST((doc_id * 7 + (w * h * 3 - 1) * 13) % 256 AS BIGINT)
             AS px_br_b
    FROM g
    """,
)
def mm_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal COMPRESSED-image path, stdlib only (closes the
    round-2 codec seam, VERDICT item 5): each doc gets a genuine
    zlib-compressed PNG (SQL-predictable dims + pixel fill, rows
    filtered cycling through ALL five PNG filter types), shipped
    through Arrow as binary, then fully decoded — chunk walk with
    CRC32 verify, IDAT inflate, per-row unfilter. The oracle predicts
    header fields AND the top-left + bottom-right pixels; the
    bottom-right read is only correct if every preceding row
    unfiltered correctly (Up/Average/Paeth carry state across rows)."""
    return multimodal.png_metadata(_docs(spark, sf_dir))


@query(
    "mm_image_resize",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             4 + doc_id % 13 AS w,
             3 + doc_id % 7 AS h
      FROM documents
    ), s AS (
      SELECT doc_id, w, h,
             0 AS sx0, w // 2 AS sx1, 0 AS sy0, h // 2 AS sy1
      FROM g
    )
    SELECT doc_id,
           CAST((doc_id*7 + ((sy0*w + sx0)*3 + 0)*13) % 256 AS BIGINT) AS t00_r,
           CAST((doc_id*7 + ((sy0*w + sx0)*3 + 1)*13) % 256 AS BIGINT) AS t00_g,
           CAST((doc_id*7 + ((sy0*w + sx0)*3 + 2)*13) % 256 AS BIGINT) AS t00_b,
           CAST((doc_id*7 + ((sy0*w + sx1)*3 + 0)*13) % 256 AS BIGINT) AS t01_r,
           CAST((doc_id*7 + ((sy0*w + sx1)*3 + 1)*13) % 256 AS BIGINT) AS t01_g,
           CAST((doc_id*7 + ((sy0*w + sx1)*3 + 2)*13) % 256 AS BIGINT) AS t01_b,
           CAST((doc_id*7 + ((sy1*w + sx0)*3 + 0)*13) % 256 AS BIGINT) AS t10_r,
           CAST((doc_id*7 + ((sy1*w + sx0)*3 + 1)*13) % 256 AS BIGINT) AS t10_g,
           CAST((doc_id*7 + ((sy1*w + sx0)*3 + 2)*13) % 256 AS BIGINT) AS t10_b,
           CAST((doc_id*7 + ((sy1*w + sx1)*3 + 0)*13) % 256 AS BIGINT) AS t11_r,
           CAST((doc_id*7 + ((sy1*w + sx1)*3 + 1)*13) % 256 AS BIGINT) AS t11_g,
           CAST((doc_id*7 + ((sy1*w + sx1)*3 + 2)*13) % 256 AS BIGINT) AS t11_b
    FROM s
    """,
)
def mm_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal RESIZE step (the decode→transform→features pipeline
    shape): decode each doc's PNG — inflate + all-five-filter
    unfilter — then nearest-neighbor downsample to a 2×2 thumbnail
    and emit the 12 pixel channels as typed columns. The oracle
    reproduces the floor-arithmetic sampling convention
    (src = out·dim // 2) and the deterministic fill, so every output
    pixel is hash-checked; wrong unfiltering, wrong sampling indices,
    or channel-order bugs all fail the oracle."""
    return multimodal.png_thumbnail(_docs(spark, sf_dir))


@query(
    "mm_wav_energy",
    oracle="""
    WITH g AS (
      SELECT doc_id, 64 + doc_id % 37 AS n FROM documents
    ), s AS (
      SELECT g.doc_id, g.n, ((g.doc_id*7 + t.i*13) % 256) - 128 AS v
      FROM g, LATERAL unnest(range(g.n)) AS t(i)
    )
    SELECT doc_id,
           CAST(MAX(n) AS BIGINT) AS n_samples,
           CAST(MAX(ABS(v)) AS BIGINT) AS peak,
           ROUND(SQRT(AVG(CAST(v*v AS DOUBLE))), 4) AS rms
    FROM s GROUP BY doc_id
    """,
)
def mm_wav_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio FEATURE-EXTRACT step: mono 16-bit PCM WAV per doc with
    SQL-predictable sample values, decoded back through the real RIFF
    parser and reduced to peak amplitude + RMS energy (the loudness
    features an audio-quality gate uses). The oracle re-derives the
    waveform row-wise with a LATERAL range unnest, so the
    bytes→frames→features path is value-checked end to end."""
    return multimodal.wav_energy(_docs(spark, sf_dir))


#: decomposed Unicode sample appended to each doc so NFC actually has
#: work to do on the (otherwise ASCII) synthetic corpus: e+COMBINING
#: ACUTE, a+COMBINING RING, o+COMBINING DIAERESIS compose to é å ö.
_DECOMPOSED_TAIL = " café å ö"


@query(
    "text_unicode_normalize",
    oracle=f"""
    SELECT doc_id,
           nfc_normalize(substr(text, 1, 40) || '{_DECOMPOSED_TAIL}')
             AS norm_text,
           CAST(length(nfc_normalize(substr(text, 1, 40)
                || '{_DECOMPOSED_TAIL}')) AS BIGINT) AS norm_chars
    FROM documents
    """,
)
def text_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode canonicalization (NFC) — the cleanup pass that must
    precede fingerprinting/dedup so canonically-equivalent texts (NFC
    vs NFD encodings of the same accents) collapse to one form. Spark
    side is an Arrow pandas_udf (no built-in normalizer); the oracle is
    DuckDB's independent ``nfc_normalize`` implementation — a true
    cross-engine Unicode conformance check. The decomposed tail makes
    the normalization non-trivial on the ASCII synthetic corpus:
    composed length is 3 chars shorter than the decomposed input."""
    d = _docs(spark, sf_dir)
    nfc = text.nfc_normalize_udf()
    raw = F.concat(F.substring("text", 1, 40), F.lit(_DECOMPOSED_TAIL))
    return d.select(
        "doc_id",
        nfc(raw).alias("norm_text"),
        F.length(nfc(raw)).cast("long").alias("norm_chars"),
    )


@query("sim_topk_pq")  # approximate (quantized ADC scan) -> rows-only
def sim_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 scale path #3: product quantization — corpus compressed to
    8 codes + a norm per vector (32× smaller scan), broadcast ADC
    lookup tables per query, exact re-rank of the top-50 survivors.
    Recall vs brute force measured in tests."""
    e = _emb(spark, sf_dir)
    return similarity.pq_topk(
        e.filter(F.col("vec_id") < 10).withColumnRenamed("vec_id", "query_id"),
        e,
        k=5,
        m=8,
        n_codes=16,
        rerank=100,
    )


@query(
    "udf_arrow_sq_norm",
    oracle="""
    SELECT vec_id,
           ROUND(LIST_AGGREGATE(LIST_TRANSFORM(CAST(embedding AS DOUBLE[]),
                                               x -> x * x), 'sum'), 4)
             AS sq_norm
    FROM embeddings
    """,
)
def udf_arrow_sq_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 mapInArrow surface: squared L2 norm per embedding through
    the zero-copy Arrow batch iterator (offsets + reduceat, no pandas,
    no per-row Python). Oracle-verified against DuckDB list algebra —
    the plumbing check for the lowest-overhead Python seam."""
    from ..operators.udfs import arrow_sq_norm

    return arrow_sq_norm(_emb(spark, sf_dir))


@query("sim_topk_ivfpq")  # approximate (cell probe + ADC) -> rows-only
def sim_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 scale path #4: composed IVF+PQ (FAISS IVFPQ) — coarse cells
    route the search to n_probe/n_centroids of the corpus, PQ codes on
    residuals compress the scanned bytes 32×, exact re-rank restores
    precision. The multiplicative win neither index gets alone.
    Recall vs brute force measured in tests."""
    e = _emb(spark, sf_dir)
    return similarity.ivfpq_topk(
        e.filter(F.col("vec_id") < 10).withColumnRenamed("vec_id", "query_id"),
        e,
        k=5,
        n_centroids=16,
        n_probe=6,
        m=8,
        n_codes=16,
        rerank=100,
    )


@query(
    "text_unigram_ppl",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> len(x) > 0)) AS w
      FROM documents
    ), cnt AS (
      SELECT w, COUNT(*) AS c FROM tok GROUP BY w
    ), tot AS (
      SELECT SUM(c) AS n FROM cnt
    )
    SELECT doc_id,
           ROUND(AVG(-log2(CAST(c AS DOUBLE) / n)), 4) AS cross_entropy,
           CAST(COUNT(*) AS BIGINT) AS n_tokens
    FROM tok JOIN cnt USING (w) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def text_unigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality scoring (the CCNet/CC-Net filtering
    recipe, with the corpus's own unigram LM standing in for the
    external KenLM): per-doc cross-entropy −Σ log2 p(w)/|doc| under
    corpus unigram frequencies. Low entropy ⇒ repetitive/boilerplate;
    high ⇒ rare-token noise — both tails get filtered in a real
    intake.

    Scale shape: token counts partial-merge map-side; the corpus
    total joins back as a broadcast 1-row cross join (never a driver
    collect); the token⋈vocab join shuffles on the word — Zipf-hot
    words are exactly what AQE skew-split handles (vocab broadcasts
    instead when it fits)."""
    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), r"\s+"),
                lambda x: F.length(x) > 0,
            )
        ).alias("w"),
    )
    cnt = tok.groupBy("w").agg(F.count("*").alias("c"))
    tot = cnt.agg(F.sum("c").alias("n"))
    return (
        tok.join(cnt, "w")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.avg(-F.log2(F.col("c").cast("double") / F.col("n"))), 4
            ).alias("cross_entropy"),
            F.count("*").alias("n_tokens"),
        )
    )


@query("emb_random_projection")  # random matrix, no SQL twin → rows-only
def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss 64→16-dim Gaussian projection — the
    cheap, fit-free dimensionality reduction that runs BEFORE ANN /
    near-dup at corpus scale (4× fewer bytes per distance). One Arrow
    matmul per batch; seed-deterministic; distortion bound pinned in
    tests/test_llm_ops.py."""
    e = _emb(spark, sf_dir)
    out = similarity.random_projection(e, out_dim=16)
    return out.select(
        "vec_id",
        F.round(F.element_at("proj", 1), 6).alias("p0"),
        F.aggregate(
            F.transform("proj", lambda x: x * x),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("sq_norm"),
    )


@query(
    "dedup_span_fraction",
    oracle=r"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> len(x) > 0) AS ws
      FROM documents
    ), g AS (
      SELECT doc_id,
             list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                            || ' ' || ws[i+3] || ' ' || ws[i+4]
                            for i in generate_series(1, GREATEST(LEN(ws) - 4, 0))])
               AS grams
      FROM w
    ), e AS (
      SELECT doc_id, unnest(grams) AS gram FROM g
    ), df AS (
      SELECT gram, COUNT(*) AS n_docs FROM e GROUP BY gram
    )
    SELECT e.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(*) FILTER (WHERE df.n_docs > 1) AS BIGINT)
             AS n_shared,
           ROUND(COUNT(*) FILTER (WHERE df.n_docs > 1)
                 / CAST(COUNT(*) AS DOUBLE), 4) AS shared_frac
    FROM e JOIN df USING (gram)
    GROUP BY e.doc_id
    """,
)
def dedup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT span-level duplication measurement (the Lee et al.
    "Deduplicating Training Data" signal, complementing doc-level
    MinHash): per doc, the fraction of its distinct word 5-grams that
    appear in at least one OTHER document. High shared_frac docs are
    boilerplate/templates even when no whole-doc near-dup fires.

    Scale shape: one explode of distinct per-doc grams (zip_with
    build — no per-element re-tokenization), document-frequency by
    partial-merged count, fact-side join back on the gram (Zipf-hot
    grams are AQE skew territory; the df table stays much smaller
    than postings because grams are per-doc distinct)."""
    d = _docs(spark, sf_dir)
    grams = d.select(
        "doc_id",
        F.explode(dedup.word_ngrams(F.col("text"), 5)).alias("gram"),
    )
    df_tbl = grams.groupBy("gram").agg(F.count("*").alias("n_docs"))
    return (
        # df scales with the corpus — pin SHJ so AQE can't broadcast a
        # near-threshold build side (the repeated_span_extract 100x
        # OOM lesson, operators/dedup.py)
        grams.join(df_tbl.hint("shuffle_hash"), "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count_if(F.col("n_docs") > 1).alias("n_shared"),
            F.round(
                F.count_if(F.col("n_docs") > 1) / F.count("*").cast("double"),
                4,
            ).alias("shared_frac"),
        )
    )


@query(
    "dedup_keep_longest",
    oracle="""
    WITH fp AS (
      SELECT doc_id, n_chars,
             md5(lower(trim(text))) AS h
      FROM documents
    )
    SELECT h AS fingerprint,
           CAST(COUNT(*) AS BIGINT) AS group_size,
           arg_max(doc_id, n_chars * 10000000 - doc_id) AS keeper_id
    FROM fp GROUP BY h
    """,
)
def dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup KEEPER POLICY variant: keep the LONGEST document
    per fingerprint group (ties → smallest id) instead of the
    min-id keeper — the policy real intakes want when near-identical
    scrapes differ by truncation. One max_by aggregation per group;
    the composite (n_chars, −doc_id) scalar makes the selection
    cross-engine deterministic under ties."""
    d = _docs(spark, sf_dir)
    fp = d.select(
        "doc_id",
        "n_chars",
        F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint"),
    )
    composite = F.col("n_chars") * F.lit(10000000) - F.col("doc_id")
    return fp.groupBy("fingerprint").agg(
        F.count("*").alias("group_size"),
        F.max_by("doc_id", composite).alias("keeper_id"),
    )
