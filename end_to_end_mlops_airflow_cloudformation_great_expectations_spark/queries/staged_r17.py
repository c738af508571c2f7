"""Round-11 additions. Same discipline as every prior staged batch:
proven green at sf0.001+sf0.01 incl. --plain BEFORE landing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql import Window

from ..catalog import load as _t
from .registry import query
from .staged_r05 import _bpe_round_sql

# ---------------------------------------------------------------------------
# text_bpe_merges_k16 — BPE induction past demo depth (VERDICT r10 item 4)
# ---------------------------------------------------------------------------

_K16 = 16

_BPE_K16_ORACLE = (
    r"""
    WITH w0 AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> len(x) > 0) AS ws
      FROM documents
    ), t0 AS MATERIALIZED (
      SELECT doc_id, unnest(ws) AS sym,
             generate_subscripts(ws, 1) - 1 AS pos
      FROM w0
    ),"""
    + ",".join(_bpe_round_sql(r) for r in range(_K16))
    + """
    SELECT * FROM ("""
    + " UNION ALL ".join(
        f"SELECT CAST({r + 1} AS BIGINT) AS round, a AS sym_a, "
        f"b AS sym_b, cnt FROM m{r}"
        for r in range(_K16)
    )
    + ")"
)


@query("text_bpe_merges_k16", oracle=_BPE_K16_ORACLE)
def text_bpe_merges_k16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE induction at DEPTH (VERDICT r10 item 4 — text_bpe_merges_k
    proves the loop at k=3 demo depth; a real tokenizer needs
    hundreds of merges, and the blocker was PLAN growth, not data
    volume): 16 merge rounds with per-round lineage truncation
    (operators/text.bpe_merge_rounds checkpoints every round when
    k > 3 — localCheckpoint per round cuts the ~3x-per-round logical plan
    blowup to linear, measured 38 KB@k=3 -> 875 KB@k=6 exponential
    vs ~1 KB/round flat checkpointed, test-pinned). Build-time
    laziness exception, documented in the operator: finalizing each
    round's checkpoint RDD materializes its shuffle stages (bounded,
    O(k) over the token stream) — the sanctioned inherently-iterative
    trade, same as pagerank's checkpoint discipline. The operator
    sizes its partitioning off its input's plan statistics (the
    plain-session guard).

    The DuckDB twin unrolls the SAME 16 rounds (the shared
    _bpe_round_sql builder, now AS MATERIALIZED per round — DuckDB
    inlines plain CTEs at every reference, and the unrolled chain
    references each round twice, so the un-materialized form was
    exponential too: it exhausted file handles at k=8 and runs 0.7 s
    at k=16 materialized). Every one of the 16 chosen pairs AND its
    count is hash-checked cross-engine; tie-breaks are
    integer/string only, so there is no float band anywhere.

    Scale: per-round cost is ONE pair-count aggregate (map-side
    partial) + ONE bounded window pass over the checkpointed token
    stream — k sequential rounds of linear work, the textbook
    distributed-BPE shape. The checkpoint keeps each round's plan
    O(1), so k=100s of merges grows wall-clock linearly, never the
    optimizer."""
    from ..operators import text

    return text.bpe_merge_rounds(_t(spark, sf_dir, "documents"), k=_K16)


# ---------------------------------------------------------------------------
# p_curation_pipeline — the END-TO-END training-data curation pipeline
# composed as ONE query (VERDICT r10 item 5)
# ---------------------------------------------------------------------------

#: Scale-free re-crawl synthesis: a doc with doc_id % 8 == 1 (and
#: id >= 20) is a re-crawl of the doc 20 ids back — 20 because sources
#: cycle every 20 ids and the 80/20 split every 5, so the neighbor
#: shares BOTH the URL host (source) and the corpus class: a constant
#: ~10% re-crawl RATE at ANY corpus size. The first draft used
#: doc_id % 300, whose 6000 distinct URL keys CAPPED the survivor
#: corpus at any scale (the same absolute-constant bug as the <400
#: split, caught by the same 100x audit).
_CP_JAC_N = 2       # near-dup word-ngram order (bigrams — fixture yields pairs)
_CP_JAC_T = 0.5     # near-dup Jaccard threshold (Lee et al. run NearDup at
                    # 0.8; 0.3 collapsed every doc carrying a duplicated
                    # 20-token window and starved the substring rung — the
                    # rungs must each have work at the fixture)
_CP_SUB_L = 20      # exact-substring window (tokens)
_CP_DECON_N = 5     # decontamination gram order
_CP_BUDGET = 800    # per-source token budget
_CP_CAP = 256       # pack bin capacity
_CP_SHARDS = 8      # pack shards

_CP_5G = (
    "list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' "
    "|| ws[i+3] || ' ' || ws[i+4] "
    "for i in generate_series(1, GREATEST(LEN(ws) - 4, 0))])"
)
_CP_ORACLE = rf"""
    WITH RECURSIVE base AS MATERIALIZED (
      SELECT doc_id, source, lang, text,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> len(x) > 0) AS ws
      FROM documents WHERE doc_id % 5 < 4
    ), bench AS (
      SELECT list_filter(string_split_regex(lower(text), '\s+'),
                         x -> len(x) > 0) AS ws
      FROM documents WHERE doc_id % 5 = 4
    ), s0 AS MATERIALIZED (
      SELECT doc_id, source, lang, text, ws, LEN(ws) AS n_tok FROM base
    ), u AS (
      SELECT doc_id, source, lang, text, ws, n_tok,
             lower(regexp_extract(url, '^[a-z]+://([^/?]+)', 1))
             || regexp_replace(
                  regexp_extract(url, '^[a-z]+://[^/?]+([^?]*)', 1),
                  '/+$', '') AS curl
      FROM (SELECT *,
              'https://' || upper(source) || '.Example.com/Doc/'
              || CAST(CASE WHEN doc_id % 8 = 1 AND doc_id >= 20
                           THEN doc_id - 20 ELSE doc_id END AS VARCHAR)
              || '/?utm_lang=' || lang
              || '&session=' || CAST(doc_id AS VARCHAR) AS url
            FROM s0)
    ), s1 AS MATERIALIZED (
      SELECT doc_id, source, lang, text, ws, n_tok FROM u
      WHERE doc_id IN (SELECT MIN(doc_id) FROM u GROUP BY curl)
    ), s2 AS MATERIALIZED (
      SELECT * FROM s1
      WHERE doc_id IN (SELECT MIN(doc_id) FROM s1 GROUP BY lower(text))
    ), pos2 AS (
      SELECT doc_id, ws,
             unnest(generate_series(1, GREATEST(LEN(ws) - {_CP_SUB_L} + 1, 0)))
               AS pos
      FROM s2
    ), gr2 AS (
      SELECT doc_id, pos,
             list_aggr(ws[pos:pos + {_CP_SUB_L} - 1], 'string_agg', ' ') AS gram
      FROM pos2
    ), cov2 AS (
      SELECT doc_id, pos
      FROM (SELECT doc_id, pos,
                   ROW_NUMBER() OVER (PARTITION BY gram
                                      ORDER BY doc_id, pos) AS rn
            FROM gr2)
      WHERE rn >= 2
    ), isl2 AS (
      SELECT doc_id, pos,
             CASE WHEN COALESCE(pos - LAG(pos) OVER (
                    PARTITION BY doc_id ORDER BY pos), {_CP_SUB_L} + 1)
                  > {_CP_SUB_L} THEN 1 ELSE 0 END AS brk
      FROM cov2
    ), sp2 AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS span
      FROM isl2
    ), rem AS MATERIALIZED (
      SELECT doc_id, SUM(span_tokens) AS removed FROM (
        SELECT doc_id, span,
               MAX(pos) - MIN(pos) + {_CP_SUB_L} AS span_tokens
        FROM sp2 GROUP BY doc_id, span
      ) GROUP BY doc_id
    ), s3 AS MATERIALIZED (
      SELECT s2.*, s2.n_tok - COALESCE(rem.removed, 0) AS kept_tok
      FROM s2 LEFT JOIN rem USING (doc_id)
    ), g2 AS MATERIALIZED (
      SELECT doc_id,
             list_distinct([ws[i] || ' ' || ws[i+1]
               for i in generate_series(1, GREATEST(LEN(ws) - 1, 0))]) AS ng
      FROM s3
    ), prs AS MATERIALIZED (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM g2 a JOIN g2 b ON a.doc_id < b.doc_id
      WHERE ROUND(CAST(LEN(list_intersect(a.ng, b.ng)) AS DOUBLE) /
            (LEN(a.ng) + LEN(b.ng) - LEN(list_intersect(a.ng, b.ng))), 4)
            >= {_CP_JAC_T}
    ), und(ua, ub) AS (
      SELECT id_a, id_b FROM prs UNION SELECT id_b, id_a FROM prs
    ), verts(vn) AS (
      SELECT ua FROM und UNION SELECT ub FROM und
    ), reach(rn_, rr) AS (
      SELECT vn, vn FROM verts
      UNION
      SELECT u2.ub, reach.rr FROM reach JOIN und u2 ON u2.ua = reach.rn_
    ), comp AS MATERIALIZED (
      SELECT rn_ AS cid, MIN(rr) AS component FROM reach GROUP BY rn_
    ), s4 AS MATERIALIZED (
      SELECT s3.* FROM s3 LEFT JOIN comp ON comp.cid = s3.doc_id
      WHERE comp.cid IS NULL OR comp.component = s3.doc_id
    ), bg AS MATERIALIZED (
      SELECT DISTINCT unnest({_CP_5G}) AS gram FROM bench
    ), contam AS MATERIALIZED (
      SELECT DISTINCT t.doc_id
      FROM (SELECT doc_id, unnest({_CP_5G}) AS gram FROM s4) t
      JOIN bg USING (gram)
    ), s5 AS MATERIALIZED (
      SELECT * FROM s4
      WHERE doc_id NOT IN (SELECT doc_id FROM contam)
    ), s6 AS MATERIALIZED (
      SELECT doc_id, source, kept_tok FROM (
        SELECT *, SUM(kept_tok) OVER (PARTITION BY source ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) AS cum
        FROM s5
      ) WHERE cum <= {_CP_BUDGET}
    ), pk AS MATERIALIZED (
      SELECT doc_id, kept_tok, doc_id % {_CP_SHARDS} AS shard,
             ROW_NUMBER() OVER (PARTITION BY doc_id % {_CP_SHARDS}
                                ORDER BY doc_id) AS prn
      FROM s6
    ), walk AS (
      SELECT shard, doc_id, kept_tok, prn,
             CAST(0 AS BIGINT) AS bin, kept_tok AS fill
      FROM pk WHERE prn = 1
      UNION ALL
      SELECT pk.shard, pk.doc_id, pk.kept_tok, pk.prn,
             CASE WHEN w.fill + pk.kept_tok <= {_CP_CAP}
                  THEN w.bin ELSE w.bin + 1 END,
             CASE WHEN w.fill + pk.kept_tok <= {_CP_CAP}
                  THEN w.fill + pk.kept_tok ELSE pk.kept_tok END
      FROM walk w JOIN pk ON pk.shard = w.shard AND pk.prn = w.prn + 1
    ), nb AS (
      SELECT CAST(COALESCE(SUM(mx) + COUNT(*), 0) AS BIGINT) AS n_bins
      FROM (SELECT shard, MAX(bin) AS mx FROM walk GROUP BY shard)
    )
    SELECT CAST(stage_id AS BIGINT) AS stage_id, stage,
           CAST(docs AS BIGINT) AS docs,
           CAST(dropped AS BIGINT) AS dropped,
           CAST(tokens AS BIGINT) AS tokens,
           CAST(bins AS BIGINT) AS bins
    FROM (
      SELECT 0 AS stage_id, 'total' AS stage,
             (SELECT COUNT(*) FROM s0) AS docs, 0 AS dropped,
             (SELECT SUM(n_tok) FROM s0) AS tokens, 0 AS bins
      UNION ALL
      SELECT 1, 'url_dedup', (SELECT COUNT(*) FROM s1),
             (SELECT COUNT(*) FROM s0) - (SELECT COUNT(*) FROM s1),
             (SELECT SUM(n_tok) FROM s1), 0
      UNION ALL
      SELECT 2, 'exact_dedup', (SELECT COUNT(*) FROM s2),
             (SELECT COUNT(*) FROM s1) - (SELECT COUNT(*) FROM s2),
             (SELECT SUM(n_tok) FROM s2), 0
      UNION ALL
      SELECT 3, 'substring_rewrite', (SELECT COUNT(*) FROM s3), 0,
             (SELECT SUM(kept_tok) FROM s3), 0
      UNION ALL
      SELECT 4, 'neardup_minhash', (SELECT COUNT(*) FROM s4),
             (SELECT COUNT(*) FROM s3) - (SELECT COUNT(*) FROM s4),
             (SELECT SUM(kept_tok) FROM s4), 0
      UNION ALL
      SELECT 5, 'decontaminate', (SELECT COUNT(*) FROM s5),
             (SELECT COUNT(*) FROM s4) - (SELECT COUNT(*) FROM s5),
             (SELECT SUM(kept_tok) FROM s5), 0
      UNION ALL
      SELECT 6, 'token_budget', (SELECT COUNT(*) FROM s6),
             (SELECT COUNT(*) FROM s5) - (SELECT COUNT(*) FROM s6),
             (SELECT SUM(kept_tok) FROM s6), 0
      UNION ALL
      SELECT 7, 'pack', (SELECT COUNT(*) FROM s6), 0,
             (SELECT SUM(kept_tok) FROM s6), (SELECT n_bins FROM nb)
    )
"""


@query("p_curation_pipeline", oracle=_CP_ORACLE)
def p_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END training-data curation pipeline composed as ONE
    query (VERDICT r10 item 5 — the flagship "the engine runs a real
    pipeline" demonstration; the per-op queries prove each rung, this
    proves the COMPOSITION): over the corpus slice (doc_id % 5 < 4 —
    an 80/20 PROPORTIONAL split, so the corpus side scales with the
    data; an absolute doc_id<400 split would pin the pipeline at 400
    docs under the stress harness's fresh replica ids and fake the
    scale point, caught live at 100x) —

      0 total
      1 URL dedup        (synthesize the re-crawl URL per doc with
                          case/query/session junk at a scale-free ~10%
                          re-crawl rate — the dedup_url_canonical
                          convention — then canonicalize + keep min-id
                          per canonical URL)
      2 exact dedup      (keep min-id per lower(text))
      3 substring rewrite (Lee-et-al exact-substring removal at L={sl}
                          over the post-exact corpus — token-level:
                          docs stay, every non-first copy of a
                          duplicated L-token window leaves;
                          operators/dedup.duplicated_token_spans
                          keep_first. Runs BEFORE doc-level near-dup,
                          where the duplicated runs still exist —
                          after it, near-dup's clone clusters would
                          already contain them)
      4 near-dup         (the PRODUCTION MinHash-LSH path: shingle ->
                          minhash -> band-bucket -> exact word-{jn}-gram
                          Jaccard >= {jt} verify on the ORIGINAL text ->
                          connected components -> keep each cluster's
                          min-id; the oracle replays the exact
                          ALL-PAIRS truth, so the hash check also
                          proves LSH recall == 1.0 at the oracle
                          scales)
      5 decontaminate    (drop survivors sharing ANY distinct word
                          {dn}-gram with the held-out benchmark slice
                          (doc_id % 5 == 4) — GPT-3 appendix-C
                          zero-tolerance; probe joined on the gram key
                          WITHOUT a broadcast hint: the benchmark side
                          scales with the corpus here)
      6 token budget     (per-source prefix sample by doc_id order,
                          cumulative post-rewrite tokens <= {bud} — the
                          deterministic mixture-sampling rung)
      7 pack             (next-fit packing of the final docs' rewritten
                          token counts, capacity {cap}, {sh} shards —
                          the trainer-facing bins)

    Output: the per-stage funnel (docs, dropped, tokens, bins) — ALL
    exact integers; token accounting switches to the REWRITTEN counts
    from stage 3 on (the tokens that would actually ship), and every
    doc-level rung reconciles (docs[i] + dropped[i] == docs[i-1]).
    The DuckDB twin replays the ENTIRE chain as one chained CTE
    (recursive closure for components, recursive walk for packing,
    MATERIALIZED on every multi-referenced stage — the CTE-inlining
    lesson), so the composition itself is hash-checked cross-engine,
    not just the rungs; a full independent Python replay is the third
    engine (tests/test_staged_r17.py).

    Scale: stages 1-2 are hash groupBys; stage 3 is the one-gram-
    shuffle window-cover; stage 4's candidates are LSH-bucket-bounded
    (never all-pairs — the first draft's lang-blocked exact pairs
    were 3.2B pairs/block at the 100x point); stage 5 shuffle-joins
    the gram key; stage 6 is a per-source window; stage 7 a
    grouped-map over shards. Stage boundaries persist ONCE to DISK
    (real pipelines persist the intermediate corpus to storage;
    compute-once measured 20.8 -> 8.1 s; memory-resident boundaries
    starved the verify SMJ's execution memory at 100x/4GB — see the
    in-code note). Funnel aggregates multi-reference shared subtrees —
    byte-identical exchanges collapse to ReusedExchange under AQE
    (the PMI/bootstrap precedent)."""
    from .. import catalog
    from ..operators import dedup, packing

    d = _t(spark, sf_dir, "documents")
    # Partition floor (the minhash_neardup_pairs defensive pattern —
    # §2.5 input skew / §6 small files): at bench scale the documents
    # parquet is ONE scan split, so every unpersisted funnel pass
    # (c0/c1 re-tokenize the corpus for their token sums) ran as a
    # SINGLE serial task (~3 s each, ~10 such stages measured r11 —
    # the wall was serial stages, not work). At real scale the scan
    # has >= parallelism splits and this no-ops. Width is estimated
    # from plan statistics, never df.rdd (VERDICT r11 minor item 6:
    # the RDD conversion finalized the plan at build time).
    d = catalog.spread_narrow(d)
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda w: F.length(w) > 0
    )
    corpus = d.filter(F.col("doc_id") % 5 < 4)
    bench = d.filter(F.col("doc_id") % 5 == 4)
    from pyspark.storagelevel import StorageLevel

    s0 = corpus.select(
        "doc_id", "source", "lang", "text", F.size(toks).alias("n_tok")
    ).persist(StorageLevel.DISK_ONLY)
    # ^ tokenize-once boundary (§2.3 "don't recompute what you throw
    # away"): without it the whitespace tokenization of the full
    # corpus re-ran in EVERY subtree that re-derives s0/s1 — measured
    # r11: ~7 passes (c0; c1 via s1; the s2 fill's s1⋈k2 where each
    # s1 reference itself derives u twice for the k1 join) — the
    # single most-repeated expensive map work in the query.

    # stage 1: URL dedup (synthesize -> canonicalize -> min-id group)
    page_id = F.when(
        (F.col("doc_id") % 8 == 1) & (F.col("doc_id") >= 20),
        F.col("doc_id") - 20,
    ).otherwise(F.col("doc_id"))
    url = F.concat(
        F.lit("https://"),
        F.upper("source"),
        F.lit(".Example.com/Doc/"),
        page_id.cast("string"),
        F.lit("/?utm_lang="),
        F.col("lang"),
        F.lit("&session="),
        F.col("doc_id").cast("string"),
    )
    u = s0.withColumn(
        "curl",
        F.concat(
            F.lower(F.regexp_extract(url, r"^[a-z]+://([^/?]+)", 1)),
            F.regexp_replace(
                F.regexp_extract(url, r"^[a-z]+://[^/?]+([^?]*)", 1),
                "/+$",
                "",
            ),
        ),
    )
    k1 = u.groupBy("curl").agg(F.min("doc_id").alias("doc_id"))
    s1 = (
        u.join(k1, ["curl", "doc_id"], "left_semi")
        .drop("curl")
        .persist(StorageLevel.DISK_ONLY)
    )  # boundary: k2, the s2 semi join's probe side and c1 all
    # re-derive s1 (u's regex canonicalization x2 per reference)

    # stage 2: exact dedup on the canonical text
    k2 = s1.groupBy(F.lower("text").alias("t")).agg(
        F.min("doc_id").alias("doc_id")
    )
    s2 = s1.join(
        k2,
        (F.lower(s1["text"]) == k2["t"]) & (s1["doc_id"] == k2["doc_id"]),
        "left_semi",
    )
    # stage boundary: every later stage + funnel aggregate re-reads the
    # post-exact corpus — materialize it ONCE, to DISK: real pipelines
    # persist the intermediate corpus to storage. DISK_ONLY (r11: a
    # memory-resident boundary held the full text corpus in the
    # unified pool's protected storage region and starved the minhash
    # verify SMJ of execution memory — "unable to acquire 64KB, got 0"
    # measured live at 100x/4GB). r12: the boundary is a CHECKPOINT,
    # not a persist — a cached boundary re-embeds its whole ancestry
    # in every downstream plan, and AQE re-renders the full explain
    # string on EVERY stage update (AdaptiveSparkPlanExec.onUpdatePlan
    # → explainString, driver-thread-dump-verified): 2.4 MB of plan
    # text × ~100 updates ≈ 10 s of driver time at sf0.1. A
    # LogicalRDD leaf collapses all of it. The pipeline already
    # executes at build (the CC fixpoint), so eagerness adds no new
    # build-time class; on a real cluster swap for a reliable
    # checkpoint to storage — which is what a production curation
    # pipeline does at stage boundaries anyway.
    s2 = s2.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)

    # stage 3: exact-substring removal (token-level) on the post-exact
    # corpus — where the duplicated runs still exist
    spans = dedup.duplicated_token_spans(
        s2, min_tokens=_CP_SUB_L, hash_grams=True, keep_first=True
    )
    rem = spans.groupBy("doc_id").agg(
        F.sum("span_tokens").alias("removed")
    )
    # s3 is re-derived by c3, the minhash candidate build AND the s4
    # cache fill — without this persist the span gram pass (posexplode
    # + L-1 lead windows + the gram-key shuffle, the pipeline's
    # heaviest rung) re-ran 4x (measured r11: 4 identical 1.2 MB-write
    # stages). rem is NARROW (doc_id, removed — two longs/doc), so it
    # stays memory-resident per the r11 boundary lesson (corpus
    # payloads to disk, labels in memory); §5: cache exactly the
    # reused-and-expensive intermediates.
    rem = rem.persist()
    s3 = s2.join(rem, "doc_id", "left").withColumn(
        "kept_tok",
        F.col("n_tok") - F.coalesce(F.col("removed"), F.lit(0)),
    ).drop("removed")

    # stage 4: near-dup clusters -> keep each cluster's min-id (LSH
    # candidates, exact-Jaccard verify; see docstring)
    pairs = dedup.minhash_neardup_pairs(
        s3,
        threshold=_CP_JAC_T,
        shingle_fn=lambda c: dedup.word_ngrams(c, _CP_JAC_N),
    ).select("id_a", "id_b")
    comp = dedup.connected_components(pairs)
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("doc_id")
    )
    s4 = s3.join(losers, "doc_id", "left_anti").localCheckpoint(
        eager=True, storageLevel=StorageLevel.DISK_ONLY
    )  # stage boundary — contam, s5, and two funnel aggregates re-read
    # (checkpoint, not persist: the plan-size rationale at s2)

    # stage 5: decontaminate (any shared 5-gram with the benchmark;
    # no broadcast hint — the benchmark side scales with the corpus)
    contam = dedup.decontaminate(
        s4, bench, n=_CP_DECON_N, broadcast_probe=False
    ).select(F.col("id").alias("doc_id"))
    s5 = s4.join(contam, "doc_id", "left_anti").localCheckpoint(
        eager=True, storageLevel=StorageLevel.DISK_ONLY
    )  # stage boundary — c5, the budget window (c6 + pack + nb) all
    # re-read s5; without it the decontaminate gram join re-ran per
    # reference (same §5 rule; DISK_ONLY: corpus payload; checkpoint,
    # not persist: the plan-size rationale at s2)

    # stage 6: per-source token-budget prefix sample
    w6 = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s6 = s5.withColumn("cum", F.sum("kept_tok").over(w6)).filter(
        F.col("cum") <= _CP_BUDGET
    )

    # stage 7: next-fit pack on the final rewritten token counts
    packed = packing.pack_next_fit(
        s6.select(
            "doc_id",
            (F.col("doc_id") % _CP_SHARDS).alias("shard"),
            F.col("kept_tok").alias("n_tokens"),
        ),
        capacity=_CP_CAP,
    )
    nb = packed.groupBy("shard").agg(F.max("bin").alias("mx")).agg(
        F.coalesce(F.sum(F.col("mx") + 1), F.lit(0)).alias("n_bins")
    )

    zero = F.lit(0).cast("long")

    def cnt(df: DataFrame, dc: str, tc) -> DataFrame:
        return df.agg(
            F.count("*").cast("long").alias(dc),
            F.sum(tc).cast("long").alias(dc + "_t"),
        )

    c0 = cnt(s0, "c0", F.col("n_tok"))
    c1 = cnt(s1, "c1", F.col("n_tok"))
    c2 = cnt(s2, "c2", F.col("n_tok"))
    c3 = cnt(s3, "c3", F.col("kept_tok"))
    c4 = cnt(s4, "c4", F.col("kept_tok"))
    c5 = cnt(s5, "c5", F.col("kept_tok"))
    c6 = cnt(s6, "c6", F.col("kept_tok"))
    counts = (
        c0.crossJoin(F.broadcast(c1))
        .crossJoin(F.broadcast(c2))
        .crossJoin(F.broadcast(c3))
        .crossJoin(F.broadcast(c4))
        .crossJoin(F.broadcast(c5))
        .crossJoin(F.broadcast(c6))
        .crossJoin(F.broadcast(nb))
    )
    stages = [
        (0, "total", "c0", zero, F.col("c0_t"), zero),
        (1, "url_dedup", "c1", F.col("c0") - F.col("c1"), F.col("c1_t"), zero),
        (2, "exact_dedup", "c2", F.col("c1") - F.col("c2"), F.col("c2_t"), zero),
        (3, "substring_rewrite", "c3", zero, F.col("c3_t"), zero),
        (4, "neardup_minhash", "c4", F.col("c3") - F.col("c4"), F.col("c4_t"), zero),
        (5, "decontaminate", "c5", F.col("c4") - F.col("c5"), F.col("c5_t"), zero),
        (6, "token_budget", "c6", F.col("c5") - F.col("c6"), F.col("c6_t"), zero),
        (7, "pack", "c6", zero, F.col("c6_t"), F.col("n_bins")),
    ]
    # ONE subtree for all 8 funnel rows (r11 optimization, §2.4 / the
    # train_kmeans_banded inline pattern): the former 8-way UNION of
    # per-stage projections pruned DIFFERENT columns through the
    # crossJoin chain, so no two subtrees were byte-identical, exchange
    # reuse never fired, and each union row re-ran every funnel
    # aggregate it referenced — measured r11: 249 jobs/run, the
    # aggregates' job+broadcast latency dominating wall. inline() emits
    # the 8 rows from the single 1-row counts result: each aggregate
    # runs exactly once.
    row_structs = [
        F.struct(
            F.lit(sid).cast("long").alias("stage_id"),
            F.lit(name).alias("stage"),
            F.col(dc).cast("long").alias("docs"),
            dropped.cast("long").alias("dropped"),
            tokens.cast("long").alias("tokens"),
            bins.cast("long").alias("bins"),
        )
        for sid, name, dc, dropped, tokens, bins in stages
    ]
    return counts.select(F.inline(F.array(*row_structs)))


# ---------------------------------------------------------------------------
# text_heaps_fit — Heaps'-law vocabulary-growth fit (the Zipf
# companion: zipf fits the frequency curve, Heaps fits V(N))
# ---------------------------------------------------------------------------

_HEAPS_ORACLE = r"""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> len(x) > 0) AS ws
      FROM documents
    ), tok AS (
      SELECT doc_id, unnest(ws) AS w FROM d
    ), firsts AS (
      SELECT w, MIN(doc_id) AS doc_id FROM tok GROUP BY w
    ), nv AS (
      SELECT doc_id, COUNT(*) AS nv FROM firsts GROUP BY doc_id
    ), per AS (
      SELECT d.doc_id, LEN(d.ws) AS n_tok, COALESCE(nv.nv, 0) AS nv
      FROM d LEFT JOIN nv USING (doc_id)
    ), cum AS (
      SELECT doc_id,
             SUM(n_tok) OVER (ORDER BY doc_id) AS cn,
             SUM(nv) OVER (ORDER BY doc_id) AS cv
      FROM per
    ), pts AS (
      SELECT LN(CAST(cn AS DOUBLE)) AS x, LN(CAST(cv AS DOUBLE)) AS y
      FROM cum WHERE cn > 0 AND cv > 0
    ), mom AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_points,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS beta,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
                 6) AS ln_k,
           ROUND(POW(n * sxy - sx * sy, 2)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM mom
"""


@query("text_heaps_fit", oracle=_HEAPS_ORACLE)
def text_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit V(N) = K * N^beta — the
    text_zipf_fit companion (zipf fits the frequency curve at fixed
    corpus, Heaps fits how VOCABULARY grows as the corpus grows; a
    training-data group uses beta to forecast tokenizer-vocab
    coverage as the corpus scales). One checkpoint per document in
    doc_id order: cumulative tokens N_i and cumulative vocabulary V_i
    (= count of words whose FIRST occurrence is at doc <= i — a
    groupBy MIN per word, then a per-doc new-word count; both exact
    integers), then OLS on (ln N_i, ln V_i) with the zipf query's
    moment/ROUND-6 conventions. (On the SYNTHETIC fixture the word
    pool is small and vocabulary saturates immediately — beta fits
    ~0.007; a real crawl fits 0.4-0.6. The replay test pins the
    saturation explicitly.)

    Scale: the per-word first-occurrence is one hash groupBy of the
    token stream (map-side partial MIN); the GLOBAL prefix sums use
    the NEW ranks.attach_running_sum scan-carry (range-partition by
    doc_id, local running sums, a bounded n_parts-row offsets table,
    one tiny window — never the single-task global window; integer
    sums stay exact under any partitioning). The per-doc join is
    merge-pinned: both sides scale with the corpus (the r11 SHJ
    hash-relation lesson)."""
    from ..operators import ranks

    d = _t(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda w: F.length(w) > 0
    )
    tok = d.select("doc_id", F.explode(toks).alias("w"))
    firsts = tok.groupBy("w").agg(F.min("doc_id").alias("doc_id"))
    nv = firsts.groupBy("doc_id").agg(F.count("*").alias("nv"))
    per = (
        d.select("doc_id", F.size(toks).cast("long").alias("n_tok"))
        .join(nv.hint("merge"), "doc_id", "left")
        .select(
            "doc_id",
            "n_tok",
            F.coalesce(F.col("nv"), F.lit(0)).cast("long").alias("nv"),
        )
    )
    cum = ranks.attach_running_sum(
        per,
        [F.asc("doc_id")],
        [F.col("n_tok"), F.col("nv")],
        ["cn", "cv"],
    )
    pts = cum.filter((F.col("cn") > 0) & (F.col("cv") > 0)).select(
        F.log(F.col("cn").cast("double")).alias("x"),
        F.log(F.col("cv").cast("double")).alias("y"),
    )
    mom = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return mom.select(
        n.cast("long").alias("n_points"),
        F.round(slope, 6).alias("beta"),
        F.round((sy - slope * sx) / n, 6).alias("ln_k"),
        F.round(
            F.pow(n * sxy - sx * sy, F.lit(2))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# g_betweenness_bounded — Brandes betweenness from K seeds, bounded depth
# ---------------------------------------------------------------------------

_BT_TAGS = 8
_BT_ENC = 1000  # vid' = tag*1000 + vid (vid < 390)
_BT_TOPK = 20


def _bt_seed(tag: str) -> str:
    return f"(17 + 29 * {tag}) % 200"


_BT_ORACLE = f"""
    WITH edges0 AS (
      SELECT DISTINCT o_orderkey % 200 AS src,
                      200 + o_orderkey % 190 AS dst
      FROM orders
    ), edges1 AS (
      SELECT src, dst FROM edges0
      UNION ALL
      SELECT dst AS src, src AS dst FROM edges0
    ), tags AS (
      SELECT CAST(unnest(range({_BT_TAGS})) AS BIGINT) AS tag
    ), tedges AS (
      SELECT tag * {_BT_ENC} + src AS src, tag * {_BT_ENC} + dst AS dst
      FROM edges1 CROSS JOIN tags
    ), l0 AS (
      SELECT tag * {_BT_ENC} + {_bt_seed('tag')} AS vid,
             CAST(1 AS BIGINT) AS sig
      FROM tags
    ), l1 AS (
      SELECT e.dst AS vid, SUM(v.sig) AS sig
      FROM tedges e JOIN l0 v ON v.vid = e.src
      WHERE e.dst NOT IN (SELECT vid FROM l0)
      GROUP BY e.dst
    ), l2 AS (
      SELECT e.dst AS vid, SUM(v.sig) AS sig
      FROM tedges e JOIN l1 v ON v.vid = e.src
      WHERE e.dst NOT IN (SELECT vid FROM l0)
        AND e.dst NOT IN (SELECT vid FROM l1)
      GROUP BY e.dst
    ), l3 AS (
      SELECT e.dst AS vid, SUM(v.sig) AS sig
      FROM tedges e JOIN l2 v ON v.vid = e.src
      WHERE e.dst NOT IN (SELECT vid FROM l0)
        AND e.dst NOT IN (SELECT vid FROM l1)
        AND e.dst NOT IN (SELECT vid FROM l2)
      GROUP BY e.dst
    ), d2 AS (
      SELECT v.vid, SUM(CAST(v.sig AS DOUBLE) / w.sig) AS dlt,
             COUNT(*) AS n_succ
      FROM l2 v JOIN tedges e ON e.src = v.vid JOIN l3 w ON w.vid = e.dst
      GROUP BY v.vid
    ), d1 AS (
      SELECT v.vid,
             SUM(CAST(v.sig AS DOUBLE) / w.sig
                 * (1 + COALESCE(dw.dlt, 0))) AS dlt,
             COUNT(*) AS n_succ
      FROM l1 v
      JOIN tedges e ON e.src = v.vid
      JOIN l2 w ON w.vid = e.dst
      LEFT JOIN d2 dw ON dw.vid = w.vid
      GROUP BY v.vid
    ), contrib AS (
      SELECT vid, dlt, n_succ FROM d1
      UNION ALL
      SELECT vid, dlt, n_succ FROM d2
    )
    SELECT * FROM (
      SELECT CAST(vid % {_BT_ENC} AS BIGINT) AS node,
             ROUND(SUM(dlt), 6) AS bc,
             CAST(SUM(n_succ) AS BIGINT) AS n_sp_edges
      FROM contrib
      GROUP BY vid % {_BT_ENC}
    )
    ORDER BY bc DESC, node
    LIMIT {_BT_TOPK}
"""


@query("g_betweenness_bounded", oracle=_BT_ORACLE)
def g_betweenness_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brandes betweenness centrality from {bt} seeds within a bounded
    3-hop horizon — completes the centrality family (pagerank = flow,
    closeness = reach speed, HITS = endorsement; betweenness = broker
    position). Forward: 3 unrolled BFS levels carrying the EXACT
    integer shortest-path counts sigma (each level = one edges⋈
    frontier shuffle + map-side SUM, new nodes only via anti-joins —
    every edge from level r to level r+1 is a shortest-path edge by
    construction, which is what makes the unrolled form exact).
    Backward: the Brandes dependency accumulation
    delta(v) = sum_w sigma_v/sigma_w * (1 + delta(w)) over successor
    levels, as two bounded joins. K seeds ride the tagged product
    graph (the g_closeness_bounded convention — vid' = tag*1000+vid,
    one traversal for all seeds). Output: top-{bk} broker nodes by
    ROUND-6 betweenness (tie-broken by node id — deterministic LIMIT
    set) with the exact integer shortest-path-edge count alongside.

    Float discipline: sigma are exact integers on both engines; delta
    is ONE identical division/multiply DAG per edge with per-node sums
    whose 6-dp grid margin is checked by the independent
    Fraction-exact Python replay (tests/test_staged_r17.py) — the
    pagerank ROUND convention, plus the replay insurance.

    Scale: the node space is bounded by construction (390 nodes — the
    graph-family convention: corpus scaling grows edge MULTIPLICITY,
    deduped by one DISTINCT shuffle on the fact scan); frontiers and
    deltas are bounded tables, so every join side is broadcastable by
    Catalyst stats without pins."""
    o = _t(spark, sf_dir, "orders")
    edges0 = o.select(
        (F.col("o_orderkey") % 200).alias("src"),
        (F.lit(200) + F.col("o_orderkey") % 190).alias("dst"),
    ).distinct()
    both = edges0.unionByName(
        edges0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    tags = spark.range(_BT_TAGS).select(F.col("id").alias("tag"))
    tedges = both.crossJoin(F.broadcast(tags)).select(
        (F.col("tag") * _BT_ENC + F.col("src")).alias("src"),
        (F.col("tag") * _BT_ENC + F.col("dst")).alias("dst"),
    )
    l0 = tags.select(
        (F.col("tag") * _BT_ENC + (17 + 29 * F.col("tag")) % 200).alias(
            "vid"
        ),
        F.lit(1).cast("long").alias("sig"),
    )

    def next_level(prev: DataFrame, *seen: DataFrame) -> DataFrame:
        e = tedges.select(
            F.col("src").alias("esrc"), F.col("dst").alias("edst")
        )
        nxt = (
            e.join(prev, e["esrc"] == prev["vid"])
            .groupBy(F.col("edst").alias("nvid"))
            .agg(F.sum("sig").alias("sig"))
            .select(F.col("nvid").alias("vid"), "sig")
        )
        for s in seen:
            nxt = nxt.join(s.select("vid"), "vid", "left_anti")
        return nxt

    l1 = next_level(l0, l0)
    l2 = next_level(l1, l0, l1)
    l3 = next_level(l2, l0, l1, l2)

    def deltas(lv: DataFrame, lw: DataFrame, dw: DataFrame | None) -> DataFrame:
        w = lw.select(
            F.col("vid").alias("wvid"), F.col("sig").alias("wsig")
        )
        if dw is not None:
            w = w.join(
                dw.select(F.col("vid").alias("wvid"), F.col("dlt")),
                "wvid",
                "left",
            ).select(
                "wvid", "wsig", F.coalesce(F.col("dlt"), F.lit(0.0)).alias("wdlt")
            )
        else:
            w = w.select("wvid", "wsig", F.lit(0.0).alias("wdlt"))
        e = tedges.select(
            F.col("src").alias("esrc"), F.col("dst").alias("edst")
        )
        return (
            lv.join(e, lv["vid"] == e["esrc"])
            .join(w, e["edst"] == w["wvid"])
            .groupBy(lv["vid"].alias("vvid"))
            .agg(
                F.sum(
                    F.col("sig").cast("double")
                    / F.col("wsig")
                    * (F.lit(1) + F.col("wdlt"))
                ).alias("dlt"),
                F.count("*").alias("n_succ"),
            )
            .select(F.col("vvid").alias("vid"), "dlt", "n_succ")
        )

    d2 = deltas(l2, l3, None)
    d1 = deltas(l1, l2, d2)
    contrib = d1.unionByName(d2)
    return (
        contrib.groupBy((F.col("vid") % _BT_ENC).cast("long").alias("node"))
        .agg(
            F.round(F.sum("dlt"), 6).alias("bc"),
            F.sum("n_succ").cast("long").alias("n_sp_edges"),
        )
        .orderBy(F.desc("bc"), F.asc("node"))
        .limit(_BT_TOPK)
    )


g_betweenness_bounded.__doc__ = g_betweenness_bounded.__doc__.replace(
    "{bt}", str(_BT_TAGS)
).replace("{bk}", str(_BT_TOPK))


# ---------------------------------------------------------------------------
# a_jarque_bera — normality test from exact shifted integer moments
# ---------------------------------------------------------------------------

_JB_CRIT = 5.991465  # chi2(2) 0.95

_JB_ORACLE = f"""
    WITH v AS (
      SELECT CAST(ROUND(value * 100) AS BIGINT) AS vi FROM events
    ), m AS (
      SELECT SUM(vi) AS m1, COUNT(*) AS n FROM v
    ), cc AS (
      SELECT m1 // n AS c FROM m
    ), d AS (
      SELECT vi - (SELECT c FROM cc) AS dd FROM v
    ), s AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(dd AS HUGEINT)) AS s1,
             SUM(CAST(dd AS HUGEINT) * dd) AS s2,
             SUM(CAST(dd AS HUGEINT) * dd * dd) AS s3,
             SUM(CAST(dd AS HUGEINT) * dd * dd * dd) AS s4
      FROM d
    ), f AS (
      SELECT CAST(n AS BIGINT) AS n,
             CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS a1,
             CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS a2,
             CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS a3,
             CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS a4
      FROM s
    ), mu AS (
      SELECT n,
             a2 - a1 * a1 AS mu2,
             a3 - 3 * a1 * a2 + 2 * a1 * a1 * a1 AS mu3,
             a4 - 4 * a1 * a3 + 6 * a1 * a1 * a2
                - 3 * a1 * a1 * a1 * a1 AS mu4
      FROM f
    ), sk AS (
      SELECT n,
             mu3 / (mu2 * SQRT(mu2)) AS skew,
             mu4 / (mu2 * mu2) AS kurt
      FROM mu
    )
    SELECT n AS n_points,
           ROUND(skew, 6) AS skewness,
           ROUND(kurt, 6) AS kurtosis,
           ROUND(CAST(n AS DOUBLE) / 6
                 * (skew * skew + (kurt - 3) * (kurt - 3) / 4), 6) AS jb,
           CAST(n AS DOUBLE) / 6
             * (skew * skew + (kurt - 3) * (kurt - 3) / 4)
             > {_JB_CRIT} AS reject_normal
    FROM sk
"""


@query("a_jarque_bera", oracle=_JB_ORACLE)
def a_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test on the event values — skewness +
    excess-kurtosis moments, JB = n/6 (S^2 + (K-3)^2/4) vs the chi2(2)
    critical value (the distribution-shape screen next to the KS and
    Shapiro-family tests; completes the moments battery alongside
    a_effect_sizes/a_levene_test).

    Band-grid discipline (the a_ewma_control lesson): the four raw
    moments are EXACT integers on both engines — value recovers its
    2-decimal grid as ROUND(value*100) BIGINT, the second pass shifts
    by the exact integer c = m1 div n (centering keeps SUM(d^4) ~
    n*sigma^4 instead of n*max^4), and the shifted power sums
    accumulate in decimal(38,0) / HUGEINT (per-row d^4 <= ~1e19
    overflows BIGINT; the UNcentered n^3*m4 combination overflows
    even 38 digits at the 10x corpus, which is why the shift is
    load-bearing, not cosmetic). The final skew/kurt/JB is ONE float
    DAG written with identical op order on both engines over those
    bit-identical integers (mu2*SQRT(mu2), never POW(mu2,1.5) — libm
    pow is not correctly rounded, IEEE sqrt is), so every output
    carries exactly one deterministic rounding.

    Scale: two map-side-partial aggregates over one fact scan each —
    the canonical two-pass moment shape; no joins, no windows."""
    e = _t(spark, sf_dir, "events")
    vi = F.round(F.col("value") * 100).cast("long")
    m = e.agg(F.sum(vi).alias("m1"), F.count("*").alias("nn"))
    c = m.select(
        ((F.col("m1") - F.pmod(F.col("m1"), F.col("nn"))) / F.col("nn"))
        .cast("long")
        .alias("c")
    )
    d = e.select(vi.alias("vi")).crossJoin(F.broadcast(c)).select(
        (F.col("vi") - F.col("c")).cast("decimal(19,0)").alias("dd")
    )
    s = d.agg(
        F.count("*").alias("n"),
        F.sum("dd").alias("s1"),
        F.sum(F.col("dd") * F.col("dd")).alias("s2"),
        F.sum(F.col("dd") * F.col("dd") * F.col("dd")).alias("s3"),
        F.sum(F.col("dd") * F.col("dd") * F.col("dd") * F.col("dd")).alias(
            "s4"
        ),
    )
    nD = F.col("n").cast("double")
    f = s.select(
        F.col("n").cast("long").alias("n"),
        (F.col("s1").cast("double") / nD).alias("a1"),
        (F.col("s2").cast("double") / nD).alias("a2"),
        (F.col("s3").cast("double") / nD).alias("a3"),
        (F.col("s4").cast("double") / nD).alias("a4"),
    )
    a1, a2, a3, a4 = (F.col(x) for x in ("a1", "a2", "a3", "a4"))
    mu = f.select(
        "n",
        (a2 - a1 * a1).alias("mu2"),
        (a3 - F.lit(3) * a1 * a2 + F.lit(2) * a1 * a1 * a1).alias("mu3"),
        (
            a4
            - F.lit(4) * a1 * a3
            + F.lit(6) * a1 * a1 * a2
            - F.lit(3) * a1 * a1 * a1 * a1
        ).alias("mu4"),
    )
    sk = mu.select(
        "n",
        (F.col("mu3") / (F.col("mu2") * F.sqrt(F.col("mu2")))).alias("skew"),
        (F.col("mu4") / (F.col("mu2") * F.col("mu2"))).alias("kurt"),
    )
    jb = (
        F.col("n").cast("double")
        / 6
        * (
            F.col("skew") * F.col("skew")
            + (F.col("kurt") - 3) * (F.col("kurt") - 3) / 4
        )
    )
    return sk.select(
        F.col("n").alias("n_points"),
        F.round("skew", 6).alias("skewness"),
        F.round("kurt", 6).alias("kurtosis"),
        F.round(jb, 6).alias("jb"),
        (jb > F.lit(_JB_CRIT)).alias("reject_normal"),
    )


# ---------------------------------------------------------------------------
# a_market_basket — association pairs (support / confidence / lift)
# ---------------------------------------------------------------------------

_MB_MIN_SUPPORT = 3
_MB_TOPK = 20

_MB_ORACLE = f"""
    WITH b AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ), n_ord AS (
      SELECT COUNT(DISTINCT ok) AS n_orders FROM b
    ), item AS (
      SELECT pk, COUNT(*) AS cnt FROM b GROUP BY pk
    ), pair AS (
      SELECT a.pk AS part_a, c.pk AS part_b, COUNT(*) AS cnt_ab
      FROM b a JOIN b c ON a.ok = c.ok AND a.pk < c.pk
      GROUP BY a.pk, c.pk
      HAVING COUNT(*) >= {_MB_MIN_SUPPORT}
    )
    SELECT part_a, part_b,
           CAST(cnt_ab AS BIGINT) AS cnt_ab,
           CAST(ia.cnt AS BIGINT) AS cnt_a,
           CAST(ib.cnt AS BIGINT) AS cnt_b,
           CAST(n_orders AS BIGINT) AS n_orders,
           ROUND(CAST(cnt_ab AS DOUBLE) * n_orders / (ia.cnt * ib.cnt), 6)
             AS lift
    FROM pair
    JOIN item ia ON ia.pk = part_a
    JOIN item ib ON ib.pk = part_b
    CROSS JOIN n_ord
    ORDER BY cnt_ab DESC,
             CAST(cnt_ab AS DOUBLE) * n_orders / (ia.cnt * ib.cnt) DESC,
             part_a, part_b
    LIMIT {_MB_TOPK}
"""


@query("a_market_basket", oracle=_MB_ORACLE)
def a_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association pairs over the order baskets
    (Agrawal-et-al association rules, the retail-analytics staple):
    co-occurrence count (support), per-item counts, and lift =
    n_orders * cnt_ab / (cnt_a * cnt_b) for every part pair bought
    together in >= {_MB_MIN_SUPPORT} orders; top-{_MB_TOPK} by
    (support, lift), fully tie-broken so the LIMIT set is
    deterministic (the driver compare is order-insensitive).

    Everything is an exact integer except the final lift ratio (one
    division + ROUND of exact integers — deterministic both engines).

    Scale: the pair generation self-joins the DISTINCT (order, part)
    basket table ON THE ORDER KEY — baskets are bounded (<= 7 parts
    per order at any TPC-H scale, max pairs/order 21), so candidate
    rows are O(orders * basket^2), one shuffle on the order key,
    map-side partial pair counts; NEVER an item-item all-pairs. The
    per-item attach joins are merge-pinned (pair and item tables both
    scale with the catalog — the r11 SHJ hash-relation lesson); the
    scalar order count broadcasts. Top-k is TakeOrderedAndProject."""
    li = _t(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    n_ord = b.agg(F.countDistinct("ok").alias("n_orders"))
    item = b.groupBy("pk").agg(F.count("*").alias("cnt"))
    pair = (
        b.alias("a")
        .join(
            b.alias("c"),
            (F.col("a.ok") == F.col("c.ok"))
            & (F.col("a.pk") < F.col("c.pk")),
        )
        .groupBy(
            F.col("a.pk").alias("part_a"), F.col("c.pk").alias("part_b")
        )
        .agg(F.count("*").alias("cnt_ab"))
        .filter(F.col("cnt_ab") >= _MB_MIN_SUPPORT)
    )
    ia = item.select(F.col("pk").alias("part_a"), F.col("cnt").alias("cnt_a"))
    ib = item.select(F.col("pk").alias("part_b"), F.col("cnt").alias("cnt_b"))
    lift = (
        F.col("cnt_ab").cast("double")
        * F.col("n_orders")
        / (F.col("cnt_a") * F.col("cnt_b"))
    )
    return (
        pair.join(ia.hint("merge"), "part_a")
        .join(ib.hint("merge"), "part_b")
        .crossJoin(F.broadcast(n_ord))
        .select(
            "part_a",
            "part_b",
            F.col("cnt_ab").cast("long").alias("cnt_ab"),
            F.col("cnt_a").cast("long").alias("cnt_a"),
            F.col("cnt_b").cast("long").alias("cnt_b"),
            F.col("n_orders").cast("long").alias("n_orders"),
            F.round(lift, 6).alias("lift"),
        )
        .orderBy(
            F.desc("cnt_ab"), F.desc("lift"), F.asc("part_a"), F.asc("part_b")
        )
        .limit(_MB_TOPK)
    )


p_curation_pipeline.__doc__ = (
    p_curation_pipeline.__doc__.replace("{jn}", str(_CP_JAC_N))
    .replace("{jt}", str(_CP_JAC_T))
    .replace("{dn}", str(_CP_DECON_N))
    .replace("{sl}", str(_CP_SUB_L))
    .replace("{bud}", str(_CP_BUDGET))
    .replace("{cap}", str(_CP_CAP))
    .replace("{sh}", str(_CP_SHARDS))
)
