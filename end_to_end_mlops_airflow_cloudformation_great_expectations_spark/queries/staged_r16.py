"""Round-10 additions (VERDICT r09 items 2-3): exact-substring dedup
(the Lee et al. rung) and BPE corpus encoding (closing the
induce -> apply -> pack tokenizer loop).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load as _t
from .registry import query
from .staged_r05 import _bpe_round_sql
from .staged_r07 import _scratch

# ---------------------------------------------------------------------------
# dedup_substring — exact-substring duplication accounting
# ---------------------------------------------------------------------------

_SUB_L = 20  # span threshold in whitespace tokens (docs run 10-99)


@query(
    "dedup_substring",
    oracle=rf"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> len(x) > 0) AS ws
      FROM documents
    ), pos AS (
      SELECT doc_id, LEN(ws) AS n_tokens, ws,
             unnest(generate_series(1, GREATEST(LEN(ws) - {_SUB_L} + 1, 0)))
               AS pos
      FROM w
    ), gr AS (
      SELECT doc_id, n_tokens, pos,
             list_aggr(ws[pos:pos + {_SUB_L} - 1], 'string_agg', ' ') AS gram
      FROM pos
    ), cov AS (
      SELECT doc_id, n_tokens, pos
      FROM (SELECT doc_id, n_tokens, pos,
                   COUNT(*) OVER (PARTITION BY gram) AS occ
            FROM gr)
      WHERE occ >= 2
    ), isl AS (
      SELECT doc_id, n_tokens, pos,
             CASE WHEN COALESCE(pos - LAG(pos) OVER (
                    PARTITION BY doc_id ORDER BY pos), {_SUB_L} + 1)
                  > {_SUB_L} THEN 1 ELSE 0 END AS brk
      FROM cov
    ), sp AS (
      SELECT doc_id, n_tokens, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS span
      FROM isl
    ), spans AS (
      SELECT doc_id, n_tokens, span,
             MAX(pos) - MIN(pos) + {_SUB_L} AS span_tokens
      FROM sp GROUP BY doc_id, n_tokens, span
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens,
           ROUND(CAST(SUM(span_tokens) AS DOUBLE) / n_tokens, 6) AS dup_frac
    FROM spans
    GROUP BY doc_id, n_tokens
    """,
)
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING dedup accounting (VERDICT r09 item 2 — the
    Lee-et-al suffix-array rung, the strongest dedup for training
    corpora): per document, the maximal merged spans of tokens
    covered by some {L}-token window occurring >= 2 times in the
    corpus (within- or cross-document), i.e. exactly the token set
    the suffix-array method removes. Emits per-doc exact integers
    (n_spans, dup_tokens, n_tokens) + the grid-safe fraction
    (denominator <= 99 can never land on the 5e-7 half-grid — 2-adic
    valuation argument, cf. the a_brier_score lesson).

    operators/dedup.duplicated_token_spans is the span-level operator
    (removal-ready artifact); this query rolls it up. The REGISTERED
    form runs the 100 TB path — positioned-gram explode, ONE shuffle
    on the 8-byte xxhash64 gram key (never the ~120-char strings),
    one shuffle by doc for the island merge; the oracle replays the
    exact-string form (DuckDB has no xxhash64), and hash==string
    equality on the fixture is test-pinned (a 64-bit collision needs
    ~2^32 distinct grams and could only ADD a span).

    Threshold {L} whitespace tokens (Lee et al. use 50 BPE tokens;
    this corpus runs 10-99 tokens/doc — probed live: 1868/1553
    duplicated positions across 41/45 docs at the two oracle
    scales, non-degenerate)."""
    from ..operators import dedup

    spans = dedup.duplicated_token_spans(
        _t(spark, sf_dir, "documents"), min_tokens=_SUB_L, hash_grams=True
    )
    return spans.groupBy("doc_id", "n_tokens").agg(
        F.count("*").cast("long").alias("n_spans"),
        F.sum("span_tokens").cast("long").alias("dup_tokens"),
        F.round(
            F.sum("span_tokens") / F.col("n_tokens").cast("double"), 6
        ).alias("dup_frac"),
    )


dedup_substring.__doc__ = dedup_substring.__doc__.replace("{L}", str(_SUB_L))


# ---------------------------------------------------------------------------
# text_bpe_encode — apply the induced BPE merges to the corpus
# ---------------------------------------------------------------------------

_ENC_CAPACITY = 256  # pack bin capacity, matching pack_sequences
_ENC_SHARDS = 8


_BPE_ENCODE_ORACLE = (
    r"""
    WITH RECURSIVE w0 AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> len(x) > 0) AS ws
      FROM documents
    ), t0 AS MATERIALIZED (
      SELECT doc_id, unnest(ws) AS sym,
             generate_subscripts(ws, 1) - 1 AS pos
      FROM w0
    ),"""
    + ",".join(_bpe_round_sql(r) for r in range(3))
    + f"""
    , enc AS (
      SELECT doc_id,
             COUNT(*) AS n_bpe_tokens,
             SUM(LEN(string_split(sym, ' '))) AS n_ws_tokens,
             SUM(CASE WHEN LEN(string_split(sym, ' ')) > 1
                      THEN 1 ELSE 0 END) AS n_fused_syms
      FROM t3 GROUP BY doc_id
    ), d AS MATERIALIZED (
      -- MATERIALIZED is load-bearing: the recursive walk below
      -- references d once per rank, and an inlined d re-runs the
      -- whole 3-round merge pipeline per iteration (measured 62 s of
      -- the 65 s --plain check at sf0.01; materialized, the walk is
      -- ~1 s — VERDICT r10 item 6)
      SELECT doc_id, n_bpe_tokens, n_ws_tokens, n_fused_syms,
             doc_id % {_ENC_SHARDS} AS shard,
             ROW_NUMBER() OVER (PARTITION BY doc_id % {_ENC_SHARDS}
                                ORDER BY doc_id) AS rn
      FROM enc
    ), walk AS (
      SELECT shard, doc_id, n_bpe_tokens, n_ws_tokens, n_fused_syms, rn,
             CAST(0 AS BIGINT) AS bin, n_bpe_tokens AS fill
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.shard, d.doc_id, d.n_bpe_tokens, d.n_ws_tokens,
             d.n_fused_syms, d.rn,
             CASE WHEN w.fill + d.n_bpe_tokens <= {_ENC_CAPACITY}
                  THEN w.bin ELSE w.bin + 1 END AS bin,
             CASE WHEN w.fill + d.n_bpe_tokens <= {_ENC_CAPACITY}
                  THEN w.fill + d.n_bpe_tokens
                  ELSE d.n_bpe_tokens END AS fill
      FROM walk w JOIN d ON d.shard = w.shard AND d.rn = w.rn + 1
    )
    SELECT doc_id,
           CAST(n_ws_tokens AS BIGINT) AS n_ws_tokens,
           CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens,
           CAST(n_fused_syms AS BIGINT) AS n_fused_syms,
           CAST(shard AS BIGINT) AS shard,
           CAST(bin AS BIGINT) AS bin
    FROM walk
    """
)


@query("text_bpe_encode", oracle=_BPE_ENCODE_ORACLE)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE + PACK (VERDICT r09 item 3 — the induce->apply->pack
    loop closed): apply the 3 merges text_bpe_merges_k induces
    (operators/text.bpe_merge_rounds(return_tokens=True) — the greedy
    left-to-right application as pure window arithmetic, k merges
    learned AND applied) to the whole corpus, roll up per document
    (BPE token count, original whitespace count, fused-symbol count —
    reconciling exactly: n_ws == n_bpe + total spaces inside fused
    symbols, both shipped), then run next-fit sequence packing on the
    ENCODED counts (operators/packing.pack_next_fit, capacity {cap},
    {sh} hash shards) — the bins a trainer's batch builder reads.

    The DuckDB twin replays the SAME 3 unrolled merge rounds
    (queries/staged_r05._bpe_round_sql — the shared oracle builder),
    the SAME per-doc rollup, and the SAME next-fit fold as a
    recursive walk, so every bin assignment is hash-checked
    cross-engine. A sequential Python greedy-BPE replay additionally
    pins the application (test_staged_r16 — independent of both
    engines' window formulation, the Friedman-lesson insurance).

    Scale: the merge application is k bounded window passes per doc
    (partitionBy doc_id — never a global sort); only narrow
    (doc_id, counts) rows enter the packing shuffle; text never
    moves. Lazy end to end (return_tokens at k=3 marks round caches
    lazily)."""
    from ..operators import packing, text

    toks = text.bpe_merge_rounds(
        _t(spark, sf_dir, "documents"), k=3, return_tokens=True
    )
    n_parts = F.size(F.split(F.col("sym"), " "))
    enc = toks.groupBy("doc_id").agg(
        F.count("*").alias("n_bpe_tokens"),
        F.sum(n_parts).alias("n_ws_tokens"),
        F.sum((n_parts > 1).cast("long")).alias("n_fused_syms"),
    )
    packed = packing.pack_next_fit(
        enc.withColumn("shard", F.col("doc_id") % _ENC_SHARDS),
        capacity=_ENC_CAPACITY,
        tok_col="n_bpe_tokens",
    )
    return (
        enc.join(packed.select("doc_id", "shard", "bin"), "doc_id")
        .select(
            "doc_id",
            F.col("n_ws_tokens").cast("long").alias("n_ws_tokens"),
            F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
            F.col("n_fused_syms").cast("long").alias("n_fused_syms"),
            F.col("shard").cast("long").alias("shard"),
            F.col("bin").cast("long").alias("bin"),
        )
    )


text_bpe_encode.__doc__ = text_bpe_encode.__doc__.replace(
    "{cap}", str(_ENC_CAPACITY)
).replace("{sh}", str(_ENC_SHARDS))


# ---------------------------------------------------------------------------
# dedup_substring_keepfirst — the Lee-et-al REMOVAL form
# ---------------------------------------------------------------------------


@query(
    "dedup_substring_keepfirst",
    oracle=rf"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> len(x) > 0) AS ws
      FROM documents
    ), pos AS (
      SELECT doc_id, LEN(ws) AS n_tokens, ws,
             unnest(generate_series(1, GREATEST(LEN(ws) - {_SUB_L} + 1, 0)))
               AS pos
      FROM w
    ), gr AS (
      SELECT doc_id, n_tokens, pos,
             list_aggr(ws[pos:pos + {_SUB_L} - 1], 'string_agg', ' ') AS gram
      FROM pos
    ), cov AS (
      SELECT doc_id, n_tokens, pos
      FROM (SELECT doc_id, n_tokens, pos,
                   ROW_NUMBER() OVER (PARTITION BY gram
                                      ORDER BY doc_id, pos) AS rn
            FROM gr)
      WHERE rn >= 2
    ), isl AS (
      SELECT doc_id, n_tokens, pos,
             CASE WHEN COALESCE(pos - LAG(pos) OVER (
                    PARTITION BY doc_id ORDER BY pos), {_SUB_L} + 1)
                  > {_SUB_L} THEN 1 ELSE 0 END AS brk
      FROM cov
    ), sp AS (
      SELECT doc_id, n_tokens, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS span
      FROM isl
    ), spans AS (
      SELECT doc_id, n_tokens, span,
             MAX(pos) - MIN(pos) + {_SUB_L} AS span_tokens
      FROM sp GROUP BY doc_id, n_tokens, span
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(span_tokens) AS BIGINT) AS removed_tokens,
           CAST(n_tokens - SUM(span_tokens) AS BIGINT) AS kept_tokens
    FROM spans
    GROUP BY doc_id, n_tokens
    """,
)
def dedup_substring_keepfirst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup, REMOVAL form — what Lee et al. actually
    apply to a training corpus: for every duplicated >= {L}-token
    window, the corpus-FIRST occurrence (by doc_id, pos) survives and
    every later one is marked for removal, so exactly one copy of
    each substring remains. dedup_substring is the AUDIT form
    (marks all occurrences); this is the rewrite plan — per doc, the
    maximal removable spans rolled up to exact integers
    (removed_tokens + kept_tokens == n_tokens by construction, both
    shipped). Same two-shuffle shape; the occurrence-count window
    becomes a row_number over the same 8-byte hash key.

    The asymmetry vs the audit form is itself planted-test-pinned:
    the first copy of a cross-doc shared run keeps its tokens here
    but is flagged there."""
    from ..operators import dedup

    spans = dedup.duplicated_token_spans(
        _t(spark, sf_dir, "documents"),
        min_tokens=_SUB_L,
        hash_grams=True,
        keep_first=True,
    )
    return spans.groupBy("doc_id", "n_tokens").agg(
        F.count("*").cast("long").alias("n_spans"),
        F.sum("span_tokens").cast("long").alias("removed_tokens"),
        (F.col("n_tokens") - F.sum("span_tokens"))
        .cast("long")
        .alias("kept_tokens"),
    )


dedup_substring_keepfirst.__doc__ = dedup_substring_keepfirst.__doc__.replace(
    "{L}", str(_SUB_L)
)


# ---------------------------------------------------------------------------
# sim_hnsw_lifecycle — persisted graph-ANN index maintenance
# ---------------------------------------------------------------------------


@query(
    "sim_hnsw_lifecycle",
    oracle="""
    SELECT CAST(vec_id AS BIGINT) AS new_id,
           TRUE AS self_found, TRUE AS compact_ok, TRUE AS recall_ok
    FROM embeddings WHERE vec_id % 4 = 3 AND vec_id < 400
    """,
)
def sim_hnsw_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted GRAPH-ANN index lifecycle as a driver-checkable
    invariant — the serving story for sim_topk_hnsw (fifth
    instantiation of the shared ledger protocol, after MinHash /
    BM25 / IVF / embdedup): build the neighbor-graph index on
    vec_id % 4 != 3, stream the rest through hnsw_index_append in two
    delta batches (INCREMENTAL insertion: each new vector's top-m is
    found by searching the existing graph — the real HNSW insert —
    and edges land BOTH ways so new vectors are reachable), then
    assert

      self_found : every appended probe (bounded cohort, vec_id<400)
                   is FOUND by a fresh search with its own vector
                   (top-3 contains it at cos 1.0) — proves appended
                   vectors are searchable, not just stored
      compact_ok : the 10-query search signature is identical before
                   and after compaction (bounded pre-compaction
                   snapshot collect — the fenced lifecycle exception)
      recall_ok  : post-append recall@5 vs the exact brute force over
                   the FULL corpus >= 0.9 (measured 1.0 at all three
                   scales)

    Deterministic at fixed data (seeded hyperplanes, id tie-breaks) =>
    the all-TRUE DuckDB twin is a real hash check. Eager at build
    time (index build + two sink writes + compaction into throwaway
    scratch — the documented bounded-lint-execution class)."""
    from .. import catalog
    from ..operators import similarity

    base = os.path.join(_scratch("hnsw_life"), "idx")
    e = _t(spark, sf_dir, "embeddings")
    old = e.filter(F.col("vec_id") % 4 != 3)
    similarity.hnsw_index_build(old, base)
    sink = similarity.hnsw_index_append(base)
    sink(e.filter(F.col("vec_id") % 8 == 3), 0)
    sink(e.filter(F.col("vec_id") % 8 == 7), 1)

    q10 = e.filter(F.col("vec_id") < 10).withColumnRenamed(
        "vec_id", "query_id"
    )

    def sig(df: DataFrame) -> DataFrame:
        return df.groupBy("query_id").agg(
            F.array_sort(
                F.collect_list(F.struct("rnk", "neighbor_id", "cos_sim"))
            ).alias("sig")
        )

    sig_schema = (
        "query_id long, sig array<struct<rnk: long, neighbor_id: long, "
        "cos_sim: double>>"
    )
    pre = catalog.local_df(
        spark,
        sig(similarity.hnsw_index_search(spark, base, q10, k=5)).collect(),
        sig_schema,
    )
    similarity.hnsw_index_compact(spark, base)
    post = sig(similarity.hnsw_index_search(spark, base, q10, k=5))
    compact_row = (
        pre.withColumnRenamed("sig", "pre_sig")
        .join(post.withColumnRenamed("sig", "post_sig"), "query_id", "full")
        .agg(
            F.min(
                F.col("pre_sig").eqNullSafe(F.col("post_sig"))
            ).alias("compact_ok")
        )
    )

    truth = similarity.brute_force_topk(q10, e, k=5)
    got = similarity.hnsw_index_search(spark, base, q10, k=5)
    hits = got.select("query_id", "neighbor_id").join(
        truth.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    ).agg(F.count("*").alias("hits"))
    total = truth.agg(F.count("*").alias("total"))
    recall_row = hits.crossJoin(F.broadcast(total)).select(
        (F.col("hits") / F.col("total") >= 0.9).alias("recall_ok")
    )

    probes = e.filter((F.col("vec_id") % 4 == 3) & (F.col("vec_id") < 400))
    pq = probes.select(
        (F.col("vec_id") + 1_000_000).alias("query_id"), "embedding"
    )
    found = similarity.hnsw_index_search(spark, base, pq, k=3)
    self_hit = (
        found.filter(
            (F.col("neighbor_id") == F.col("query_id") - 1_000_000)
            & (F.col("cos_sim") == 1.0)
        )
        .select((F.col("query_id") - 1_000_000).alias("new_id"))
        .distinct()
        .withColumn("hit", F.lit(True))
    )
    per_probe = (
        probes.select(F.col("vec_id").cast("long").alias("new_id"))
        .join(self_hit, "new_id", "left")
        .select(
            "new_id", F.coalesce(F.col("hit"), F.lit(False)).alias("self_found")
        )
    )
    return per_probe.crossJoin(F.broadcast(compact_row)).crossJoin(
        F.broadcast(recall_row)
    )


# ---------------------------------------------------------------------------
# a_offpolicy_replay — off-policy policy-value estimation (replay method)
# ---------------------------------------------------------------------------


@query(
    "a_offpolicy_replay",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ), arms AS (
      SELECT event_type,
             ROW_NUMBER() OVER (ORDER BY event_type) - 1 AS idx
      FROM (SELECT DISTINCT event_type FROM e)
    ), hashm AS (
      SELECT COUNT(*) AS n, SUM(cents) AS r
      FROM e JOIN arms USING (event_type)
      WHERE (user_id * 2654435761) % 4294967296
            % (SELECT COUNT(*) FROM arms) = idx
    ), best AS (
      SELECT event_type FROM e GROUP BY 1
      ORDER BY SUM(cents) DESC, event_type LIMIT 1
    ), bestm AS (
      SELECT COUNT(*) AS n, SUM(cents) AS r FROM e JOIN best USING (event_type)
    ), logged AS (
      SELECT COUNT(*) AS n, SUM(cents) AS r FROM e
    )
    SELECT 'best_global' AS policy, CAST(n AS BIGINT) AS n_matched,
           CAST(r AS BIGINT) AS reward_cents
    FROM bestm
    UNION ALL
    SELECT 'hash5', CAST(n AS BIGINT), CAST(r AS BIGINT) FROM hashm
    UNION ALL
    SELECT 'logged', CAST(n AS BIGINT), CAST(r AS BIGINT) FROM logged
    """,
)
def a_offpolicy_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OFF-POLICY policy-value estimation by the REPLAY method (Li et
    al. 2011 — the standard way to evaluate a new serving/ranking
    policy on logged data WITHOUT deploying it): keep exactly the
    logged events where the candidate policy would have chosen the
    same arm the logger did, and read the matched subset's reward.
    Two candidates against the logged baseline — 'hash5', a
    deterministic per-user personalization (arm index =
    portable_bucket(user_id, k) over the alphabetical arm list;
    5 arms is a non-power-of-2 width, unaffected by the portable-arm
    parity lesson), and 'best_global' (always play the arm with the
    highest total logged reward — data-derived 1-row broadcast).
    Everything ships as exact integers (match counts + cent-grid
    reward sums); the per-match value is the consumer's division
    (band-grid endgame). Under a uniform logger the replay estimate
    is unbiased for the policy's value — the test pins the estimator
    against an independent Python replay.

    Scale: one fact scan + a 5-row broadcast per policy arm table;
    three 1-row reduces."""
    from ..functions.columns import portable_bucket
    from ..operators.ranks import constant_partition_key
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    arms = e.select("event_type").distinct()
    w = Window.partitionBy(constant_partition_key(F.col("event_type"))).orderBy(
        "event_type"
    )
    arms_idx = arms.select(
        "event_type",
        (F.row_number().over(w) - 1).alias("idx"),
        F.count("*")
        .over(
            Window.partitionBy(constant_partition_key(F.col("event_type")))
        )
        .alias("k"),
    )
    # portable_bucket with the FULL 2^32 modulus returns the raw mix;
    # the data-derived arm count then mods it as a column (matching
    # the twin's `% 4294967296 % k` exactly)
    mix = portable_bucket(F.col("user_id"), 2**32)
    hashm = (
        e.join(F.broadcast(arms_idx), "event_type")
        .filter(F.pmod(mix, F.col("k")) == F.col("idx"))
        .agg(F.count("*").alias("n"), F.sum("cents").alias("r"))
    )
    best = (
        e.groupBy("event_type")
        .agg(F.sum("cents").alias("tot"))
        .orderBy(F.desc("tot"), F.asc("event_type"))
        .limit(1)
        .select("event_type")
    )
    bestm = e.join(F.broadcast(best), "event_type").agg(
        F.count("*").alias("n"), F.sum("cents").alias("r")
    )
    logged = e.agg(F.count("*").alias("n"), F.sum("cents").alias("r"))

    def row(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("policy"),
            F.col("n").cast("long").alias("n_matched"),
            F.col("r").cast("long").alias("reward_cents"),
        )

    return (
        row("best_global", bestm)
        .unionByName(row("hash5", hashm))
        .unionByName(row("logged", logged))
    )


# ---------------------------------------------------------------------------
# dedup_substring_rewrite — materialize the deduplicated corpus
# ---------------------------------------------------------------------------


@query(
    "dedup_substring_rewrite",
    oracle=rf"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> len(x) > 0) AS ws
      FROM documents
    ), pos AS (
      SELECT doc_id, LEN(ws) AS n_tokens, ws,
             unnest(generate_series(1, GREATEST(LEN(ws) - {_SUB_L} + 1, 0)))
               AS pos
      FROM w
    ), gr AS (
      SELECT doc_id, n_tokens, pos,
             list_aggr(ws[pos:pos + {_SUB_L} - 1], 'string_agg', ' ') AS gram
      FROM pos
    ), cov AS (
      SELECT doc_id, pos
      FROM (SELECT doc_id, pos,
                   ROW_NUMBER() OVER (PARTITION BY gram
                                      ORDER BY doc_id, pos) AS rn
            FROM gr)
      WHERE rn >= 2
    ), isl AS (
      SELECT doc_id, pos,
             CASE WHEN COALESCE(pos - LAG(pos) OVER (
                    PARTITION BY doc_id ORDER BY pos), {_SUB_L} + 1)
                  > {_SUB_L} THEN 1 ELSE 0 END AS brk
      FROM cov
    ), sp AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS span
      FROM isl
    ), spans AS (
      SELECT doc_id, MIN(pos) AS span_start,
             MAX(pos) - MIN(pos) + {_SUB_L} AS span_tokens
      FROM sp GROUP BY doc_id, span
    ), rm AS (
      SELECT doc_id,
             unnest(generate_series(span_start,
                                    span_start + span_tokens - 1)) AS pos
      FROM spans
    ), tok AS (
      SELECT doc_id, unnest(ws) AS wtok,
             generate_subscripts(ws, 1) AS pos
      FROM w
    ), kept AS (
      SELECT t.doc_id, t.wtok, t.pos
      FROM tok t ANTI JOIN rm ON rm.doc_id = t.doc_id AND rm.pos = t.pos
    ), agg AS (
      SELECT doc_id, COUNT(*) AS n_tokens_out,
             string_agg(wtok, ' ' ORDER BY pos) AS text_out
      FROM kept GROUP BY doc_id
    )
    SELECT w.doc_id,
           CAST(LEN(w.ws) AS BIGINT) AS n_tokens_in,
           CAST(COALESCE(agg.n_tokens_out, 0) AS BIGINT) AS n_tokens_out,
           COALESCE(agg.text_out, '') AS text_out
    FROM w LEFT JOIN agg ON agg.doc_id = w.doc_id
    """,
)
def dedup_substring_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATERIALIZE the exact-substring-deduplicated corpus — the
    actual Lee-et-al rewrite, closing the audit → plan → rewrite
    loop (dedup_substring measures, _keepfirst plans, this PRODUCES):
    every token inside a removable span (later copy of a duplicated
    >= {L}-token window) is deleted and the surviving tokens rejoin
    in position order; the FULL corpus comes back (docs with nothing
    removed pass through; a doc that was entirely a later copy
    returns empty text). The rewritten TEXT itself is hash-checked
    cross-engine, not just counts — the strongest possible check on
    a corpus transformation.

    Boundary caveat (shared with Lee et al.'s substring removal, and
    live-caught by the first keep-one test draft): keep-one holds at
    the WINDOW-MARKING level — a gram's corpus-first window is never
    marked — but removable windows of OTHER grams may overlap a first
    copy's tokens, so removal can SPLICE kept fragments; the pinned
    guarantees are exact per-doc reconciliation with the _keepfirst
    plan and a strict drop in duplicated-gram positions.

    Scale: the span plan's two narrow shuffles + one anti-join of
    (doc, pos) token rows against expanded span positions + one
    per-doc ordered rebuild (array_sort over <=n_tokens structs —
    bounded per doc, never a corpus collect). Text leaves the plan
    only in the final per-doc concat."""
    from ..operators import dedup

    docs = _t(spark, sf_dir, "documents")
    spans = dedup.duplicated_token_spans(
        docs, min_tokens=_SUB_L, hash_grams=True, keep_first=True
    )
    rm = spans.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.col("span_start"),
                F.col("span_start") + F.col("span_tokens") - 1,
            )
        ).alias("pos"),
    )
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: F.length(t) > 0
    )
    tok = docs.select(
        "doc_id", F.posexplode(toks).alias("pos0", "wtok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "wtok")
    kept = tok.join(rm, ["doc_id", "pos"], "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens_out"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "wtok"))),
                lambda x: x["wtok"],
            ),
            " ",
        ).alias("text_out"),
    )
    base = docs.select("doc_id", F.size(toks).alias("n_tokens_in"))
    return base.join(agg, "doc_id", "left").select(
        "doc_id",
        F.col("n_tokens_in").cast("long").alias("n_tokens_in"),
        F.coalesce(F.col("n_tokens_out"), F.lit(0))
        .cast("long")
        .alias("n_tokens_out"),
        F.coalesce(F.col("text_out"), F.lit("")).alias("text_out"),
    )


dedup_substring_rewrite.__doc__ = dedup_substring_rewrite.__doc__.replace(
    "{L}", str(_SUB_L)
)
