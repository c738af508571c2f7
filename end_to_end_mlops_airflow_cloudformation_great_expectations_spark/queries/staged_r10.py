"""Round-8-queue queries, third batch: ranking-model evaluation and
retrieval/phrase mining.

Five oracle-backed families completing two stories the registry
already tells halfway:

- model EVALUATION beyond the confusion table (a_classifier_eval):
  ``a_roc_auc``          — exact tie-corrected ROC-AUC of a scorer
                           (midrank formulation, the a_mannwhitney_u
                           machinery pointed at model eval),
  ``a_calibration_bins`` — reliability table (predicted-probability
                           bins vs empirical positive rate),
  ``a_gains_deciles``    — cumulative-gains / lift table by score
                           decile (the targeting-campaign view).
- RETRIEVAL beyond single-arm scoring (text_bm25 / sim_topk_*):
  ``text_hybrid_rrf``    — reciprocal-rank-fusion of the BM25 arm and
                           the embedding-cosine arm, the standard
                           hybrid-search fusion.
- PHRASE MINING beyond raw bigram counts (text_bigram_merges):
  ``text_pmi_collocations`` — pointwise-mutual-information scored
                           collocations at a min-support cut.

All scores are rounded onto the registry's 1e-6 grid BEFORE any
ranking/binning, so ties and bucket edges agree cross-engine
(registry conventions, queries/registry.py). All were proven green at
sf0.001 + sf0.01 (incl. --plain) before registration.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load as _t
from ..operators import text
from ..operators.ranks import attach_global_ranks, constant_partition_key
from .registry import ORACLES, query


# Vector helpers take column NAMES and return one ``F.expr``: the
# Python-lambda form of each costs ~15-20 ms of Py4J round trips at
# plan build, the SQL text one parse.


def _sqnorm(col: str) -> Column:
    return F.expr(
        f"aggregate(transform(`{col}`, a -> CAST(a AS DOUBLE) * CAST(a AS DOUBLE)),"
        " 0D, (acc, x) -> acc + x)"
    )


def _dot(a: str, b: str) -> Column:
    return F.expr(
        f"aggregate(zip_with(`{a}`, `{b}`, (x, y) -> CAST(x AS DOUBLE) * y),"
        " 0D, (acc, x) -> acc + x)"
    )


def _centroid_array() -> Column:
    """Aggregate: the (i, c) centroid rows of a group as one array of
    c ordered by i."""
    return F.expr("transform(array_sort(collect_list(struct(i, c))), p -> p.c)")


# --------------------------------------------------------------------
# shared scorer: cosine similarity to the label-0 centroid, the binary
# "is this a label-0 vector?" ranking task. Same centroid arithmetic
# as emb_centroid_classify (staged_r07), restricted to one class.
# --------------------------------------------------------------------

_POS_LABEL = 0

#: DuckDB CTE producing (vec_id, is_pos, score) — the oracle twin of
#: :func:`_centroid0_scores`. Interpolated into all three eval oracles.
_SCORES_CTE = f"""
    ex0 AS (
      SELECT i, CAST(x AS DOUBLE) AS x FROM (
        SELECT unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings WHERE label = {_POS_LABEL}) t
    ), cent AS (
      SELECT i, ROUND(AVG(x), 6) AS c FROM ex0 GROUP BY i
    ), vex AS (
      SELECT vec_id,
             CASE WHEN label = {_POS_LABEL} THEN 1 ELSE 0 END AS is_pos,
             CAST(x AS DOUBLE) AS x, i
      FROM (
        SELECT vec_id, label, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings) t
    ), scores AS (
      SELECT vex.vec_id, vex.is_pos,
             ROUND(SUM(vex.x * cent.c)
                   / NULLIF(SQRT(SUM(vex.x * vex.x))
                            * SQRT(SUM(cent.c * cent.c)), 0.0),
                   6) AS score
      FROM vex JOIN cent USING (i)
      GROUP BY 1, 2
    )
"""


def _centroid0_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, is_pos, score): cosine of every embedding to the
    1e-6-gridded label-{pos} centroid. One corpus scan fits the
    centroid (a d-row aggregate reassembled into a 1-row array), a
    second map-only scan scores — the emb_centroid_classify shape with
    |labels| fixed at 1, so no cardinality guard is needed."""
    e = _t(spark, sf_dir, "embeddings")
    ex0 = e.filter(F.col("label") == _POS_LABEL).select(
        F.posexplode("embedding").alias("i", "x")
    )
    cent = ex0.groupBy("i").agg(
        F.round(F.avg(F.col("x").cast("double")), 6).alias("c")
    )
    cent_arr = cent.groupBy().agg(_centroid_array().alias("carr"))
    return (
        e.select(
            "vec_id",
            (F.col("label") == _POS_LABEL).cast("int").alias("is_pos"),
            "embedding",
        )
        .crossJoin(F.broadcast(cent_arr))
        .select(
            "vec_id",
            "is_pos",
            F.round(
                _dot("embedding", "carr")
                / F.nullif(
                    F.sqrt(_sqnorm("embedding")) * F.sqrt(_sqnorm("carr")),
                    F.lit(0.0),
                ),
                6,
            ).alias("score"),
        )
    )


_centroid0_scores.__doc__ = _centroid0_scores.__doc__.replace(
    "{pos}", str(_POS_LABEL)
)


@query(
    "a_roc_auc",
    oracle=f"""
    WITH {_SCORES_CTE}
    , r AS (
      SELECT is_pos, score,
             ROW_NUMBER() OVER (
               ORDER BY score ASC, is_pos ASC, vec_id ASC
             ) AS i
      FROM scores
    ), m AS (
      SELECT is_pos,
             (MIN(i) OVER (PARTITION BY score)
              + MAX(i) OVER (PARTITION BY score)) / 2.0 AS mid
      FROM r
    ), agg AS (
      SELECT SUM(is_pos) AS np, SUM(1 - is_pos) AS nn,
             SUM(CASE WHEN is_pos = 1 THEN mid ELSE 0.0 END) AS rp
      FROM m
    )
    SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
           ROUND((rp - np * (np + 1) / 2.0) / (np * nn), 6) AS auc,
           ROUND(2.0 * ((rp - np * (np + 1) / 2.0) / (np * nn)) - 1.0,
                 6) AS gini
    FROM agg
    """,
)
def a_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the label-0 centroid scorer — the threshold-
    free companion to a_classifier_eval's confusion table, and the
    metric a data-curation pipeline tracks for its quality/domain
    classifiers. Computed via the rank-sum identity
    AUC = (ΣR⁺ − n⁺(n⁺+1)/2) / (n⁺n⁻) with textbook MIDRANKS for tied
    scores (the a_mannwhitney_u machinery: distributed global ranks
    from operators/ranks, midrank = (min+max)/2 of the tie block), so
    the result is the exact area, not a trapezoid approximation, and
    ties cannot make the engines disagree (scores sit on the 1e-6
    grid before ranking). Gini = 2·AUC − 1 alongside.

    Scale: two corpus scans (centroid fit + scoring) and ONE
    rank-attach (a range-exchange — the operator's documented
    distributed shape); everything after is a 1-row aggregate. No
    per-class quadratic anything; n⁺, n⁻ are exact longs."""
    scored = _centroid0_scores(spark, sf_dir)
    ranked = attach_global_ranks(
        scored,
        sort_cols=[F.asc("score"), F.asc("is_pos"), F.asc("vec_id")],
        key_cols=[F.col("score"), F.col("is_pos"), F.col("vec_id")],
        rn_col="i",
    )
    wv = Window.partitionBy("score")
    mids = ranked.select(
        "is_pos",
        (
            (F.min("i").over(wv).cast("double") + F.max("i").over(wv)) / 2.0
        ).alias("mid"),
    )
    agg = mids.agg(
        F.sum("is_pos").cast("double").alias("np"),
        F.sum(1 - F.col("is_pos")).cast("double").alias("nn"),
        F.sum(F.when(F.col("is_pos") == 1, F.col("mid")).otherwise(0.0)).alias(
            "rp"
        ),
    )
    auc = (F.col("rp") - F.col("np") * (F.col("np") + 1) / 2.0) / (
        F.col("np") * F.col("nn")
    )
    return agg.select(
        F.col("np").cast("long").alias("n_pos"),
        F.col("nn").cast("long").alias("n_neg"),
        F.round(auc, 6).alias("auc"),
        F.round(2.0 * auc - 1.0, 6).alias("gini"),
    )


_CAL_BINS = 10


@query(
    "a_calibration_bins",
    oracle=f"""
    WITH {_SCORES_CTE}
    , p AS (
      SELECT is_pos, ROUND((score + 1.0) / 2.0, 6) AS p
      FROM scores
    )
    SELECT CAST(LEAST(FLOOR(p * {_CAL_BINS}), {_CAL_BINS - 1}) AS BIGINT)
             AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(is_pos) AS BIGINT) AS n_pos,
           ROUND(AVG(p), 6) AS avg_p,
           ROUND(CAST(SUM(is_pos) AS DOUBLE) / COUNT(*), 6) AS pos_rate
    FROM p
    GROUP BY 1
    """,
)
def a_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability (calibration) table of the label-0 centroid scorer:
    map cosine onto [0,1] via p = (score+1)/2, bucket into 10 fixed
    bins, and report mean predicted p vs empirical positive rate per
    bin — the diagram a pipeline reads before trusting classifier
    scores as sampling weights (p_domain_reweight's precondition).

    Determinism: p lands on the 1e-6 grid BEFORE the fixed-grid
    binning (the a_histogram_fixed_bins arithmetic — FLOOR(p·k)
    clamped), so bucket edges agree cross-engine; counts are exact
    longs and pos_rate is one exact-integer division.

    Scale: the scoring scans plus ONE |bins|-cell aggregation —
    bounded-state, a single pass at any corpus size."""
    scored = _centroid0_scores(spark, sf_dir)
    p = F.round((F.col("score") + 1.0) / 2.0, 6)
    binned = scored.select(
        "is_pos",
        p.alias("p"),
        F.least(F.floor(p * _CAL_BINS), F.lit(_CAL_BINS - 1))
        .cast("long")
        .alias("bin"),
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum("is_pos").cast("long").alias("n_pos"),
        F.round(F.avg("p"), 6).alias("avg_p"),
        F.round(
            F.sum("is_pos").cast("double") / F.count("*"), 6
        ).alias("pos_rate"),
    )


_N_DECILES = 10


@query(
    "a_gains_deciles",
    oracle=f"""
    WITH {_SCORES_CTE}
    , d AS (
      SELECT is_pos,
             NTILE({_N_DECILES}) OVER (
               ORDER BY score DESC, vec_id ASC
             ) AS decile
      FROM scores
    ), g AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(is_pos) AS BIGINT) AS n_pos
      FROM d GROUP BY 1
    ), c AS (
      SELECT decile, n, n_pos,
             SUM(n_pos) OVER (
               ORDER BY decile ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_pos,
             SUM(n) OVER () AS tn,
             SUM(n_pos) OVER () AS tp
      FROM g
    )
    SELECT CAST(decile AS BIGINT) AS decile, n, n_pos,
           ROUND(CAST(cum_pos AS DOUBLE) / tp, 6) AS cum_capture,
           ROUND((CAST(n_pos AS DOUBLE) / n)
                 / (CAST(tp AS DOUBLE) / tn), 6) AS lift
    FROM c
    """,
)
def a_gains_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-gains / lift table by score decile: order the corpus
    by the label-0 centroid score, cut into 10 equal tiles, and report
    per-decile positive capture and lift over the base rate — "how
    much of the target class do the top-k% of scores contain", the
    view that decides how far down a ranked corpus a curation pass
    should sample.

    Determinism: deciles cut the (score DESC, vec_id ASC) total order
    with scores on the 1e-6 grid — attach_global_ranks' ntile
    implements exactly SQL NTILE's base/base+1 split, so tile
    boundaries agree cross-engine; everything reported is exact longs
    or one exact division rounded to the grid.

    Scale: scoring scans + ONE distributed rank-attach; the decile
    table is 10 rows, so the cumulative window over it runs on the
    bounded post-aggregation table (constant-key partition, the
    ratio-to-report discipline)."""
    scored = _centroid0_scores(spark, sf_dir)
    tiled = attach_global_ranks(
        scored,
        sort_cols=[F.desc("score"), F.asc("vec_id")],
        key_cols=[F.col("score"), F.col("vec_id")],
        ntile=_N_DECILES,
        ntile_col="decile",
    )
    g = tiled.groupBy("decile").agg(
        F.count("*").alias("n"),
        F.sum("is_pos").cast("long").alias("n_pos"),
    )
    one = constant_partition_key(F.col("decile"))
    cum = Window.partitionBy(one).orderBy(F.asc("decile")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.partitionBy(one).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = g.select(
        "decile",
        "n",
        "n_pos",
        F.sum("n_pos").over(cum).alias("cum_pos"),
        F.sum("n").over(tot).alias("tn"),
        F.sum("n_pos").over(tot).alias("tp"),
    )
    return c.select(
        "decile",
        "n",
        "n_pos",
        F.round(F.col("cum_pos").cast("double") / F.col("tp"), 6).alias(
            "cum_capture"
        ),
        F.round(
            (F.col("n_pos").cast("double") / F.col("n"))
            / (F.col("tp").cast("double") / F.col("tn")),
            6,
        ).alias("lift"),
    )


_PMI_MINSUP = 5
_PMI_TOPK = 20


@query(
    "text_pmi_collocations",
    oracle=rf"""
    WITH t AS (
      SELECT list_filter(string_split_regex(lower(text), '\s+'),
                         x -> len(x) > 0) AS ws
      FROM documents
    ), tok AS (
      SELECT unnest(ws) AS w FROM t
    ), uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cw FROM tok GROUP BY w
    ), tw AS (
      SELECT CAST(SUM(cw) AS DOUBLE) AS tw FROM uni
    ), pr AS (
      SELECT unnest(list_transform(range(1, len(ws)),
                                   i -> ws[i] || ' ' || ws[i + 1])) AS pair
      FROM t
    ), pc AS (
      SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt FROM pr GROUP BY pair
    ), tp AS (
      SELECT CAST(SUM(cnt) AS DOUBLE) AS tp FROM pc
    ), scored AS (
      SELECT pc.pair, pc.cnt,
             ROUND(LN((pc.cnt / tp.tp)
                      / ((u1.cw / tw.tw) * (u2.cw / tw.tw))), 6) AS pmi
      FROM pc
      JOIN uni u1 ON u1.w = string_split(pc.pair, ' ')[1]
      JOIN uni u2 ON u2.w = string_split(pc.pair, ' ')[2]
      CROSS JOIN tw CROSS JOIN tp
      WHERE pc.cnt >= {_PMI_MINSUP}
    )
    SELECT pair, cnt, pmi FROM scored
    ORDER BY pmi DESC, pair ASC
    LIMIT {_PMI_TOPK}
    """,
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information collocation mining: score every
    adjacent word pair with PMI = ln(P(ab) / (P(a)·P(b))) at
    min-support {minsup}, report the top-{topk} — the phrase-mining
    step that turns raw bigram counts (text_bigram_merges) into
    "these two words belong together" vocabulary candidates for a
    tokenizer or query-expansion table.

    Determinism: counts are exact longs; the PMI expression is the
    SAME arithmetic shape on both engines ((cnt/tp) / ((cw1/tw)·
    (cw2/tw)) in doubles — ratios first, so no long overflow at any
    corpus size), rounded to the 1e-6 grid BEFORE the top-k cut; ties
    at the cut break on pair text.

    Scale: two token-stream aggregations (pair counts, unigram
    counts) off one documents scan each, both map-side-combined; the
    min-support filter prunes the long tail BEFORE the two
    vocab-sized count joins (AQE broadcasts them at small SF,
    shuffles at large); totals are 1-row broadcasts; the top-k is
    TakeOrderedAndProject, never a global sort."""
    d = _t(spark, sf_dir, "documents")
    ws = text.words("text")
    toks = d.select(F.explode(ws).alias("w"))
    uni = toks.groupBy("w").agg(F.count("*").alias("cw"))
    tw = uni.agg(F.sum("cw").cast("double").alias("tw"))
    pairs = F.zip_with(
        F.slice(ws, 1, F.size(ws) - 1),
        F.slice(ws, 2, F.size(ws) - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    pc = (
        d.filter(F.size(ws) >= 2)
        .select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("cnt"))
    )
    tp = pc.agg(F.sum("cnt").cast("double").alias("tp"))
    w12 = F.split(F.col("pair"), " ")
    scored = (
        pc.filter(F.col("cnt") >= _PMI_MINSUP)
        .withColumn("w1", w12[0])
        .withColumn("w2", w12[1])
        .join(
            uni.select(F.col("w").alias("w1"), F.col("cw").alias("cw1")),
            "w1",
        )
        .join(
            uni.select(F.col("w").alias("w2"), F.col("cw").alias("cw2")),
            "w2",
        )
        .crossJoin(F.broadcast(tw))
        .crossJoin(F.broadcast(tp))
        .select(
            "pair",
            "cnt",
            F.round(
                F.log(
                    (F.col("cnt") / F.col("tp"))
                    / (
                        (F.col("cw1") / F.col("tw"))
                        * (F.col("cw2") / F.col("tw"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), F.asc("pair")).limit(_PMI_TOPK)


text_pmi_collocations.__doc__ = text_pmi_collocations.__doc__.replace(
    "{minsup}", str(_PMI_MINSUP)
).replace("{topk}", str(_PMI_TOPK))


_RRF_K = 60
_ARM_TOPK = 50
_FUSE_TOPK = 20
_QUERY_VEC_ID = 0


def _rrf_sem_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic arm: cosine of every embedding to the query-by-example
    vector (vec_id {qid}), top-{k} by (sim DESC, vec_id ASC)."""
    e = _t(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.expr("transform(embedding, a -> CAST(a AS DOUBLE))").alias("qv")
    )
    return (
        e.select("vec_id", "embedding")
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(
                _dot("embedding", "qv")
                / F.nullif(
                    F.sqrt(_sqnorm("embedding")) * F.sqrt(_sqnorm("qv")),
                    F.lit(0.0),
                ),
                6,
            ).alias("sim"),
        )
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(_ARM_TOPK)
    )


_rrf_sem_arm.__doc__ = _rrf_sem_arm.__doc__.replace(
    "{qid}", str(_QUERY_VEC_ID)
).replace("{k}", str(_ARM_TOPK))


def _register_hybrid_rrf() -> None:
    """Registered via a closure so the oracle can embed text_bm25's
    REGISTERED oracle string as its lexical arm (the a_classifier_eval
    pattern — the composed oracle IS the component's oracle, so the
    two queries can never silently diverge)."""
    bm25_sql = ORACLES["text_bm25"].strip().rstrip(";")

    @query(
        "text_hybrid_rrf",
        oracle=f"""
        WITH bm AS ({bm25_sql}),
        lex AS (
          SELECT doc_id,
                 CAST(ROW_NUMBER() OVER (
                   ORDER BY bm25 DESC, doc_id ASC
                 ) AS INTEGER) AS r_lex
          FROM (SELECT * FROM bm ORDER BY bm25 DESC, doc_id ASC
                LIMIT {_ARM_TOPK})
        ), qv AS (
          SELECT i, CAST(x AS DOUBLE) AS q FROM (
            SELECT unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings WHERE vec_id = {_QUERY_VEC_ID}) t
        ), vex AS (
          SELECT vec_id, CAST(x AS DOUBLE) AS x, i FROM (
            SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings) t
        ), sims AS (
          SELECT vex.vec_id,
                 ROUND(SUM(vex.x * qv.q)
                       / NULLIF(SQRT(SUM(vex.x * vex.x))
                                * SQRT(SUM(qv.q * qv.q)), 0.0),
                       6) AS sim
          FROM vex JOIN qv USING (i)
          GROUP BY 1
        ), sem AS (
          SELECT vec_id AS doc_id,
                 CAST(ROW_NUMBER() OVER (
                   ORDER BY sim DESC, vec_id ASC
                 ) AS INTEGER) AS r_sem
          FROM (SELECT * FROM sims ORDER BY sim DESC, vec_id ASC
                LIMIT {_ARM_TOPK})
        ), fused AS (
          SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
                 lex.r_lex, sem.r_sem,
                 ROUND(COALESCE(1.0 / ({_RRF_K} + lex.r_lex), 0.0)
                       + COALESCE(1.0 / ({_RRF_K} + sem.r_sem), 0.0),
                       6) AS rrf
          FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
        )
        SELECT doc_id, r_lex, r_sem, rrf FROM fused
        ORDER BY rrf DESC, doc_id ASC
        LIMIT {_FUSE_TOPK}
        """,
    )
    def text_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Hybrid retrieval via reciprocal-rank fusion: take the
        top-50 of the lexical arm (text_bm25's scores, verbatim — the
        registered query IS the arm) and the top-50 of the semantic
        arm (cosine to the query-by-example embedding, vec_id 0),
        fuse with RRF(d) = Σ 1/(60 + rank_arm(d)), return the top-20.
        The standard two-tower search stack — BM25 inverted-index arm
        + ANN arm + rank fusion — expressed as one lazy plan.

        Determinism: each arm ranks on grid-rounded scores (bm25 4dp,
        cosine 6dp) with doc_id tie-breaks; RRF sums two exact
        rationals of small integers, rounded to the 1e-6 grid; the
        final cut ties break on doc_id.

        Scale: each arm is its family's documented scale shape
        (query-term-pruned shuffle for BM25; broadcast-1-row map-only
        scan for cosine) ending in TakeOrderedAndProject — the fusion
        then joins two 50-row sets. At index scale the arms would be
        served by text_bm25_indexed and ivf_index_search; the fusion
        layer is unchanged (rank lists in, rank lists out)."""
        from .llm import text_bm25

        wlex = Window.partitionBy(
            constant_partition_key(F.col("doc_id"))
        ).orderBy(F.desc("bm25"), F.asc("doc_id"))
        lex = (
            text_bm25(spark, sf_dir)
            .orderBy(F.desc("bm25"), F.asc("doc_id"))
            .limit(_ARM_TOPK)
            .select(
                "doc_id",
                F.row_number().over(wlex).cast("int").alias("r_lex"),
            )
        )
        wsem = Window.partitionBy(
            constant_partition_key(F.col("vec_id"))
        ).orderBy(F.desc("sim"), F.asc("vec_id"))
        sem = (
            _rrf_sem_arm(spark, sf_dir)
            .select(
                "vec_id",
                F.row_number().over(wsem).cast("int").alias("r_sem"),
            )
            .withColumnRenamed("vec_id", "doc_id")
        )
        fused = lex.join(sem, "doc_id", "full_outer").select(
            "doc_id",
            "r_lex",
            "r_sem",
            F.round(
                F.coalesce(1.0 / (_RRF_K + F.col("r_lex")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("r_sem")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
        return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(
            _FUSE_TOPK
        )


_register_hybrid_rrf()


# ---------------------------------------------------------------------
# Split-conformal prediction sets over the centroid classifier
# ---------------------------------------------------------------------

_CP_ALPHA = 0.1

#: Per-(vector, class) cosine similarities to every label centroid on
#: the 1e-6 grid — the emb_centroid_classify sims, shared by the
#: conformal calibration and test sides.
_ALL_SIMS_CTE = """
    ex AS (
      SELECT clabel, i, CAST(x AS DOUBLE) AS x FROM (
        SELECT CAST(label AS BIGINT) AS clabel,
               unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings) t
    ), cent AS (
      SELECT clabel, i, ROUND(AVG(x), 6) AS c
      FROM ex GROUP BY 1, 2
    ), vex AS (
      SELECT vec_id, CAST(label AS BIGINT) AS label, i,
             CAST(x AS DOUBLE) AS x
      FROM (
        SELECT vec_id, label, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings) t
    ), sims AS (
      SELECT vex.vec_id, vex.label, cent.clabel,
             ROUND(SUM(vex.x * cent.c)
                   / NULLIF(SQRT(SUM(vex.x * vex.x))
                            * SQRT(SUM(cent.c * cent.c)), 0.0),
                   6) AS sim
      FROM vex JOIN cent USING (i)
      GROUP BY 1, 2, 3
    )
"""


@query(
    "a_conformal_sets",
    oracle=f"""
    WITH {_ALL_SIMS_CTE}
    , calib AS (
      SELECT vec_id, ROUND(1.0 - sim, 6) AS s
      FROM sims WHERE vec_id % 2 = 0 AND clabel = label
    ), nc AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_calib FROM calib
    ), ranked AS (
      SELECT s, ROW_NUMBER() OVER (ORDER BY s ASC, vec_id ASC) AS rk
      FROM calib
    ), qhat AS (
      SELECT r.s AS qhat FROM ranked r CROSS JOIN nc
      WHERE r.rk = CAST(CEIL((nc.n_calib + 1) * {1 - _CP_ALPHA}) AS BIGINT)
    ), test AS (
      SELECT vec_id, label, clabel,
             CASE WHEN ROUND(1.0 - sim, 6) <= q.qhat THEN 1 ELSE 0 END
               AS inset
      FROM sims CROSS JOIN qhat q WHERE vec_id % 2 = 1
    ), per AS (
      SELECT vec_id,
             CAST(SUM(inset) AS BIGINT) AS set_size,
             MAX(CASE WHEN clabel = label THEN inset ELSE 0 END) AS covered
      FROM test GROUP BY vec_id
    )
    SELECT nc.n_calib,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           q.qhat,
           ROUND(CAST(SUM(set_size) AS DOUBLE) / COUNT(*), 6)
             AS avg_set_size,
           ROUND(CAST(SUM(covered) AS DOUBLE) / COUNT(*), 6) AS coverage
    FROM per CROSS JOIN nc CROSS JOIN qhat q
    GROUP BY nc.n_calib, q.qhat
    """,
)
def a_conformal_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLIT-CONFORMAL prediction sets over the nearest-centroid
    classifier — distribution-free uncertainty for classification,
    the eval-family capstone: calibrate the nonconformity score
    s = 1 − cos(x, centroid_true) on the even vec_ids, take
    q̂ = the ⌈(n+1)(1−α)⌉-th smallest calibration score (α = 0.1),
    and on the odd vec_ids emit the prediction SET
    {c : 1 − cos(x, centroid_c) ≤ q̂}. Reports n_calib/n_test, q̂,
    mean set size, and empirical coverage — conformal theory
    guarantees coverage ≥ 1−α up to finite-sample slack, and the
    numbers here are exactly checkable because EVERY quantity is
    either an exact integer or an order statistic / ratio over
    1e-6-gridded scores (no float bands needed: q̂ IS a grid value,
    and set membership compares grid values exactly).

    Scale: the sims pass is emb_centroid_classify's shape (two
    corpus scans + a |labels|-row broadcast); the calibration
    quantile is ONE distributed rank-attach + a 1-row broadcast of
    (n, q̂); the test side is map-only against those broadcasts.
    Nothing quadratic, nothing on the driver."""
    from ..operators.ranks import attach_global_ranks

    e = _t(spark, sf_dir, "embeddings")
    ex = e.select(
        F.col("label").cast("long").alias("clabel"),
        F.posexplode("embedding").alias("i", "x"),
    )
    cent = ex.groupBy("clabel", "i").agg(
        F.round(F.avg(F.col("x").cast("double")), 6).alias("c")
    )
    cent_arr = cent.groupBy("clabel").agg(_centroid_array().alias("carr"))
    sims = (
        e.select(
            "vec_id",
            F.col("label").cast("long").alias("label"),
            "embedding",
        )
        .crossJoin(F.broadcast(cent_arr))
        .select(
            "vec_id",
            "label",
            "clabel",
            F.round(
                _dot("embedding", "carr")
                / F.nullif(
                    F.sqrt(_sqnorm("embedding")) * F.sqrt(_sqnorm("carr")),
                    F.lit(0.0),
                ),
                6,
            ).alias("sim"),
        )
    )
    calib = sims.filter(
        (F.col("vec_id") % 2 == 0) & (F.col("clabel") == F.col("label"))
    ).select("vec_id", F.round(1.0 - F.col("sim"), 6).alias("s"))
    nc = calib.agg(F.count("*").alias("n_calib"))
    ranked = attach_global_ranks(
        calib,
        sort_cols=[F.asc("s"), F.asc("vec_id")],
        key_cols=[F.col("s"), F.col("vec_id")],
        rn_col="rk",
    )
    qhat = (
        ranked.crossJoin(F.broadcast(nc))
        .filter(
            F.col("rk")
            == F.ceil((F.col("n_calib") + 1) * F.lit(1 - _CP_ALPHA)).cast(
                "long"
            )
        )
        .select(F.col("s").alias("qhat"))
    )
    test = (
        sims.filter(F.col("vec_id") % 2 == 1)
        .crossJoin(F.broadcast(qhat))
        .select(
            "vec_id",
            "label",
            "clabel",
            (F.round(1.0 - F.col("sim"), 6) <= F.col("qhat"))
            .cast("int")
            .alias("inset"),
        )
    )
    per = test.groupBy("vec_id").agg(
        F.sum("inset").cast("long").alias("set_size"),
        F.max(
            F.when(F.col("clabel") == F.col("label"), F.col("inset")).otherwise(
                0
            )
        ).alias("covered"),
    )
    return (
        per.agg(
            F.count("*").alias("n_test"),
            F.round(
                F.sum("set_size").cast("double") / F.count("*"), 6
            ).alias("avg_set_size"),
            F.round(
                F.sum("covered").cast("double") / F.count("*"), 6
            ).alias("coverage"),
        )
        .crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(qhat))
        .select(
            "n_calib", "n_test", "qhat", "avg_set_size", "coverage"
        )
    )
