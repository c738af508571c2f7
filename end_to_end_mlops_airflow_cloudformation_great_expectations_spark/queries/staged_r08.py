"""Round-8-queue queries: in-engine model TRAINING.

``train_logreg_banded`` closes the last train/serve asymmetry: the
engine serves several kinds of learned weights (classifier matmul,
centroids, PCA projections) but trained none of them lazily inside
the DataFrame algebra. Here a binary logistic-regression probe is
trained by 5 full-batch GD rounds (operators/train.logreg_fit — the
array-of-scalars single-row iterate, linear plan growth, one
codegen'd aggregate per round) to recover a known linear labeling
rule over the embeddings corpus, and the DuckDB twin unrolls the SAME
5 updates as CTEs (the g_pagerank_banded convention): fixed rounds,
identical expression association order, both sides quantizing weights
and log-loss to 1e-6 bands, with the integer-exact row count as the
non-vacuity witness. Band margins are measured and pinned in
tests/test_train.py, not hoped for.

The label is DERIVED from the data by a fixed linear rule
(x1 + 2*x2 - x3 > 0) rather than taken from the stored cluster label:
a rule the model class can represent makes the training trajectory
meaningful (loss falls from 0.693 toward separation; w1/w2/w3 grow in
ratio ~1:2:-1) while staying bit-deterministic across engines — both
sides compute the SAME double expression before comparing to 0.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load as _t
from ..operators.train import kmeans_fit, kmeans_report, logreg_fit, logreg_logloss
from .registry import query

_D = 8
_LR = 4.0
_ROUNDS = 5
_BAND = 1_000_000

# k-means probe params (train_kmeans_banded)
_KM_D = 4
_KM_K = 3
_KM_ROUNDS = 4
_KM_INIT = [[-0.1] * _KM_D, [0.0] * _KM_D, [0.1] * _KM_D]


def _sql_logreg_oracle() -> str:
    """Unroll the exact GD recurrence as DuckDB CTEs. Generated, not
    hand-spelled, so the z-expression's association order provably
    matches operators/train._z (left-associated w1*x1 + ... + b)."""
    xs = ", ".join(
        f"CAST(embedding[{i}] AS DOUBLE) AS x{i}" for i in range(1, _D + 1)
    )
    z = " + ".join(f"w.w{i}*d.x{i}" for i in range(1, _D + 1)) + " + w.b"
    sig = f"1.0/(1.0 + EXP(-({z})))"
    w0 = ", ".join(f"0.0 AS w{i}" for i in range(1, _D + 1)) + ", 0.0 AS b"
    rounds = []
    for k in range(1, _ROUNDS + 1):
        cols = ", ".join(
            f"MIN(w.w{i}) + {_LR}*AVG((d.y - {sig})*d.x{i}) AS w{i}"
            for i in range(1, _D + 1)
        )
        rounds.append(
            f"w{k} AS (SELECT {cols}, "
            f"MIN(w.b) + {_LR}*AVG(d.y - {sig}) AS b "
            f"FROM data d CROSS JOIN w{k - 1} w)"
        )
    fin_ws = ", ".join(f"MIN(w.w{i}) AS w{i}" for i in range(1, _D + 1))
    bands = "\n      UNION ALL ".join(
        f"SELECT 'w{i}' AS term, CAST(FLOOR(w{i}*{_BAND}) AS BIGINT) AS band FROM fin"
        for i in range(1, _D + 1)
    )
    return f"""
    WITH data AS (
      SELECT {xs},
             CASE WHEN CAST(embedding[1] AS DOUBLE)
                       + 2.0*CAST(embedding[2] AS DOUBLE)
                       - CAST(embedding[3] AS DOUBLE) > 0.0
                  THEN 1.0 ELSE 0.0 END AS y
      FROM embeddings
    ), w0 AS (SELECT {w0}),
    {",".join(rounds)},
    fin AS (
      SELECT {fin_ws}, MIN(w.b) AS b,
             AVG(-(d.y*LN({sig}) + (1.0 - d.y)*LN(1.0 - {sig}))) AS logloss,
             COUNT(*) AS n
      FROM data d CROSS JOIN w{_ROUNDS} w
    )
    SELECT term, band FROM (
      {bands}
      UNION ALL SELECT 'bias', CAST(FLOOR(b*{_BAND}) AS BIGINT) FROM fin
      UNION ALL SELECT 'logloss', CAST(FLOOR(logloss*{_BAND}) AS BIGINT) FROM fin
      UNION ALL SELECT 'n', CAST(n AS BIGINT) FROM fin
    )
    """


def training_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings → (x1..x8, y) with the derived linear-rule label."""
    e = _t(spark, sf_dir, "embeddings")
    feats = [
        F.element_at("embedding", i).cast("double").alias(f"x{i}")
        for i in range(1, _D + 1)
    ]
    d = e.select(*feats)
    return d.withColumn(
        "y",
        F.when(
            F.col("x1") + F.lit(2.0) * F.col("x2") - F.col("x3") > 0.0, 1.0
        ).otherwise(0.0),
    )


FEATURES = [f"x{i}" for i in range(1, _D + 1)]


def _sql_kmeans_oracle() -> str:
    """Unroll Lloyd's iterations as DuckDB CTEs mirroring
    operators/train.kmeans_fit expression-for-expression: same
    left-associated squared distances, same lowest-index <= tie-break
    CASE chain, same COALESCE-to-previous empty-cluster rule."""
    K, D, R = _KM_K, _KM_D, _KM_ROUNDS
    xs = ", ".join(
        f"CAST(embedding[{j}] AS DOUBLE) AS x{j}" for j in range(1, D + 1)
    )
    w0 = ", ".join(
        f"CAST({_KM_INIT[i - 1][j - 1]} AS DOUBLE) AS c{i}_{j}"
        for i in range(1, K + 1)
        for j in range(1, D + 1)
    )
    ccols = [f"c{i}_{j}" for i in range(1, K + 1) for j in range(1, D + 1)]

    def dist(i: int) -> str:
        return " + ".join(
            f"(d.x{j} - c.c{i}_{j})*(d.x{j} - c.c{i}_{j})"
            for j in range(1, D + 1)
        )

    whens = []
    for i in range(1, K):
        cond = " AND ".join(
            f"({dist(i)}) <= ({dist(jj)})" for jj in range(i + 1, K + 1)
        )
        whens.append(f"WHEN {cond} THEN {i}")
    assign = f"CASE {' '.join(whens)} ELSE {K} END"

    rounds = []
    for r in range(1, R + 1):
        carry = ", ".join(f"MIN(c.{c}) AS {c}" for c in ccols)
        means = ", ".join(f"AVG(d.x{j}) AS m{j}" for j in range(1, D + 1))
        collapse = ", ".join(
            f"COALESCE(MAX(CASE WHEN cl = {i} THEN m{j} END), MIN(c{i}_{j}))"
            f" AS c{i}_{j}"
            for i in range(1, K + 1)
            for j in range(1, D + 1)
        )
        rounds.append(
            f"a{r} AS (SELECT d.*, {assign} AS cl "
            f"FROM data d CROSS JOIN w{r - 1} c), "
            f"g{r} AS (SELECT cl, {means}, {carry} "
            f"FROM a{r} d CROSS JOIN w{r - 1} c GROUP BY cl), "
            f"w{r} AS (SELECT {collapse} FROM g{r})"
        )
    # final report: sizes + SSE with the round-R centroids
    sse = " ".join(
        f"WHEN cl = {i} THEN {dist(i)}" for i in range(1, K + 1)
    )
    coord_rows = "\n      UNION ALL ".join(
        f"SELECT 'c{i}_{j}' AS term, "
        f"CAST(FLOOR(c{i}_{j}*{_BAND}) AS BIGINT) AS band FROM w{R}"
        for i in range(1, K + 1)
        for j in range(1, D + 1)
    )
    size_rows = "\n      UNION ALL ".join(
        f"SELECT 'n{i}', CAST(SUM(CASE WHEN cl = {i} THEN 1 ELSE 0 END)"
        f" AS BIGINT) FROM fin"
        for i in range(1, K + 1)
    )
    return f"""
    WITH data AS (
      SELECT {xs} FROM embeddings
    ), w0 AS (SELECT {w0}),
    {",".join(rounds)},
    fin AS (
      SELECT d.*, {assign} AS cl,
             CASE {sse} END AS sqd
      FROM data d CROSS JOIN w{R} c
    )
    SELECT term, band FROM (
      {coord_rows}
      UNION ALL {size_rows}
      UNION ALL SELECT 'sse',
        CAST(FLOOR(SUM(sqd)*{_BAND}) AS BIGINT) FROM fin
    )
    """


@query("train_logreg_banded", oracle=_sql_logreg_oracle())
def train_logreg_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the logistic probe lazily and report (term, band) rows:
    the 8 weights, the bias, the mean log-loss (all 1e-6-banded) and
    the integer-exact training-row count. One plan: 5 scans (one per
    GD round) + 1 diagnostic scan, each a map-side partial aggregate;
    per-round state is 9 doubles."""
    data = training_frame(spark, sf_dir)
    w = logreg_fit(data, FEATURES, "y", lr=_LR, rounds=_ROUNDS)
    fit = logreg_logloss(data, w, FEATURES, "y")
    pairs = [
        F.struct(
            F.lit(f"w{i}").alias("term"),
            F.floor(F.col(f"w{i}") * _BAND).cast("long").alias("band"),
        )
        for i in range(1, _D + 1)
    ] + [
        F.struct(
            F.lit("bias").alias("term"),
            F.floor(F.col("b") * _BAND).cast("long").alias("band"),
        ),
        F.struct(
            F.lit("logloss").alias("term"),
            F.floor(F.col("logloss") * _BAND).cast("long").alias("band"),
        ),
        F.struct(
            F.lit("n").alias("term"), F.col("n").cast("long").alias("band")
        ),
    ]
    return fit.select(F.inline(F.array(*pairs)))


KM_FEATURES = [f"x{j}" for j in range(1, _KM_D + 1)]

#: prediction banding for the artifact-served scores: coarser than the
#: weight bands because p is per-row (500-5000 boundary draws, not 11)
#: — measured min margin 3e-4 band-widths vs ~1e-10 cross-engine noise
#: (pinned in test_train.py).
_PBAND = 10_000


def _sql_logreg_scores_oracle() -> str:
    """The logreg oracle's CTE chain extended one stage: after the 5
    unrolled GD rounds, score every row and emit (vec_id, p_band) —
    what the artifact-served Spark path must reproduce exactly."""
    xs = ", ".join(
        f"CAST(embedding[{i}] AS DOUBLE) AS x{i}" for i in range(1, _D + 1)
    )
    z = " + ".join(f"w.w{i}*d.x{i}" for i in range(1, _D + 1)) + " + w.b"
    sig = f"1.0/(1.0 + EXP(-({z})))"
    w0 = ", ".join(f"0.0 AS w{i}" for i in range(1, _D + 1)) + ", 0.0 AS b"
    rounds = []
    for k in range(1, _ROUNDS + 1):
        cols = ", ".join(
            f"MIN(w.w{i}) + {_LR}*AVG((d.y - {sig})*d.x{i}) AS w{i}"
            for i in range(1, _D + 1)
        )
        rounds.append(
            f"w{k} AS (SELECT {cols}, "
            f"MIN(w.b) + {_LR}*AVG(d.y - {sig}) AS b "
            f"FROM data d CROSS JOIN w{k - 1} w)"
        )
    return f"""
    WITH data AS (
      SELECT vec_id, {xs},
             CASE WHEN CAST(embedding[1] AS DOUBLE)
                       + 2.0*CAST(embedding[2] AS DOUBLE)
                       - CAST(embedding[3] AS DOUBLE) > 0.0
                  THEN 1.0 ELSE 0.0 END AS y
      FROM embeddings
    ), w0 AS (SELECT {w0}),
    {",".join(rounds)}
    SELECT CAST(d.vec_id AS BIGINT) AS vec_id,
           CAST(FLOOR(({sig})*{_PBAND}) AS BIGINT) AS p_band
    FROM data d CROSS JOIN w{_ROUNDS} w
    """


@query(
    "a_k_anonymity",
    oracle="""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
             COUNT(*) AS n
      FROM customer
      GROUP BY 1, 2, 3
    )
    SELECT CAST(5 AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS groups_below_k,
           CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
             AS rows_at_risk,
           CAST(MIN(n) AS BIGINT) AS min_group_size
    FROM g
    """,
)
def a_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit (operators/expectations.k_anonymity_report): does
    the quasi-identifier tuple (nation, market segment, account-balance
    band) still single customers out after direct identifiers are
    stripped? Integer-exact counts; the GX-role deterministic-audit
    discipline (a13_expectation_metrics) applied to re-identification
    risk. One exact bounded-cardinality groupBy + a 1-row reduce."""
    from ..operators.expectations import k_anonymity_report

    c = _t(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_band"),
    )
    return k_anonymity_report(
        c, ["c_nationkey", "c_mktsegment", "bal_band"], k=5
    )


def _sql_classifier_eval_oracle() -> str:
    """Compose the centroid classifier's registered oracle as a CTE
    and aggregate the standard evaluation table on top — the oracle
    composes exactly like the Spark side composes the builder."""
    from .registry import ORACLES

    preds = ORACLES["emb_centroid_classify"]
    return f"""
    WITH preds AS ({preds}),
    lab AS (
      SELECT label,
             CAST(COUNT(*) AS BIGINT) AS support,
             CAST(SUM(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT) AS tp
      FROM preds GROUP BY label
    ), pr AS (
      SELECT pred_label, CAST(COUNT(*) AS BIGINT) AS pred_cnt
      FROM preds GROUP BY pred_label
    )
    SELECT CAST(lab.label AS BIGINT) AS label,
           lab.support,
           lab.tp,
           CAST(COALESCE(pr.pred_cnt, 0) - lab.tp AS BIGINT) AS fp,
           CAST(lab.support - lab.tp AS BIGINT) AS fn,
           ROUND(CASE WHEN COALESCE(pr.pred_cnt, 0) = 0 THEN NULL
                      ELSE CAST(lab.tp AS DOUBLE) / pr.pred_cnt END,
                 6) AS precision,
           ROUND(CAST(lab.tp AS DOUBLE) / lab.support, 6) AS recall
    FROM lab LEFT JOIN pr ON lab.label = pr.pred_label
    """


@query("a_classifier_eval", oracle=_sql_classifier_eval_oracle())
def a_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model EVALUATION as a first-class operator: the per-class
    confusion table (support/tp/fp/fn) with precision and recall over
    the centroid classifier's predictions — counts integer-exact
    cross-engine (assignments are deterministic: the classifier's
    1e-6-gridded centroids and lowest-label tie-break), ratios on the
    6-decimal grid from identical integer divisions. Two bounded
    aggregates over one prediction pass + a |labels|-row join; at
    100 TB the eval costs one corpus scan like the classify itself."""
    from .staged_r07 import emb_centroid_classify

    preds = emb_centroid_classify(spark, sf_dir)
    lab = preds.groupBy(F.col("label")).agg(
        F.count(F.lit(1)).alias("support"),
        F.sum(F.col("correct").cast("long")).alias("tp"),
    )
    pr = preds.groupBy(F.col("pred_label")).agg(
        F.count(F.lit(1)).alias("pred_cnt")
    )
    j = lab.join(pr, lab.label == pr.pred_label, "left")
    return j.select(
        F.col("label").cast("long").alias("label"),
        F.col("support").cast("long").alias("support"),
        F.col("tp").cast("long").alias("tp"),
        (F.coalesce(F.col("pred_cnt"), F.lit(0)) - F.col("tp"))
        .cast("long")
        .alias("fp"),
        (F.col("support") - F.col("tp")).cast("long").alias("fn"),
        F.round(
            F.try_divide(F.col("tp").cast("double"), F.col("pred_cnt")), 6
        ).alias("precision"),
        F.round(
            F.col("tp").cast("double") / F.col("support"), 6
        ).alias("recall"),
    )


@query("train_logreg_artifact", oracle=_sql_logreg_scores_oracle())
def train_logreg_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION shape of the trained model (the
    emb_pca_apply_artifact discipline applied to the logistic probe):
    train once, persist the weights as a bounded 1-ROW parquet
    ARTIFACT, and serve every later scoring pass fit-free — load the
    artifact, broadcast it, and run a zero-shuffle map-only sigmoid
    over the corpus. Output (vec_id, p_band) must equal what the
    in-plan trained weights would score (the oracle re-derives the
    same 5 GD rounds), pinning that model round-tripping through the
    artifact loses nothing. The artifact write is the sanctioned
    bounded eager step (staged_r07 module docstring); the corpus scan
    stays lazy."""
    from ..operators.train import logreg_predict
    from .staged_r07 import _scratch

    e = _t(spark, sf_dir, "embeddings")
    data = e.select(
        "vec_id",
        *[
            F.element_at("embedding", i).cast("double").alias(f"x{i}")
            for i in range(1, _D + 1)
        ],
    ).withColumn(
        "y",
        F.when(
            F.col("x1") + F.lit(2.0) * F.col("x2") - F.col("x3") > 0.0, 1.0
        ).otherwise(0.0),
    )
    w = logreg_fit(data, FEATURES, "y", lr=_LR, rounds=_ROUNDS)
    artifact_dir = os.path.join(_scratch("logreg_artifact"), "weights")
    w.coalesce(1).write.mode("overwrite").parquet(artifact_dir)

    weights = spark.read.parquet(artifact_dir)
    scored = logreg_predict(data, weights, FEATURES)
    return scored.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.floor(F.col("p") * _PBAND).cast("long").alias("p_band"),
    )


@query("train_kmeans_banded", oracle=_sql_kmeans_oracle())
def train_kmeans_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsupervised in-engine training: Lloyd's k-means (k=3, 4 dims,
    4 fixed rounds from literal inits) over the embeddings corpus —
    operators/train.kmeans_fit, the same single-row lazy-fixpoint
    shape as the logistic trainer. Reports (term, band): the 12
    centroid coordinates and the total within-cluster squared error
    1e-6-banded, plus the 3 integer-exact cluster sizes. Sizes are
    exact because ASSIGNMENTS are bit-deterministic cross-engine (the
    argmin compares identically-associated double expressions; the
    decision-boundary gap is measured and pinned in test_train.py at
    >=1e-4 vs ~1e-13 centroid noise)."""
    e = _t(spark, sf_dir, "embeddings")
    data = e.select(
        *[
            F.element_at("embedding", j).cast("double").alias(f"x{j}")
            for j in range(1, _KM_D + 1)
        ]
    )
    cents = kmeans_fit(
        data, KM_FEATURES, k=_KM_K, rounds=_KM_ROUNDS, init=_KM_INIT
    )
    rep = kmeans_report(data, cents, KM_FEATURES, k=_KM_K)
    pairs = [
        F.struct(
            F.lit(f"c{i}_{j}").alias("term"),
            F.floor(F.col(f"c{i}_{j}") * _BAND).cast("long").alias("band"),
        )
        for i in range(1, _KM_K + 1)
        for j in range(1, _KM_D + 1)
    ] + [
        F.struct(
            F.lit(f"n{i}").alias("term"),
            F.col(f"n{i}").cast("long").alias("band"),
        )
        for i in range(1, _KM_K + 1)
    ] + [
        F.struct(
            F.lit("sse").alias("term"),
            F.floor(F.col("sse") * _BAND).cast("long").alias("band"),
        )
    ]
    return rep.select(F.inline(F.array(*pairs)))


# ---------------------------------------------------------------------------
# ALS matrix factorization (train_als_banded)
# ---------------------------------------------------------------------------

_ALS_LAM = 0.1
_ALS_ROUNDS = 2  # alternations: uf1, if1, uf2, if2
_ALS_NORM_BAND = 1_000  # avg factor norms band on the 1e-3 grid


def _sql_als_solve(
    src: str, key: str, f1: str, f2: str, out1: str, out2: str
) -> str:
    """One unrolled ALS half-round in DuckDB mirroring
    operators/train._als_solve expression for expression (same sums,
    same closed-form 2x2 association, same +lam placement)."""
    return f"""
      SELECT {key},
             (a22*b1 - a12*b2) / (a11*a22 - a12*a12) AS {out1},
             (a11*b2 - a12*b1) / (a11*a22 - a12*a12) AS {out2}
      FROM (
        SELECT {key},
               SUM({f1}*{f1}) + {_ALS_LAM} AS a11,
               SUM({f1}*{f2}) AS a12,
               SUM({f2}*{f2}) + {_ALS_LAM} AS a22,
               SUM(r*{f1}) AS b1,
               SUM(r*{f2}) AS b2
        FROM {src} GROUP BY {key})
    """


def _sql_als_oracle() -> str:
    return f"""
    WITH ratings AS (
      SELECT o_custkey AS u, l_partkey AS it,
             CAST(l_quantity AS DOUBLE) AS r
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), init AS (
      SELECT u, it, r,
             1.0 + (it % 7) * 0.1 AS y1,
             1.0 - (it % 5) * 0.1 AS y2
      FROM ratings
    ), uf1 AS ({_sql_als_solve('init', 'u', 'y1', 'y2', 'u1', 'u2')}),
    if1 AS ({_sql_als_solve(
        '(SELECT it, r, u1, u2 FROM ratings JOIN uf1 USING (u))',
        'it', 'u1', 'u2', 'y1', 'y2')}),
    uf2 AS ({_sql_als_solve(
        '(SELECT u, r, y1, y2 FROM ratings JOIN if1 USING (it))',
        'u', 'y1', 'y2', 'u1', 'u2')}),
    if2 AS ({_sql_als_solve(
        '(SELECT it, r, u1, u2 FROM ratings JOIN uf2 USING (u))',
        'it', 'u1', 'u2', 'y1', 'y2')}),
    pred AS (
      SELECT r, (u1*y1 + u2*y2) AS p
      FROM ratings JOIN uf2 USING (u) JOIN if2 USING (it)
    ), fin AS (
      SELECT SQRT(AVG((r - p)*(r - p))) AS rmse,
             CAST(COUNT(*) AS BIGINT) AS n FROM pred
    ), un AS (
      SELECT AVG(u1*u1 + u2*u2) AS v, CAST(COUNT(*) AS BIGINT) AS c
      FROM uf2
    ), inorm AS (
      SELECT AVG(y1*y1 + y2*y2) AS v, CAST(COUNT(*) AS BIGINT) AS c
      FROM if2
    )
    SELECT 'rmse' AS term,
           CAST(FLOOR(rmse * {_BAND}) AS BIGINT) AS band FROM fin
    UNION ALL SELECT 'n_ratings', n FROM fin
    UNION ALL SELECT 'u_norm_avg',
           CAST(FLOOR(v * {_ALS_NORM_BAND}) AS BIGINT) FROM un
    UNION ALL SELECT 'n_users', c FROM un
    UNION ALL SELECT 'i_norm_avg',
           CAST(FLOOR(v * {_ALS_NORM_BAND}) AS BIGINT) FROM inorm
    UNION ALL SELECT 'n_items', c FROM inorm
    """


@query("train_als_banded", oracle=_sql_als_oracle())
def train_als_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collaborative-filtering in-engine training: rank-2 alternating
    least squares on the (customer, part, quantity) rating table —
    operators/train.als_fit. Completes the trainer family with the
    DISTRIBUTED-model case: logreg/kmeans carry 1-row weight state,
    ALS's user/item factor tables are key-partitioned DataFrames that
    never visit the driver (the shape a 100 TB recommender needs —
    per-round cost is one fact join + one grouped solve per side,
    factor state sharded by key).

    Cross-engine check (the g_pagerank_banded convention): the DuckDB
    twin unrolls the SAME 2 alternations (uf1→if1→uf2→if2) from the
    SAME deterministic item-id init, with the closed-form 2×2 solve
    spelled in the SAME association order. Reported: training RMSE
    (1e-6 band), mean user/item factor norms (1e-3 bands — coarser
    because they average ~1e3 per-key solves), and exact n_ratings /
    n_users / n_items longs (the join/solve cardinality witnesses).
    Band-edge gaps are measured and pinned in test_train.py."""
    from ..operators.train import als_fit

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # FACT-FACT join builds the rating table: orders' 2-column
    # projection sits under the static broadcast estimate at small SF,
    # and at the 100x/4GB stress point Spark broadcast a corpus-scaled
    # side 15x (one per plan reference) and OOM'd — the dedup_span
    # lesson verbatim. Pin SMJ: both sides shuffle on the order key,
    # co-partitioned, flat per-executor memory at any corpus size.
    ratings = li.join(
        o.hint("merge"), li["l_orderkey"] == o["o_orderkey"]
    ).select(
        F.col("o_custkey").alias("u"),
        F.col("l_partkey").alias("it"),
        F.col("l_quantity").cast("double").alias("r"),
    )
    uf, itf = als_fit(ratings, iterations=_ALS_ROUNDS, lam=_ALS_LAM)
    pred = (
        ratings.join(uf.hint("shuffle_hash"), "u")
        .join(itf.hint("shuffle_hash"), "it")
        .select(
            "r",
            (
                F.col("u1") * F.col("y1") + F.col("u2") * F.col("y2")
            ).alias("p"),
        )
    )
    fin = pred.agg(
        F.sqrt(F.avg((F.col("r") - F.col("p")) * (F.col("r") - F.col("p"))))
        .alias("rmse"),
        F.count("*").alias("n"),
    )
    un = uf.agg(
        F.avg(F.col("u1") * F.col("u1") + F.col("u2") * F.col("u2")).alias(
            "v"
        ),
        F.count("*").alias("c"),
    )
    inorm = itf.agg(
        F.avg(F.col("y1") * F.col("y1") + F.col("y2") * F.col("y2")).alias(
            "v"
        ),
        F.count("*").alias("c"),
    )
    rows = fin.select(
        F.inline(
            F.array(
                F.struct(
                    F.lit("rmse").alias("term"),
                    F.floor(F.col("rmse") * _BAND).cast("long").alias("band"),
                ),
                F.struct(
                    F.lit("n_ratings").alias("term"),
                    F.col("n").cast("long").alias("band"),
                ),
            )
        )
    )
    rows_u = un.select(
        F.inline(
            F.array(
                F.struct(
                    F.lit("u_norm_avg").alias("term"),
                    F.floor(F.col("v") * _ALS_NORM_BAND)
                    .cast("long")
                    .alias("band"),
                ),
                F.struct(
                    F.lit("n_users").alias("term"),
                    F.col("c").cast("long").alias("band"),
                ),
            )
        )
    )
    rows_i = inorm.select(
        F.inline(
            F.array(
                F.struct(
                    F.lit("i_norm_avg").alias("term"),
                    F.floor(F.col("v") * _ALS_NORM_BAND)
                    .cast("long")
                    .alias("band"),
                ),
                F.struct(
                    F.lit("n_items").alias("term"),
                    F.col("c").cast("long").alias("band"),
                ),
            )
        )
    )
    return rows.unionByName(rows_u).unionByName(rows_i)


_REC_COHORT_MOD = 100  # serve the u % 100 == 0 user cohort per batch
_REC_TOPK = 5
_REC_BAND = 10_000  # rank on the 1e-4 pred grid (ties -> item asc)


@query(
    "als_recommend_topk",
    oracle=f"""
    WITH ratings AS (
      SELECT o_custkey AS u, l_partkey AS it,
             CAST(l_quantity AS DOUBLE) AS r
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), init AS (
      SELECT u, it, r,
             1.0 + (it % 7) * 0.1 AS y1,
             1.0 - (it % 5) * 0.1 AS y2
      FROM ratings
    ), uf1 AS ({_sql_als_solve('init', 'u', 'y1', 'y2', 'u1', 'u2')}),
    if1 AS ({_sql_als_solve(
        '(SELECT it, r, u1, u2 FROM ratings JOIN uf1 USING (u))',
        'it', 'u1', 'u2', 'y1', 'y2')}),
    uf2 AS ({_sql_als_solve(
        '(SELECT u, r, y1, y2 FROM ratings JOIN if1 USING (it))',
        'u', 'y1', 'y2', 'u1', 'u2')}),
    if2 AS ({_sql_als_solve(
        '(SELECT it, r, u1, u2 FROM ratings JOIN uf2 USING (u))',
        'it', 'u1', 'u2', 'y1', 'y2')}),
    cohort AS (
      SELECT * FROM uf2 WHERE u % {_REC_COHORT_MOD} = 0
    ), pairs AS (
      SELECT c.u, i.it,
             CAST(FLOOR((c.u1*i.y1 + c.u2*i.y2) * {_REC_BAND}) AS BIGINT)
               AS pred_band
      FROM cohort c CROSS JOIN if2 i
    ), unrated AS (
      SELECT p.* FROM pairs p
      WHERE NOT EXISTS (
        SELECT 1 FROM ratings r WHERE r.u = p.u AND r.it = p.it
      )
    )
    SELECT u, it, pred_band, CAST(rnk AS INTEGER) AS rnk FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY u ORDER BY pred_band DESC, it ASC
             ) AS rnk
      FROM unrated
    ) WHERE rnk <= {_REC_TOPK}
    """,
)
def als_recommend_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ALS SERVING path: score a user cohort (u % 100 == 0 — the
    per-batch shard a recommender serves at a time) against every
    item factor, drop already-rated pairs, keep the top-5 per user.
    Complements rec_item_affinity (co-occurrence) with the
    model-based recommender over the SAME trained factors as
    train_als_banded (identical unrolled recurrence in the oracle).

    Determinism: predictions land on the 1e-4 FLOOR grid BEFORE
    ranking (cross-engine solve noise is ~1e-11 absolute — gap
    measured in test_train.py), ties break on item id, so the top-5
    cut is total.

    Scale: the cohort×items score is |cohort|·|items| with the item
    FACTOR table broadcast (model-sized, ~24 B/item — fine to ~10⁷
    items; past that the factors go into ivf_index_build and the
    scoring becomes an ANN search, the documented index path). The
    exclusion anti-join touches only the cohort's slice of the fact
    table; per-user top-5 is one window partitioned BY USER — fully
    parallel, never a global sort."""
    from ..operators.train import als_fit

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    ratings = li.join(
        o.hint("merge"), li["l_orderkey"] == o["o_orderkey"]
    ).select(
        F.col("o_custkey").alias("u"),
        F.col("l_partkey").alias("it"),
        F.col("l_quantity").cast("double").alias("r"),
    )
    uf, itf = als_fit(ratings, iterations=_ALS_ROUNDS, lam=_ALS_LAM)
    cohort = uf.filter(F.col("u") % _REC_COHORT_MOD == 0)
    pairs = cohort.crossJoin(F.broadcast(itf)).select(
        "u",
        "it",
        F.floor(
            (F.col("u1") * F.col("y1") + F.col("u2") * F.col("y2"))
            * _REC_BAND
        )
        .cast("long")
        .alias("pred_band"),
    )
    rated = ratings.filter(
        F.col("u") % _REC_COHORT_MOD == 0
    ).select("u", "it")
    unrated = pairs.join(rated, ["u", "it"], "left_anti")
    from pyspark.sql import Window as W

    wu = W.partitionBy("u").orderBy(F.desc("pred_band"), F.asc("it"))
    return (
        unrated.withColumn("rnk", F.row_number().over(wu))
        .filter(F.col("rnk") <= _REC_TOPK)
        .select("u", "it", "pred_band", F.col("rnk").cast("int").alias("rnk"))
    )
