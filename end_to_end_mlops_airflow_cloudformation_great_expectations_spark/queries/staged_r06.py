"""Round-6 queries — registered unconditionally, appended AFTER the
pinned 50-name driver window (queries/__init__.py), each proven with
``tools/check.py`` at sf0.001 + sf0.01 including ``--plain`` before
registration (the round-5 new-query discipline). They rotate into
window slots next round once CORRECTNESS_r05 confirms the round-5
first-timers green.

Contents (SURVEY.md §2.11 "Round-6 additions" is the full table):
sketching (a_cms_heavy_hitters), closed-form regression
(a_ols_multivariate), product analytics (w_funnel_conversion,
w_last_touch_attribution, w_sequence_pattern, j_scd2_intervals),
streaming (t9_stream_stream_join batch twin), time series
(a_autocorrelation, a_seasonal_residuals, a_holt_forecast,
a_holt_forecast_by_type), distributed linear algebra
(emb_pca_power_banded, emb_pca_by_label_banded, emb_pca_project —
operators/linalg.py), corpus sampling (p_weighted_sample), dedup
(dedup_simhash_portable), classifier inference
(text_classifier_score), and the hypothesis-test battery
(a_ks_test, a_mannwhitney_u, a_chi2_independence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load as _t
from .registry import query


# ---------------------------------------------------------------------------
# Count-Min sketch heavy hitters
# ---------------------------------------------------------------------------

#: Per-row seeds for the d=3 CMS hash functions — distinct primes so the
#: three multiplicative hashes are effectively independent.
_CMS_SEEDS = (1000003, 2000029, 3000073)
_CMS_WIDTH = 64


def _cms_buckets(key):
    """The d bucket columns for ``key`` — portable_bucket(key + seed)
    per sketch row, identical integer arithmetic in Spark and DuckDB."""
    from ..functions.columns import portable_bucket

    return [portable_bucket(key + F.lit(s), _CMS_WIDTH) for s in _CMS_SEEDS]


def _cms_oracle_bucket_sql(expr: str, seed: int, width: int = _CMS_WIDTH) -> str:
    """DuckDB replay of functions.columns.portable_bucket for
    ``expr + seed`` with ``width`` buckets — the same hi/lo-decomposed
    Knuth multiplicative hash (p_group_sample's oracle convention).
    ``width`` is a parameter, NOT post-hoc string surgery: the hash
    body contains its own modulus literals, so textual replacement of
    "% N" could silently rewrite the hash arithmetic."""
    km = f"(({expr}) + {seed}) % 4294967296"
    return (
        f"(((({km}) - ({km}) % 65536) // 65536 * 2654435761 % 4294967296"
        f" * 65536 + ({km}) % 65536 * 2654435761) % 4294967296)"
        f" % {width}"
    )


@query(
    "a_cms_heavy_hitters",
    oracle=f"""
    WITH b AS (
      SELECT user_id,
             {_cms_oracle_bucket_sql('user_id', _CMS_SEEDS[0])} AS b0,
             {_cms_oracle_bucket_sql('user_id', _CMS_SEEDS[1])} AS b1,
             {_cms_oracle_bucket_sql('user_id', _CMS_SEEDS[2])} AS b2
      FROM events
    ), cells AS (
      SELECT j, bucket, COUNT(*) AS c FROM (
        SELECT 0 AS j, b0 AS bucket FROM b
        UNION ALL SELECT 1, b1 FROM b
        UNION ALL SELECT 2, b2 FROM b
      ) GROUP BY j, bucket
    ), probe AS (
      SELECT DISTINCT user_id, b0, b1, b2 FROM b
    ), est AS (
      SELECT p.user_id,
             LEAST(c0.c, c1.c, c2.c) AS est_count
      FROM probe p
      JOIN cells c0 ON c0.j = 0 AND c0.bucket = p.b0
      JOIN cells c1 ON c1.j = 1 AND c1.bucket = p.b1
      JOIN cells c2 ON c2.j = 2 AND c2.bucket = p.b2
    ), exact AS (
      SELECT user_id, COUNT(*) AS exact_count FROM events GROUP BY user_id
    )
    SELECT CAST(e.user_id AS BIGINT) AS user_id,
           CAST(est_count AS BIGINT) AS est_count,
           CAST(exact_count AS BIGINT) AS exact_count,
           CAST(est_count - exact_count AS BIGINT) AS overcount
    FROM est e JOIN exact x ON x.user_id = e.user_id
    ORDER BY est_count DESC, e.user_id
    LIMIT 25
    """,
)
def a_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch heavy hitters with a CROSS-ENGINE EXACT oracle.

    The sketch is the 100 TB answer to "top keys by frequency when the
    key space doesn't fit anywhere": d×w = 3×64 counters TOTAL,
    independent of key cardinality. Expressed relationally the sketch
    IS a bounded-cardinality aggregation — posexplode the d bucket ids
    per row, groupBy (j, bucket) COUNT — so map-side partial
    aggregation collapses every partition to ≤192 cells before the
    shuffle; the probe side joins the (broadcast-small) sketch d times
    via the same explode and takes MIN over rows, the classic CMS
    point estimate. est ≥ exact always (CMS never undercounts); the
    ``overcount`` column exposes collision error and the exact twin
    hash-checks both sides to the row.

    Portability: the d hash functions are functions.columns.
    portable_bucket (hi/lo-decomposed Knuth multiplicative hash) on
    seeded keys, so DuckDB replays the IDENTICAL sketch — integer
    output, exact hash match, no band needed. At 100 TB the exact
    side is the part you could not afford; here it is the oracle.
    Heavy hitters = top-25 by estimate (total order, user_id
    tie-break) → TakeOrderedAndProject, never a global sort."""
    e = _t(spark, sf_dir, "events").select("user_id")
    with_buckets = e.select(
        "user_id", F.posexplode(F.array(*_cms_buckets(F.col("user_id")))).alias("j", "bucket")
    )
    cells = with_buckets.groupBy("j", "bucket").agg(F.count("*").alias("c"))
    probe = (
        _t(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(
            "user_id",
            F.posexplode(F.array(*_cms_buckets(F.col("user_id")))).alias("j", "bucket"),
        )
    )
    est = (
        probe.join(F.broadcast(cells), ["j", "bucket"])
        .groupBy("user_id")
        .agg(F.min("c").alias("est_count"))
    )
    exact = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("exact_count"))
    )
    return (
        est.join(exact, "user_id")
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("est_count").cast("long").alias("est_count"),
            F.col("exact_count").cast("long").alias("exact_count"),
            (F.col("est_count") - F.col("exact_count"))
            .cast("long")
            .alias("overcount"),
        )
        .orderBy(F.desc("est_count"), "user_id")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Multivariate OLS — distributed closed form
# ---------------------------------------------------------------------------


@query(
    "a_ols_multivariate",
    oracle="""
    WITH m AS (
      SELECT l_returnflag AS flag,
             COUNT(*) AS n,
             AVG(l_quantity) AS mx1,
             AVG(l_discount) AS mx2,
             AVG(l_extendedprice) AS my
      FROM lineitem GROUP BY l_returnflag
    ), s AS (
      SELECT m.flag, m.n, m.mx1, m.mx2, m.my,
             SUM((l_quantity - mx1) * (l_quantity - mx1)) AS s11,
             SUM((l_quantity - mx1) * (l_discount - mx2)) AS s12,
             SUM((l_discount - mx2) * (l_discount - mx2)) AS s22,
             SUM((l_quantity - mx1) * (l_extendedprice - my)) AS s1y,
             SUM((l_discount - mx2) * (l_extendedprice - my)) AS s2y,
             SUM((l_extendedprice - my) * (l_extendedprice - my)) AS syy
      FROM lineitem l JOIN m ON m.flag = l.l_returnflag
      GROUP BY m.flag, m.n, m.mx1, m.mx2, m.my
    )
    SELECT flag AS l_returnflag,
           CAST(n AS BIGINT) AS n,
           ROUND((s1y * s22 - s2y * s12) / (s11 * s22 - s12 * s12), 4)
             AS beta_qty,
           ROUND((s2y * s11 - s1y * s12) / (s11 * s22 - s12 * s12), 2)
             AS beta_disc,
           ROUND(my
                 - (s1y * s22 - s2y * s12) / (s11 * s22 - s12 * s12) * mx1
                 - (s2y * s11 - s1y * s12) / (s11 * s22 - s12 * s12) * mx2,
                 2) AS intercept,
           ROUND(((s1y * s22 - s2y * s12) / (s11 * s22 - s12 * s12) * s1y
                  + (s2y * s11 - s1y * s12) / (s11 * s22 - s12 * s12) * s2y)
                 / syy, 6) AS r2
    FROM s
    """,
)
def a_ols_multivariate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-feature OLS (extendedprice ~ quantity + discount, per
    returnflag) fit entirely inside the engine: centered normal
    equations solved by Cramer's rule — no driver-side linear algebra,
    no iteration, no collect. Extends a_grouped_ols (single-feature
    REGR_*) to the multivariate case neither engine has a builtin for.

    Two aggregation passes: (1) per-group means, (2) centered
    second-moment sums with the broadcast means joined back — the
    numerically-stable formulation (raw power sums lose ~8 digits to
    cancellation at price scale; centered sums don't, which is what
    lets a 4-decimal rounding grid hash-match across engines). Both
    passes are map-side-partial groupBys on the same key; the join is
    a broadcast of 3 rows. At 100 TB this is 2 scans + tiny shuffles —
    the textbook "learn a linear probe over a trillion rows" shape.
    R² = explained/total via the same sums."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").alias("x1"),
        F.col("l_discount").alias("x2"),
        F.col("l_extendedprice").alias("y"),
    )
    m = li.groupBy("flag").agg(
        F.count("*").alias("n"),
        F.avg("x1").alias("mx1"),
        F.avg("x2").alias("mx2"),
        F.avg("y").alias("my"),
    )
    c = li.join(F.broadcast(m), "flag")
    s = c.groupBy("flag", "n", "mx1", "mx2", "my").agg(
        F.sum((F.col("x1") - F.col("mx1")) * (F.col("x1") - F.col("mx1"))).alias("s11"),
        F.sum((F.col("x1") - F.col("mx1")) * (F.col("x2") - F.col("mx2"))).alias("s12"),
        F.sum((F.col("x2") - F.col("mx2")) * (F.col("x2") - F.col("mx2"))).alias("s22"),
        F.sum((F.col("x1") - F.col("mx1")) * (F.col("y") - F.col("my"))).alias("s1y"),
        F.sum((F.col("x2") - F.col("mx2")) * (F.col("y") - F.col("my"))).alias("s2y"),
        F.sum((F.col("y") - F.col("my")) * (F.col("y") - F.col("my"))).alias("syy"),
    )
    det = F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12")
    b1 = (F.col("s1y") * F.col("s22") - F.col("s2y") * F.col("s12")) / det
    b2 = (F.col("s2y") * F.col("s11") - F.col("s1y") * F.col("s12")) / det
    return s.select(
        F.col("flag").alias("l_returnflag"),
        F.col("n").cast("long").alias("n"),
        F.round(b1, 4).alias("beta_qty"),
        F.round(b2, 2).alias("beta_disc"),
        F.round(
            F.col("my") - b1 * F.col("mx1") - b2 * F.col("mx2"), 2
        ).alias("intercept"),
        F.round((b1 * F.col("s1y") + b2 * F.col("s2y")) / F.col("syy"), 6).alias(
            "r2"
        ),
    )


# ---------------------------------------------------------------------------
# Ordered-event funnel
# ---------------------------------------------------------------------------


@query(
    "w_funnel_conversion",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
      GROUP BY e.user_id
    )
    SELECT CAST(v.user_id AS BIGINT) AS user_id,
           CAST(1 + (c.user_id IS NOT NULL)::INT
                  + (p.user_id IS NOT NULL)::INT AS INT) AS stage,
           CAST(FLOOR(EPOCH(v.t1)) AS BIGINT) AS view_epoch,
           CAST(FLOOR(EPOCH(c.t2)) AS BIGINT) AS click_epoch,
           CAST(FLOOR(EPOCH(p.t3)) AS BIGINT) AS purchase_epoch
    FROM v LEFT JOIN c ON c.user_id = v.user_id
           LEFT JOIN p ON p.user_id = v.user_id
    """,
)
def w_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-event funnel (view → click → purchase): for each user,
    the first view, the first click STRICTLY AFTER that view, and the
    first purchase strictly after that click — the product-analytics
    primitive (MATCH_RECOGNIZE-lite) that a bare groupBy-min gets
    wrong (an unordered min would count a purchase that preceded the
    view). Three staged conditional min-aggregations, each a groupBy
    on the SAME key (user_id) so every shuffle reuses one
    partitioning and AQE coalesces the tiny intermediates; timestamps
    leave as epoch seconds (the repo's oracle-stable convention).
    Output: per-user funnel stage (1/2/3) + stage timestamps — the
    per-stage conversion counts are a trivial rollup of this result."""
    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            (
                F.lit(1)
                + F.col("t2").isNotNull().cast("int")
                + F.col("t3").isNotNull().cast("int")
            ).alias("stage"),
            F.unix_timestamp("t1").cast("long").alias("view_epoch"),
            F.unix_timestamp("t2").cast("long").alias("click_epoch"),
            F.unix_timestamp("t3").cast("long").alias("purchase_epoch"),
        )
    )


# ---------------------------------------------------------------------------
# Distributed PCA — top principal component via lazy power iteration
# ---------------------------------------------------------------------------

_PCA_ROUNDS = 6
_PCA_GRID = 10000


def _pca_oracle_sql(rounds: int) -> str:
    """DuckDB replay of the SAME centered gram + power iteration —
    unrolled CTE rounds (the g_pagerank_banded convention: fixed
    iteration count needs no recursion, and both engines spell the
    identical arithmetic)."""
    ctes = ["r0 AS (SELECT i AS j, 0.125 AS vj FROM m)"]
    for r in range(1, rounds + 1):
        ctes.append(
            f"w{r} AS MATERIALIZED (SELECT g.i, SUM(g.g*r{r-1}.vj) AS w "
            f"FROM g JOIN r{r-1} ON r{r-1}.j=g.j GROUP BY g.i)"
        )
        ctes.append(
            f"r{r} AS (SELECT i AS j, "
            f"w / SQRT((SELECT SUM(w*w) FROM w{r})) AS vj FROM w{r})"
        )
    return f"""
    WITH e AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ), m AS (SELECT i, AVG(v) AS m FROM e GROUP BY i),
    cnt AS (SELECT COUNT(DISTINCT vec_id) AS n FROM e),
    s AS (SELECT a.i AS i, b.i AS j, SUM(a.v*b.v) AS s
          FROM e a JOIN e b ON a.vec_id = b.vec_id GROUP BY a.i, b.i),
    g AS MATERIALIZED (SELECT s.i, s.j, s.s - (SELECT n FROM cnt) * ma.m * mb.m AS g
          FROM s JOIN m ma ON ma.i = s.i JOIN m mb ON mb.i = s.j),
    {", ".join(ctes)}
    SELECT CAST(j AS BIGINT) AS dim,
           CAST(FLOOR(vj * {_PCA_GRID}) AS BIGINT) AS comp_band
    FROM r{rounds}
    """


@query("emb_pca_power_banded", oracle=_pca_oracle_sql(_PCA_ROUNDS))
def emb_pca_power_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus, computed the
    way a 1000-executor cluster has to: the d×d centered gram matrix
    is assembled from PARTITION-LOCAL outer-product partials
    (mapInPandas emits each partition's X^T X as d² (i,j,s) rows —
    4096 rows per partition regardless of row count, the
    treeAggregate-of-outer-products shape MLlib's covariance uses;
    centering folds in algebraically as G = Σxxᵀ − n·m·mᵀ so no
    centered copy of the data is ever materialized), then
    ``_PCA_ROUNDS`` power-iteration rounds run LAZILY as joins/aggs
    over the 4096-row gram — every round is a broadcast join of the
    64-row iterate, so the whole fixpoint adds zero wide shuffles and
    planlint sees the full plan (unlike the eager quantizer fits,
    which are rows-only by contract).

    Cross-engine oracle (the g_pagerank_banded pattern): DuckDB
    replays the identical arithmetic — same init (1/8 per component,
    positive so the sign is pinned), same normalization each round —
    and both sides quantize components to 1e-4 bands. Measured margin
    at sf0.001: the closest component sits 2e-3 band-widths from a
    boundary vs ~1e-13 band-widths of cross-engine summation noise
    (pinned in tests/test_staged_r06.py).

    Implementation lives in operators/linalg.py (moment_partials →
    centered_gram → power_iteration: lazy persists cut the recursive
    lineage, coalesce(1) keeps each 4096-row round single-task under
    the driver's plain 200-shuffle-partition session) so the STREAMING
    sufficient-statistics path (streaming/jobs.moment_stats_sink)
    computes the identical component from incrementally-merged
    moments. The gram there is S_ij − s_i·s_j/n while the oracle
    spells n·m_i·m_j — algebraically equal, floating-point different
    by ~1e-15, eight orders inside the measured 2e-7 band margin."""
    from ..operators import linalg

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    moments = linalg.moment_partials(e)
    G = linalg.centered_gram(moments)
    v = linalg.power_iteration(G, _PCA_ROUNDS)
    return v.select(
        F.col("j").cast("long").alias("dim"),
        F.floor(F.col("vj") * _PCA_GRID).cast("long").alias("comp_band"),
    )


# ---------------------------------------------------------------------------
# Marketing attribution / time-series diagnostics / run intervals
# ---------------------------------------------------------------------------


@query(
    "w_last_touch_attribution",
    oracle="""
    WITH o AS (
      SELECT user_id, event_id, ts, event_type,
             LAST_VALUE(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS channel
      FROM events
    )
    SELECT CAST(event_id AS BIGINT) AS purchase_id,
           CAST(user_id AS BIGINT) AS user_id,
           COALESCE(channel, 'none') AS channel,
           CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS purchase_epoch
    FROM o WHERE event_type = 'purchase'
    """,
)
def w_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the user's most
    recent PRECEDING non-purchase event (the marketing-analytics
    primitive behind channel ROI). One pass: a per-user event-time
    window with ``last(..., ignorenulls=True)`` over rows up to 1
    PRECEDING — the conditional-carry-forward idiom — then filter to
    purchases. Deterministic total order (ts, event_id tie-break) so
    both engines agree on simultaneous events. Window partitioned by
    user_id: parallel across the key space, no global sort anywhere;
    at 100 TB this is one shuffle on user_id, state one row per
    frame."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    channel = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        e.withColumn("channel", channel)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").cast("long").alias("purchase_id"),
            F.col("user_id").cast("long").alias("user_id"),
            F.coalesce(F.col("channel"), F.lit("none")).alias("channel"),
            F.unix_timestamp("ts").cast("long").alias("purchase_epoch"),
        )
    )


@query(
    "a_autocorrelation",
    oracle="""
    WITH c AS (
      SELECT CAST(FLOOR(EPOCH(ts) / 3600) AS BIGINT) AS h,
             CAST(COUNT(*) AS DOUBLE) AS x
      FROM events GROUP BY 1
    ), lags AS (
      SELECT k FROM generate_series(1, 6) AS t(k)
    ), pairs AS (
      SELECT l.k, a.x AS x, b.x AS y
      FROM lags l
      JOIN c a ON TRUE
      JOIN c b ON b.h = a.h + l.k
    )
    SELECT CAST(k AS BIGINT) AS lag,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND((COUNT(*) * SUM(x*y) - SUM(x) * SUM(y))
                 / SQRT((COUNT(*) * SUM(x*x) - SUM(x) * SUM(x))
                        * (COUNT(*) * SUM(y*y) - SUM(y) * SUM(y))), 6)
             AS acf
    FROM pairs GROUP BY k
    """,
)
def a_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the hourly event-count series at
    lags 1..6 — the seasonality/burstiness diagnostic for a telemetry
    feed. Scale-correct formulation: NO global ordered window — the
    hourly series (bounded: one row per hour of corpus time) is
    self-JOINED at offset h+k per lag, and Pearson r comes from the
    one-pass sum-of-products identity, so everything is groupBy/join
    on hour keys at full parallelism. The lag dimension fans out via
    a 6-row broadcast cross join, one scan of the series for all six
    lags."""
    e = _t(spark, sf_dir, "events")
    c = (
        e.select(F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("h"))
        .groupBy("h")
        .agg(F.count("*").cast("double").alias("x"))
    )
    lags = spark.range(1, 7).select(F.col("id").alias("k"))
    a = c.crossJoin(F.broadcast(lags))
    b = c.select((F.col("h")).alias("hb"), F.col("x").alias("y"))
    pairs = a.join(b, F.col("hb") == F.col("h") + F.col("k"))
    n = F.count("*")
    sx, sy = F.sum("x"), F.sum("y")
    sxy, sxx, syy = (
        F.sum(F.col("x") * F.col("y")),
        F.sum(F.col("x") * F.col("x")),
        F.sum(F.col("y") * F.col("y")),
    )
    return pairs.groupBy("k").agg(
        n.cast("long").alias("n_pairs"),
        F.round(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("acf"),
    ).select(F.col("k").cast("long").alias("lag"), "n_pairs", "acf")


@query(
    "j_scd2_intervals",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type, ts, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rt
      FROM events
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           event_type,
           CAST(MIN(rn) AS BIGINT) AS first_rn,
           CAST(COUNT(*) AS BIGINT) AS run_len,
           CAST(FLOOR(EPOCH(MIN(ts))) AS BIGINT) AS run_start_epoch,
           CAST(FLOOR(EPOCH(MAX(ts))) AS BIGINT) AS run_end_epoch
    FROM o GROUP BY user_id, event_type, rn - rt
    """,
)
def j_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2-style run intervals: collapse each user's event stream
    into maximal runs of consecutive equal event_type, with validity
    bounds — the slowly-changing-dimension build step (state "valid
    from first_rn for run_len events") and the same gaps-and-islands
    core as dedup_repeated_spans, here over per-user state instead of
    corpus positions. Two windows per user partition (global rank +
    per-type rank; their difference is constant within a run), then
    one groupBy on (user, type, island) — all partitioned by user_id,
    nothing global. Deterministic tie-break (ts, event_id) keeps both
    engines' row numbering identical."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wt = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    o = e.withColumn("rn", F.row_number().over(wu)).withColumn(
        "rt", F.row_number().over(wt)
    )
    return (
        o.groupBy("user_id", "event_type", (F.col("rn") - F.col("rt")).alias("_isl"))
        .agg(
            F.min("rn").cast("long").alias("first_rn"),
            F.count("*").cast("long").alias("run_len"),
            F.unix_timestamp(F.min("ts")).cast("long").alias("run_start_epoch"),
            F.unix_timestamp(F.max("ts")).cast("long").alias("run_end_epoch"),
        )
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            "event_type",
            "first_rn",
            "run_len",
            "run_start_epoch",
            "run_end_epoch",
        )
    )


# ---------------------------------------------------------------------------
# Linear quality classifier as sparse matmul / sequence-pattern regex
# ---------------------------------------------------------------------------

_CLF_DIM = 1024
_CLF_SEED = 4000037


@query(
    "text_classifier_score",
    oracle=rf"""
    WITH w AS (
      SELECT doc_id, word FROM (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS word
        FROM documents
      ) WHERE len(word) > 0
    ), tf AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) % {_CLF_DIM}
               AS idx,
             COUNT(*) AS cnt
      FROM w GROUP BY 1, 2
    ), scored AS (
      SELECT doc_id,
             SUM(cnt) AS n_terms,
             SUM(cnt * (({_cms_oracle_bucket_sql('idx', _CLF_SEED, width=2001)}) - 1000)
                 / 1024.0 / 16) AS score
      FROM tf GROUP BY doc_id
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_terms AS BIGINT) AS n_terms,
           ROUND(score, 6) AS score,
           ROUND(1.0 / (1.0 + EXP(-score)), 6) AS prob,
           ROUND(score, 6) > 0 AS keep
    FROM scored
    """,
)
def text_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (fastText-style) quality-classifier INFERENCE over the
    corpus with zero Python in the hot path: hashed bag-of-words
    features (the enc_feature_hash md5 trick — no vocabulary, fixed
    1024-dim space) scored against a weight vector, as a pure
    aggregation. The model here is hash-derived (weight(idx) =
    (portable_bucket(idx+seed, 2001) − 1000)/1024/16 — deterministic
    and engine-portable, so DuckDB replays inference bit-for-bit at
    the 1e-6 grid — the divisor is DYADIC (1024·16) so every weight,
    product and partial sum is exactly representable and the score is
    order-independent across engines and partitionings); swapping in trained weights turns the weight
    expression into a broadcast join on idx against a 1024-row
    weights table — the plan shape does not change. This is the 100 TB
    quality-filter step (CCNet/fastText LM filtering) expressed as
    sparse matmul: tokenize → (doc, idx) term counts with map-side
    partial agg → Σ tf·w per doc → sigmoid; one shuffle on doc_id,
    no UDF, no model server."""
    from ..functions.columns import portable_bucket

    d = _t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("word"),
    ).filter(F.length("word") > 0)
    idx = F.conv(F.substring(F.md5("word"), 1, 15), 16, 10).cast("long") % _CLF_DIM
    tf = (
        words.select("doc_id", idx.alias("idx"))
        .groupBy("doc_id", "idx")
        .agg(F.count("*").alias("cnt"))
    )
    wgt = (
        (portable_bucket(F.col("idx") + F.lit(_CLF_SEED), 2001) - F.lit(1000))
        / F.lit(1024.0)
        / F.lit(16)
    )
    scored = tf.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_terms"),
        F.sum(F.col("cnt") * wgt).alias("score_raw"),
    )
    return scored.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_terms",
        F.round("score_raw", 6).alias("score"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("score_raw"))), 6).alias(
            "prob"
        ),
        (F.round("score_raw", 6) > 0).alias("keep"),
    )


@query(
    "w_sequence_pattern",
    oracle="""
    WITH s AS (
      SELECT user_id,
             STRING_AGG(substr(event_type, 1, 1), ''
                        ORDER BY ts, event_id) AS seq
      FROM events GROUP BY user_id
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(LEN(seq) AS BIGINT) AS seq_len,
           CAST(LEN(regexp_extract_all(seq, 'vc*p')) AS BIGINT)
             AS n_conversions,
           CAST(LEN(regexp_extract_all(seq, 'ee+')) AS BIGINT)
             AS n_error_bursts
    FROM s
    """,
)
def w_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite: regex over each user's chronological
    event-symbol string. Events collapse to one char each (v/c/p/s/e),
    per-user strings assemble via array_sort of (ts, event_id, sym)
    structs (deterministic total order — the struct sorts by field
    order, so the tie-break is built into the sort key) and the
    pattern engine counts non-overlapping matches: 'vc*p' =
    view→(clicks)→purchase conversions, 'ee+' = error bursts. The
    generalization of w_funnel_conversion: ANY sequential pattern
    without new plan machinery. Per-user state is one bounded string
    (longest fixture user ~hundreds of events); at 100 TB you shard
    long histories by session first (t3_session_window), then pattern-
    match within sessions — same operator, bounded keys."""
    e = _t(spark, sf_dir, "events")
    seq = (
        e.select(
            "user_id",
            F.struct(
                F.col("ts"), F.col("event_id"), F.substring("event_type", 1, 1).alias("sym")
            ).alias("ev"),
        )
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_list("ev")).alias("evs"))
        .select(
            "user_id",
            F.concat_ws(
                "", F.transform(F.col("evs"), lambda x: x["sym"])
            ).alias("seq"),
        )
    )
    return seq.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.length("seq").cast("long").alias("seq_len"),
        F.regexp_count("seq", F.lit("vc*p")).cast("long").alias("n_conversions"),
        F.regexp_count("seq", F.lit("ee+")).cast("long").alias("n_error_bursts"),
    )


@query(
    "a_seasonal_residuals",
    oracle="""
    WITH c AS (
      SELECT CAST(FLOOR(EPOCH(ts) / 3600) AS BIGINT) AS h,
             CAST(COUNT(*) AS DOUBLE) AS x
      FROM events GROUP BY 1
    ), b AS (
      SELECT h % 24 AS hod,
             AVG(x) AS m,
             STDDEV_POP(x) AS sd,
             COUNT(*) AS n_obs
      FROM c GROUP BY 1
    )
    SELECT c.h AS hour_epoch,
           CAST(c.h % 24 AS BIGINT) AS hod,
           CAST(c.x AS BIGINT) AS n_events,
           ROUND((c.x - b.m) / b.sd, 4) AS z
    FROM c JOIN b ON b.hod = c.h % 24
    WHERE b.sd > 0 AND ABS(ROUND((c.x - b.m) / b.sd, 4)) >= 2
    """,
)
def a_seasonal_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-adjusted anomaly detection on the hourly event
    stream: each hour's count is z-scored against the baseline for
    ITS HOUR-OF-DAY (the STL-lite two-pass — a plain global z-score
    flags every rush hour as an anomaly; deseasonalizing first is
    what makes the alert actionable). Pass 1 aggregates the bounded
    hourly series; pass 2 joins the 24-row broadcast baseline back
    and keeps |z| ≥ 2 — the threshold compares the ROUNDED z on both
    engines so the cut is grid-deterministic. All keys are hour
    buckets: full parallelism, no windows, no global state."""
    e = _t(spark, sf_dir, "events")
    c = (
        e.select(F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("h"))
        .groupBy("h")
        .agg(F.count("*").cast("double").alias("x"))
    )
    b = (
        c.groupBy((F.col("h") % 24).alias("hod"))
        .agg(
            F.avg("x").alias("m"),
            F.stddev_pop("x").alias("sd"),
            F.count("*").alias("n_obs"),
        )
    )
    z = F.round((F.col("x") - F.col("m")) / F.col("sd"), 4)
    return (
        c.withColumn("hod", F.col("h") % 24)
        .join(F.broadcast(b), "hod")
        .filter(F.col("sd") > 0)
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) >= 2)
        .select(
            F.col("h").alias("hour_epoch"),
            F.col("hod").cast("long").alias("hod"),
            F.col("x").cast("long").alias("n_events"),
            "z",
        )
    )


def _pca_by_label_oracle_sql(rounds: int) -> str:
    """Grouped replay of the power iteration: identical arithmetic to
    operators/linalg (centering as s_i·s_j/n, per-label L2 window
    normalization), unrolled MATERIALIZED CTE rounds."""
    ctes = ["r0 AS (SELECT label, i AS j, 0.125 AS vj FROM sums)"]
    for r in range(1, rounds + 1):
        ctes.append(
            f"w{r} AS MATERIALIZED (SELECT g.label, g.i, "
            f"SUM(g.g*r{r-1}.vj) AS w FROM g "
            f"JOIN r{r-1} ON r{r-1}.label=g.label AND r{r-1}.j=g.j "
            f"GROUP BY g.label, g.i)"
        )
        ctes.append(
            f"r{r} AS (SELECT label, i AS j, "
            f"w / SQRT(SUM(w*w) OVER (PARTITION BY label)) AS vj FROM w{r})"
        )
    return f"""
    WITH e AS (
      SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS i,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ), sums AS (
      SELECT label, i, SUM(v) AS si FROM e GROUP BY label, i
    ), cnt AS (
      SELECT label, COUNT(DISTINCT vec_id) AS n FROM e GROUP BY label
    ), s AS (
      SELECT a.label, a.i AS i, b.i AS j, SUM(a.v*b.v) AS s
      FROM e a JOIN e b ON a.vec_id = b.vec_id GROUP BY a.label, a.i, b.i
    ), g AS MATERIALIZED (
      SELECT s.label, s.i, s.j,
             s.s - sa.si * sb.si / cnt.n AS g
      FROM s
      JOIN sums sa ON sa.label = s.label AND sa.i = s.i
      JOIN sums sb ON sb.label = s.label AND sb.i = s.j
      JOIN cnt ON cnt.label = s.label
    ),
    {", ".join(ctes)}
    SELECT CAST(label AS BIGINT) AS label,
           CAST(j AS BIGINT) AS dim,
           CAST(FLOOR(vj * {_PCA_GRID}) AS BIGINT) AS comp_band
    FROM r{rounds}
    """


@query("emb_pca_by_label_banded", oracle=_pca_by_label_oracle_sql(_PCA_ROUNDS))
def emb_pca_by_label_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED PCA — the top principal component of every label
    segment, all 10 fits advancing together through one vectorized
    fixpoint (operators/linalg.*_by): keyed moment partials (numpy per
    key-group inside each partition), per-key centered grams, and a
    power iteration whose state is ONE array row per key — broadcast
    joins on the key column, linear plan growth, zero driver-side
    math. This is the "fit a model per segment" shape (per-language
    embedding drift, per-source covariance monitoring) that a loop of
    10 separate jobs gets catastrophically wrong at 100 TB: here every
    round is a single tiny join over all segments at once, and the
    data pass (moment partials) happens exactly once for all 10
    models. Cross-engine oracle: grouped unrolled-CTE replay, same
    1e-4 bands; per-label margins pinned in tests."""
    from ..operators import linalg

    e = _t(spark, sf_dir, "embeddings").select("label", "embedding")
    moments = linalg.moment_partials_by(e, "label")
    G = linalg.centered_gram_by(moments, "label")
    v = linalg.power_iteration_by(G, "label", _PCA_ROUNDS)
    return v.select(
        F.col("label").cast("long").alias("label"),
        F.col("j").cast("long").alias("dim"),
        F.floor(F.col("vj") * _PCA_GRID).cast("long").alias("comp_band"),
    )


@query(
    "p_weighted_sample",
    oracle=f"""
    WITH u AS (
      SELECT doc_id, n_chars,
             (({_cms_oracle_bucket_sql('doc_id', 9100017, width=4294967296)}) + 1.0)
               / 4294967297.0 AS uh
      FROM documents WHERE n_chars > 0
    ), keyed AS (
      SELECT doc_id, n_chars,
             ROUND(POW(uh, 1.0 / n_chars), 9) AS skey
      FROM u
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS weight, skey
    FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY skey DESC, doc_id) AS rn
      FROM keyed
    ) WHERE rn <= 50
    """,
)
def p_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED sampling without replacement, reproducibly — the
    Efraimidis–Spirakis exponential-key trick (key = u^(1/w), take
    top-N) with the repo's portable hash as u, so the same 50-doc
    quality-weighted sample (weight = n_chars here; any quality score
    in production) comes out on every engine, run, and partition
    layout. This is how you take "sample 10 B docs ∝ quality" out of
    a 100 TB corpus in ONE distributed pass with NO global state:
    keys are row-local arithmetic, selection is top-N
    (TakeOrderedAndProject, never a full sort). Keys are rounded to
    the 1e-9 grid BEFORE ranking on both engines, with doc_id
    tie-break, so the cross-engine order is total and deterministic
    despite pow()'s ulp wiggle."""
    from ..functions.columns import M32, portable_bucket

    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    uh = (portable_bucket(F.col("doc_id") + F.lit(9100017), M32) + F.lit(1.0)) / F.lit(
        4294967297.0
    )
    keyed = d.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("weight"),
        F.round(F.pow(uh, F.lit(1.0) / F.col("n_chars")), 9).alias("skey"),
    )
    return keyed.orderBy(F.desc("skey"), "doc_id").limit(50)


_SH_BITS = 48  # 12 md5 hex digits → fits a signed BIGINT in both engines


def _simhash_portable_oracle_sql(max_hamming: int) -> str:
    """Exact DuckDB replay of the portable SimHash: same md5-derived
    48-bit token hash, same tf-weighted ±1 bit sums, same sign rule,
    same Hamming cut — integer arithmetic end-to-end, so the pair set
    hash-matches with NO band (unlike the xxhash64 production simhash,
    whose hash function has no DuckDB twin — that one stays rows-only
    with property tests, and THIS query is its driver-checkable
    arithmetic witness)."""
    sums = ", ".join(
        f"SUM((((h >> {b}) & 1) * 2 - 1)) AS s{b}" for b in range(_SH_BITS)
    )
    sig = " + ".join(
        f"CASE WHEN s{b} > 0 THEN (CAST(1 AS BIGINT) << {b}) ELSE 0 END"
        for b in range(_SH_BITS)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(word), 1, 12) AS BIGINT) AS h
      FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(text), '\\s+')) AS word
        FROM documents WHERE doc_id < 200
      ) WHERE len(word) > 0
    ), sums AS (
      SELECT doc_id, {sums} FROM tok GROUP BY doc_id
    ), sigs AS (
      SELECT doc_id, {sig} AS sig FROM sums
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= {max_hamming}
    """


@query("dedup_simhash_portable", oracle=_simhash_portable_oracle_sql(6))
def dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with an EXACT cross-engine oracle: the
    production dedup_simhash_pairs runs on xxhash64 (JVM-only, so it
    is rows-only by necessity); this query runs the IDENTICAL
    algorithm — tf-weighted ±1 sign sums per bit, sign rule, Hamming
    cut — over a PORTABLE 48-bit md5 token hash, making every stage
    of the simhash arithmetic hash-checkable against DuckDB to the
    exact pair set. Same codegen'd shape as
    dedup.simhash_signatures: one explode, 48 map-side-partial SUM
    aggregates, one 48-wide row per doc through the shuffle; the
    doc_id<200 slice bounds the oracle-scale all-pairs (production
    uses the chunk-banded candidate join)."""
    from .. import catalog

    # spread the single-split scan before the md5+48-bit-sum map work
    # (r12, §2.5 — it ran as one serial 2.3 s task; statistics-based,
    # no build-time job, no-op on a wide scan)
    d = catalog.spread_narrow(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    )
    tokens = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda w: F.length(w) > 0
    )
    tok = d.select("doc_id", F.explode(tokens).alias("w")).select(
        "doc_id",
        F.conv(F.substring(F.md5("w"), 1, 12), 16, 10).cast("long").alias("h"),
    )
    sums = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                (F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1).cast(
                    "int"
                )
            ).alias(f"s{b}")
            for b in range(_SH_BITS)
        ]
    )
    sig = F.lit(0).cast("long")
    for b in range(_SH_BITS):
        sig = sig + F.when(
            F.col(f"s{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
    sigs = sums.select("doc_id", sig.alias("sig"))
    a = sigs.select(
        F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a")
    ).withColumn("__b", F.pmod(F.hash("id_a"), F.lit(1)))
    b2 = sigs.select(
        F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b")
    ).withColumn("__b", F.pmod(F.hash("id_b"), F.lit(1)))
    return (
        a.join(b2, "__b")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= 6)
    )


@query(
    "a_holt_forecast",
    oracle="""
    WITH RECURSIVE c AS (
      SELECT CAST(FLOOR(EPOCH(ts) / 3600) AS BIGINT) AS h,
             CAST(COUNT(*) AS DOUBLE) AS x
      FROM events GROUP BY 1
    ), o AS (
      SELECT x, ROW_NUMBER() OVER (ORDER BY h) AS t FROM c
    ), n AS (
      SELECT COUNT(*) AS n FROM o
    ), fold AS (
      SELECT t, x, x AS l, CAST(0 AS DOUBLE) AS b FROM o WHERE t = 1
      UNION ALL
      SELECT o.t, o.x,
             0.5 * o.x + 0.5 * (f.l + f.b) AS l,
             0.25 * (0.5 * o.x + 0.5 * (f.l + f.b) - f.l) + 0.75 * f.b AS b
      FROM fold f JOIN o ON o.t = f.t + 1
    ), last AS (
      SELECT l, b FROM fold WHERE t = (SELECT n FROM n)
    )
    SELECT CAST(k AS BIGINT) AS horizon,
           ROUND(l + k * b, 6) AS forecast
    FROM last, generate_series(1, 6) AS g(k)
    """,
)
def a_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend forecasting of the hourly event rate, 1-6
    hours ahead — the forecasting family: level/trend double
    exponential smoothing folded over the BOUNDED hourly series (one
    row per hour of corpus time — the same bounded-series contract as
    a_autocorrelation/a_seasonal_residuals, so the sequential fold is
    a one-group applyInPandas over ~thousands of points, never over
    raw events; raw-event smoothing at 100 TB would first aggregate to
    this series anyway, in parallel).

    Cross-engine EXACTNESS by construction: α=1/2 and β=1/4 are
    DYADIC, so every level/trend value is an exact binary float and
    the DuckDB RECURSIVE CTE replays the identical operation sequence
    bit-for-bit (the pack_sequences recursive-walk convention) — the
    6-dp rounding is belt-and-braces, not a band."""
    import pandas as pd

    e = _t(spark, sf_dir, "events")
    c = (
        e.select(F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("h"))
        .groupBy("h")
        .agg(F.count("*").cast("double").alias("x"))
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("h")
        xs = pdf["x"].to_numpy()
        level, trend = xs[0], 0.0
        for x in xs[1:]:
            new_level = 0.5 * x + 0.5 * (level + trend)
            trend = 0.25 * (new_level - level) + 0.75 * trend
            level = new_level
        return pd.DataFrame(
            {
                "horizon": range(1, 7),
                "forecast": [level + k * trend for k in range(1, 7)],
            }
        )

    # round in a Spark expression, not python: F.round is HALF-UP like
    # DuckDB's ROUND; python round() is banker's and flips exact
    # dyadic halfway values (the text_classifier_score lesson)
    return (
        c.withColumn("__g", F.lit(0))
        .groupBy("__g")
        .applyInPandas(fold, "horizon long, forecast double")
        .select("horizon", F.round("forecast", 6).alias("forecast"))
    )


@query(
    "a_holt_forecast_by_type",
    oracle="""
    WITH RECURSIVE c AS (
      SELECT event_type,
             CAST(FLOOR(EPOCH(ts) / 3600) AS BIGINT) AS h,
             CAST(COUNT(*) AS DOUBLE) AS x
      FROM events GROUP BY 1, 2
    ), o AS (
      SELECT event_type, x,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS t
      FROM c
    ), n AS (
      SELECT event_type, COUNT(*) AS n FROM o GROUP BY event_type
    ), fold AS (
      SELECT event_type, t, x, x AS l, CAST(0 AS DOUBLE) AS b
      FROM o WHERE t = 1
      UNION ALL
      SELECT o.event_type, o.t, o.x,
             0.5 * o.x + 0.5 * (f.l + f.b) AS l,
             0.25 * (0.5 * o.x + 0.5 * (f.l + f.b) - f.l) + 0.75 * f.b AS b
      FROM fold f
      JOIN o ON o.event_type = f.event_type AND o.t = f.t + 1
    ), last AS (
      SELECT f.event_type, f.l, f.b
      FROM fold f JOIN n ON n.event_type = f.event_type AND f.t = n.n
    )
    SELECT event_type,
           CAST(k AS BIGINT) AS horizon,
           ROUND(l + k * b, 6) AS forecast
    FROM last, generate_series(1, 6) AS g(k)
    """,
)
def a_holt_forecast_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED Holt forecasting — one level/trend model per
    event_type, all advancing through one grouped-map pass (the fleet
    form of a_holt_forecast, same relationship emb_pca_by_label_banded
    has to emb_pca_power_banded): per-type hourly series → one
    applyInPandas fold per key — the NATURAL grouped shape, thousands
    of independent series at full parallelism with per-task state of
    one bounded series. Same dyadic α=1/2, β=1/4 ⇒ the per-type
    recursions are bit-identical to DuckDB's keyed RECURSIVE CTE;
    Spark-side HALF-UP rounding."""
    import pandas as pd

    e = _t(spark, sf_dir, "events")
    c = (
        e.select(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count("*").cast("double").alias("x"))
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("h")
        xs = pdf["x"].to_numpy()
        level, trend = xs[0], 0.0
        for x in xs[1:]:
            new_level = 0.5 * x + 0.5 * (level + trend)
            trend = 0.25 * (new_level - level) + 0.75 * trend
            level = new_level
        et = pdf["event_type"].iloc[0]
        return pd.DataFrame(
            {
                "event_type": et,
                "horizon": range(1, 7),
                "forecast": [level + k * trend for k in range(1, 7)],
            }
        )

    return (
        c.groupBy("event_type")
        .applyInPandas(fold, "event_type string, horizon long, forecast double")
        .select("event_type", "horizon", F.round("forecast", 6).alias("forecast"))
    )


@query(
    "emb_pca_project",
    oracle=f"""
    {_pca_oracle_sql(_PCA_ROUNDS).split('SELECT CAST(j AS BIGINT)')[0]},
    proj AS (
      SELECT e.vec_id,
             SUM((e.v - m.m) * r.vj) AS coord
      FROM e
      JOIN m ON m.i = e.i
      JOIN r{_PCA_ROUNDS} r ON r.j = e.i
      GROUP BY e.vec_id
    )
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           CAST(FLOOR(coord * {_PCA_GRID}) AS BIGINT) AS coord_band
    FROM proj
    """,
)
def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the learned transform corpus-wide: every embedding's
    coordinate along the fitted top principal component — the actual
    pipeline step that follows a PCA fit (drift scoring, 1-d
    curriculum ordering, whitening's first column). The component and
    the centering means collapse to two SINGLE-ROW ARRAY broadcasts,
    so the projection pass is zero-shuffle in-row arithmetic:
    crossJoin the two 1-row tables, zip_with(x − m, v, ·) →
    aggregate-sum per row — at 100 TB this is one map-only scan,
    which is the whole point of separating fit from apply. Banded
    like the fit (1e-4 grid; measured margin 2.4e-3 band-widths at
    sf0.01 vs ~1e-13 cross-engine noise); DuckDB twin extends the
    same unrolled fixpoint CTEs with the projection join."""
    from ..operators import linalg

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    moments = linalg.moment_partials(e)
    G = linalg.centered_gram(moments)
    v = linalg.power_iteration(G, _PCA_ROUNDS)
    v_arr = v.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "vj"))), lambda p: p["vj"]
        ).alias("varr")
    )
    n = moments.filter((F.col("i") == -1) & (F.col("j") == -1)).select(
        F.col("s").alias("n")
    )
    m_arr = (
        moments.filter((F.col("j") == -1) & (F.col("i") >= 0))
        .crossJoin(F.broadcast(n))
        .select("i", (F.col("s") / F.col("n")).alias("m"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "m"))), lambda p: p["m"]
            ).alias("marr")
        )
    )
    centered = lambda x, m: F.zip_with(x, m, lambda a, b: a.cast("double") - b)  # noqa: E731
    return (
        e.crossJoin(F.broadcast(v_arr))
        .crossJoin(F.broadcast(m_arr))
        .select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.floor(
                F.aggregate(
                    F.zip_with(
                        centered(F.col("embedding"), F.col("marr")),
                        F.col("varr"),
                        lambda a, b: a * b,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                * _PCA_GRID
            )
            .cast("long")
            .alias("coord_band"),
        )
    )


@query(
    "a_ks_test",
    oracle="""
    WITH pooled AS (
      SELECT value, event_type AS tag, event_id FROM events
      WHERE event_type IN ('purchase', 'click')
    ), sizes AS (
      SELECT SUM(CASE WHEN tag = 'purchase' THEN 1 ELSE 0 END) AS na,
             SUM(CASE WHEN tag = 'click' THEN 1 ELSE 0 END) AS nb
      FROM pooled
    ), ranked AS (
      SELECT tag, value,
             ROW_NUMBER() OVER (ORDER BY value, tag, event_id) AS i,
             ROW_NUMBER() OVER (PARTITION BY tag
                                ORDER BY value, event_id) AS r
      FROM pooled
    ), blocks AS (
      SELECT tag, i, r, MAX(i) OVER (PARTITION BY value) AS block_end
      FROM ranked
    ), gaps AS (
      SELECT CASE WHEN tag = 'purchase'
                  THEN ABS(CAST(r AS DOUBLE) / na - CAST(i - r AS DOUBLE) / nb)
                  ELSE ABS(CAST(i - r AS DOUBLE) / na - CAST(r AS DOUBLE) / nb)
             END AS d
      FROM blocks, sizes
      WHERE i = block_end
    )
    SELECT CAST(ANY_VALUE(na) AS BIGINT) AS n_a,
           CAST(ANY_VALUE(nb) AS BIGINT) AS n_b,
           ROUND(MAX(d), 6) AS ks_d,
           ROUND(2 * EXP(-2 * POW(MAX(d), 2)
                         * ANY_VALUE(na) * ANY_VALUE(nb)
                         / (ANY_VALUE(na) + ANY_VALUE(nb))), 6) AS p_approx
    FROM gaps, sizes
    """,
)
def a_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test (purchase vs click value
    distributions) — completing the hypothesis-test family (Welch t,
    A/B lift): D = sup|F_A − F_B| WITHOUT any single-partition sort,
    via the dual-rank identity — give every pooled row its GLOBAL
    ascending rank i (operators.ranks.attach_global_ranks:
    range-partitioned sort + broadcast offsets) and its WITHIN-GROUP
    rank r (per-tag window, parallel by key); then at that row
    F_own = r/n_own and F_other = (i−r)/n_other, so the ECDF gap is
    ROW-LOCAL arithmetic and D is one MAX aggregate. TIES (ADVICE
    r05): the gap is evaluated only at TIE-BLOCK BOUNDARY rows
    (i == max(i) over the value block) — mid-block rows see a
    partially-included block, which biases D when equal values occur
    in both groups; at the block end the dual-rank identity yields
    the textbook right-continuous ECDFs exactly. Both ECDFs jump only
    at data values, so the block-end maximum IS sup|F_A − F_B|.
    Identical tie-break (value, tag, event_id) on both engines makes
    the statistic exact cross-engine; the asymptotic one-term p-value
    2·exp(−2D²·n_an_b/(n_a+n_b)) rides along."""
    from pyspark.sql import Window

    from ..operators.ranks import attach_global_ranks

    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    pooled = e.select("value", F.col("event_type").alias("tag"), "event_id")
    sizes = pooled.agg(
        F.count_if(F.col("tag") == "purchase").alias("na"),
        F.count_if(F.col("tag") == "click").alias("nb"),
    )
    g = attach_global_ranks(
        pooled,
        sort_cols=[F.asc("value"), F.asc("tag"), F.asc("event_id")],
        key_cols=[F.col("value"), F.col("tag"), F.col("event_id")],
        rn_col="i",
    )
    wg = Window.partitionBy("tag").orderBy("value", "event_id")
    wv = Window.partitionBy("value")
    r = g.withColumn("r", F.row_number().over(wg)).withColumn(
        "block_end", F.max("i").over(wv)
    )
    fa = F.when(
        F.col("tag") == "purchase", F.col("r").cast("double") / F.col("na")
    ).otherwise((F.col("i") - F.col("r")).cast("double") / F.col("na"))
    fb = F.when(
        F.col("tag") == "click", F.col("r").cast("double") / F.col("nb")
    ).otherwise((F.col("i") - F.col("r")).cast("double") / F.col("nb"))
    gaps = (
        r.filter(F.col("i") == F.col("block_end"))
        .crossJoin(F.broadcast(sizes))
        .select(F.abs(fa - fb).alias("d"), "na", "nb")
    )
    return gaps.agg(
        F.any_value("na").cast("long").alias("n_a"),
        F.any_value("nb").cast("long").alias("n_b"),
        F.round(F.max("d"), 6).alias("ks_d"),
        F.round(
            2
            * F.exp(
                -2
                * F.pow(F.max("d"), 2)
                * F.any_value("na")
                * F.any_value("nb")
                / (F.any_value("na") + F.any_value("nb"))
            ),
            6,
        ).alias("p_approx"),
    )


@query(
    "a_mannwhitney_u",
    oracle="""
    WITH pooled AS (
      SELECT value, event_type AS tag, event_id FROM events
      WHERE event_type IN ('purchase', 'click')
    ), ranked AS (
      SELECT tag, value,
             ROW_NUMBER() OVER (ORDER BY value, tag, event_id) AS i
      FROM pooled
    ), mids AS (
      SELECT tag,
             (CAST(MIN(i) OVER (PARTITION BY value) AS DOUBLE)
              + MAX(i) OVER (PARTITION BY value)) / 2 AS mid,
             CAST(COUNT(*) OVER (PARTITION BY value) AS DOUBLE) AS t
      FROM ranked
    ), agg AS (
      SELECT SUM(CASE WHEN tag = 'purchase' THEN mid ELSE 0 END) AS ra,
             SUM(CASE WHEN tag = 'purchase' THEN 1 ELSE 0 END) AS na,
             SUM(CASE WHEN tag = 'click' THEN 1 ELSE 0 END) AS nb,
             SUM(t * t - 1) AS tie3
      FROM mids
    )
    SELECT CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b,
           ROUND(ra - na * (na + 1) / 2.0, 6) AS u_stat,
           ROUND((ra - na * (na + 1) / 2.0 - na * nb / 2.0)
                 / SQRT(na * nb / 12.0
                        * ((na + nb + 1.0)
                           - tie3 / ((na + nb) * (na + nb - 1.0)))), 6) AS z
    FROM agg
    """,
)
def a_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) for purchase vs click
    values — the nonparametric complement to a_welch_ttest, sharing
    a_ks_test's machinery: pooled global ranks from the distributed
    ranks operator, then U = ΣR_A − n_A(n_A+1)/2 and the normal
    approximation z from ONE aggregation. TIES (ADVICE r05): tied
    values take the textbook MIDRANK — (min+max)/2 of the global
    ranks inside the tie block, a per-value window — so the statistic
    no longer depends on the cross-group tag tie-break, and z uses
    the tie-corrected variance n_an_b/12·((n+1) − Σ(t³−t)/(n(n−1)))
    where Σ(t³−t) accumulates per-row as t²−1 (each t-row block
    contributes t·(t²−1)). U lands on the 0.5 grid (exact in
    doubles); z rounds on the 1e-6 grid."""
    from pyspark.sql import Window

    from ..operators.ranks import attach_global_ranks

    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    pooled = e.select("value", F.col("event_type").alias("tag"), "event_id")
    ranked = attach_global_ranks(
        pooled,
        sort_cols=[F.asc("value"), F.asc("tag"), F.asc("event_id")],
        key_cols=[F.col("value"), F.col("tag"), F.col("event_id")],
        rn_col="i",
    )
    wv = Window.partitionBy("value")
    mids = ranked.select(
        "tag",
        (
            (F.min("i").over(wv).cast("double") + F.max("i").over(wv)) / 2
        ).alias("mid"),
        F.count("*").over(wv).cast("double").alias("t"),
    )
    agg = mids.agg(
        F.sum(F.when(F.col("tag") == "purchase", F.col("mid")).otherwise(0.0)).alias(
            "ra"
        ),
        F.count_if(F.col("tag") == "purchase").alias("na"),
        F.count_if(F.col("tag") == "click").alias("nb"),
        F.sum(F.col("t") * F.col("t") - 1).alias("tie3"),
    )
    u = F.col("ra") - F.col("na") * (F.col("na") + 1) / 2.0
    n = F.col("na") + F.col("nb")
    return agg.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(u, 6).alias("u_stat"),
        F.round(
            (u - F.col("na") * F.col("nb") / 2.0)
            / F.sqrt(
                F.col("na")
                * F.col("nb")
                / 12.0
                * ((n + 1.0) - F.col("tie3") / (n * (n - 1.0)))
            ),
            6,
        ).alias("z"),
    )


@query(
    "a_chi2_independence",
    oracle="""
    WITH obs AS (
      SELECT event_type,
             CAST(FLOOR(EPOCH(ts) / 3600) AS BIGINT) % 24 AS hod,
             COUNT(*) AS o
      FROM events GROUP BY 1, 2
    ), rows_ AS (
      SELECT event_type, SUM(o) AS ro FROM obs GROUP BY event_type
    ), cols_ AS (
      SELECT hod, SUM(o) AS co FROM obs GROUP BY hod
    ), tot AS (
      SELECT SUM(o) AS n FROM obs
    ), cells AS (
      SELECT obs.o,
             CAST(ro AS DOUBLE) * co / n AS e
      FROM obs JOIN rows_ USING (event_type)
               JOIN cols_ USING (hod)
               CROSS JOIN tot
    )
    SELECT CAST((SELECT COUNT(*) FROM rows_) - 1 AS BIGINT)
             * ((SELECT COUNT(*) FROM cols_) - 1) AS df,
           CAST((SELECT n FROM tot) AS BIGINT) AS n,
           ROUND(SUM((o - e) * (o - e) / e), 4) AS chi2
    FROM cells
    """,
)
def a_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² test of independence between event_type and hour-of-day —
    the contingency-table member of the test battery (is traffic mix
    stable across the day?). Three bounded aggregations of the SAME
    observed table (cells ≤ types×24) + broadcast margins; the χ²
    sum is a 120-cell reduce. Everything before the margins is one
    map-side-partial groupBy of the raw events."""
    e = _t(spark, sf_dir, "events")
    obs = (
        e.select(
            "event_type",
            (F.floor(F.unix_timestamp("ts") / 3600) % 24).cast("long").alias("hod"),
        )
        .groupBy("event_type", "hod")
        .agg(F.count("*").alias("o"))
    )
    rows_ = obs.groupBy("event_type").agg(F.sum("o").alias("ro"))
    cols_ = obs.groupBy("hod").agg(F.sum("o").alias("co"))
    tot = obs.agg(F.sum("o").alias("n"))
    n_rows = rows_.agg(F.count("*").alias("nr"))
    n_cols = cols_.agg(F.count("*").alias("nc"))
    cells = (
        obs.join(F.broadcast(rows_), "event_type")
        .join(F.broadcast(cols_), "hod")
        .crossJoin(F.broadcast(tot))
        .select(
            "o",
            (F.col("ro").cast("double") * F.col("co") / F.col("n")).alias("e"),
            "n",
        )
    )
    return (
        cells.agg(
            F.round(
                F.sum((F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")),
                4,
            ).alias("chi2"),
            F.any_value("n").cast("long").alias("n"),
        )
        .crossJoin(F.broadcast(n_rows))
        .crossJoin(F.broadcast(n_cols))
        .select(
            ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("df"),
            "n",
            "chi2",
        )
    )


@query(
    "sim_triplet_mining",
    oracle="""
    WITH a AS (
      SELECT vec_id AS anchor_id, CAST(embedding AS DOUBLE[]) AS av,
             label AS alabel
      FROM embeddings WHERE vec_id < 20
    ), c AS (
      SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS cv,
             label AS clabel
      FROM embeddings
    ), scored AS (
      SELECT anchor_id, cand_id, alabel, clabel,
             ROUND(list_cosine_similarity(av, cv), 6) AS sim
      FROM a CROSS JOIN c WHERE anchor_id <> cand_id
    ), pos AS (
      SELECT anchor_id, cand_id AS pos_id, sim AS pos_sim FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                                     ORDER BY sim DESC, cand_id) AS r
        FROM scored WHERE clabel = alabel) t WHERE r = 1
    ), neg AS (
      SELECT anchor_id, cand_id AS neg_id, sim AS neg_sim FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                                     ORDER BY sim DESC, cand_id) AS r
        FROM scored WHERE clabel <> alabel) t WHERE r = 1
    )
    SELECT p.anchor_id, pos_id, neg_id, pos_sim, neg_sim,
           ROUND(pos_sim - neg_sim, 6) AS margin
    FROM pos p JOIN neg n ON n.anchor_id = p.anchor_id
    """,
)
def sim_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIPLET mining for contrastive training: per anchor, the
    nearest SAME-label vector (positive) and the nearest
    OTHER-label vector (the HARD negative — the example that actually
    moves a metric-learning loss, vs easy random negatives) plus the
    margin between them. One broadcast(anchors) × corpus scan scores
    every candidate; two windows partitioned by anchor pick the
    heads. At 100 TB the corpus side comes pre-filtered by ANN
    (sim_topk_* / the persisted IVF index) and this exact ranking
    runs over the candidate set — same plan, bounded input. Ranks on
    the 1e-6-ROUNDED cosine with id tie-break (the
    sim_topk_bruteforce convention) so both engines agree on ties."""
    from pyspark.sql import Window

    from ..operators.similarity import _as_double, cosine

    e = _t(spark, sf_dir, "embeddings")
    a = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("anchor_id"),
        _as_double(F.col("embedding")).alias("av"),
        F.col("label").alias("alabel"),
    )
    c = e.select(
        F.col("vec_id").alias("cand_id"),
        _as_double(F.col("embedding")).alias("cv"),
        F.col("label").alias("clabel"),
    )
    scored = (
        c.crossJoin(F.broadcast(a))
        .filter(F.col("anchor_id") != F.col("cand_id"))
        .select(
            "anchor_id",
            "cand_id",
            "alabel",
            "clabel",
            F.round(cosine("av", "cv"), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(F.desc("sim"), F.col("cand_id"))
    pos = (
        scored.filter(F.col("clabel") == F.col("alabel"))
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("anchor_id", F.col("cand_id").alias("pos_id"), F.col("sim").alias("pos_sim"))
    )
    neg = (
        scored.filter(F.col("clabel") != F.col("alabel"))
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("anchor_id", F.col("cand_id").alias("neg_id"), F.col("sim").alias("neg_sim"))
    )
    return pos.join(neg, "anchor_id").select(
        F.col("anchor_id").cast("long").alias("anchor_id"),
        F.col("pos_id").cast("long").alias("pos_id"),
        F.col("neg_id").cast("long").alias("neg_id"),
        "pos_sim",
        "neg_sim",
        F.round(F.col("pos_sim") - F.col("neg_sim"), 6).alias("margin"),
    )


@query(
    "p_token_budget_sample",
    oracle=r"""
    WITH d AS (
      SELECT doc_id, source,
             LEN(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]'))
               AS n_tokens,
             (doc_id + 5500003) % 4294967296 AS km
      FROM documents
    ), m AS (
      SELECT doc_id, source, n_tokens,
             ((km - km % 65536) // 65536 * 2654435761 % 4294967296
              * 65536 + km % 65536 * 2654435761) % 4294967296 AS mixed
      FROM d
    ), c AS (
      SELECT doc_id, source, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source
                                 ORDER BY mixed, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM m
    )
    SELECT doc_id, source,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= 800
    """,
)
def p_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-BUDGETED mixture sampling: take documents per source in a
    reproducible pseudo-random order until each source's TOKEN budget
    (800 here — ~55% of each fixture source, so the cut genuinely
    binds at every test scale) is spent — how a pretraining mixture is actually
    specified ("x billion tokens of web, y of code"), as opposed to
    doc-count sampling (p_group_sample) which over-weights sources
    with long documents. Per-source portable-hash order + one running
    token sum per partition key; the budget cut is on the INCLUSIVE
    cumulative sum so the result is a deterministic prefix of each
    source's permutation — integers end-to-end, exact cross-engine.
    Token counts use the pack_sequences tokenizer regex. At 100 TB:
    one window per source partition, no global state, and a new seed
    constant yields a fresh epoch's sample."""
    from pyspark.sql import Window

    from ..functions.columns import M32, portable_bucket

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(
            F.regexp_extract_all(
                F.col("text"), F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"), F.lit(0)
            )
        ).alias("n_tokens"),
        portable_bucket(F.col("doc_id") + F.lit(5500003), M32).alias("mixed"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("mixed", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        d.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= 800)
        .select(
            "doc_id",
            "source",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("cum_tokens").cast("long").alias("cum_tokens"),
        )
    )


@query(
    "a_crosscorrelation",
    oracle="""
    WITH c AS (
      SELECT CAST(FLOOR(EPOCH(ts) / 3600) AS BIGINT) AS h,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS y
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY 1
    ), lags AS (
      SELECT k FROM generate_series(-3, 3) AS t(k)
    ), pairs AS (
      SELECT l.k, a.x AS x, b.y AS y
      FROM lags l
      JOIN c a ON TRUE
      JOIN c b ON b.h = a.h + l.k
    )
    SELECT CAST(k AS BIGINT) AS lag,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND((COUNT(*) * SUM(x*y) - SUM(x) * SUM(y))
                 / SQRT((COUNT(*) * SUM(x*x) - SUM(x) * SUM(x))
                        * (COUNT(*) * SUM(y*y) - SUM(y) * SUM(y))), 6)
             AS ccf
    FROM pairs GROUP BY k
    """,
)
def a_crosscorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between the hourly CLICK and
    PURCHASE rate series at lags −3..+3 — the lead/lag diagnostic
    (do clicks predict purchases hours ahead?) completing
    a_autocorrelation's toolkit. Same scale-correct shape: both
    series come out of ONE grouped scan (conditional sums per hour),
    the 7 lags fan out via a broadcast cross join, alignment is an
    hour-key equi-join, and Pearson r uses the one-pass
    sum-of-products identity — no ordered windows anywhere."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    c = (
        e.select(
            F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("h"),
            "event_type",
        )
        .groupBy("h")
        .agg(
            F.count_if(F.col("event_type") == "click").cast("double").alias("x"),
            F.count_if(F.col("event_type") == "purchase")
            .cast("double")
            .alias("y"),
        )
    )
    lags = spark.range(-3, 4).select(F.col("id").alias("k"))
    a = c.crossJoin(F.broadcast(lags))
    b = c.select(F.col("h").alias("hb"), F.col("y").alias("yb"))
    pairs = a.join(b, F.col("hb") == F.col("h") + F.col("k")).select(
        "k", "x", F.col("yb").alias("y")
    )
    n = F.count("*")
    sx, sy = F.sum("x"), F.sum("y")
    sxy, sxx, syy = (
        F.sum(F.col("x") * F.col("y")),
        F.sum(F.col("x") * F.col("x")),
        F.sum(F.col("y") * F.col("y")),
    )
    return pairs.groupBy("k").agg(
        n.cast("long").alias("n_pairs"),
        F.round(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("ccf"),
    ).select(F.col("k").cast("long").alias("lag"), "n_pairs", "ccf")


@query(
    "p_quantile_normalize",
    oracle="""
    WITH d AS (
      SELECT doc_id, source, n_chars FROM documents
    ), g AS (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS i,
             COUNT(*) OVER () AS n,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS r,
             COUNT(*) OVER (PARTITION BY source) AS ns
      FROM d
    ), mapped AS (
      SELECT doc_id, source, n_chars,
             ((2 * r - 1) * n + ns) // (2 * ns) AS pos
      FROM g
    )
    SELECT m.doc_id, m.source,
           CAST(m.n_chars AS BIGINT) AS n_chars,
           CAST(v.n_chars AS BIGINT) AS normalized
    FROM mapped m JOIN g v ON v.i = m.pos
    """,
)
def p_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTILE NORMALIZATION across sources (quantile matching): map
    each document's length onto the GLOBAL value at the same relative
    rank, so every source's length distribution becomes the pooled
    one — the batch-effect correction ML pipelines apply when sources
    have systematically different scales but comparable shapes
    (a8_group_normalize's z-score assumes Gaussian; this matches the
    whole distribution). Integer-only midpoint mapping
    pos = ⌊((2r−1)·N + n_s) / 2n_s⌋ so the transform is exact
    cross-engine. Scale shape: per-source ranks are partitioned
    windows; the GLOBAL rank and the rank→value lookup both come from
    the distributed ranks operator (range-partitioned sort +
    broadcast offsets) — the lookup join shuffles on integer rank
    positions, never sorts globally."""
    from pyspark.sql import Window

    from ..operators.ranks import attach_global_ranks

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    g = attach_global_ranks(
        d,
        sort_cols=[F.asc("n_chars"), F.asc("doc_id")],
        key_cols=[F.col("n_chars"), F.col("doc_id")],
        rn_col="i",
    )
    tot = d.agg(F.count("*").alias("n"))
    ws = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = (
        g.withColumn("r", F.row_number().over(ws))
        .withColumn("ns", F.count("*").over(Window.partitionBy("source")))
        .crossJoin(F.broadcast(tot))
    )
    mapped = ranked.select(
        "doc_id",
        "source",
        "n_chars",
        F.floor(
            ((2 * F.col("r") - 1) * F.col("n") + F.col("ns"))
            / (2 * F.col("ns"))
        )
        .cast("long")
        .alias("pos"),
    )
    lookup = g.select(F.col("i").alias("pos"), F.col("n_chars").alias("normalized"))
    return mapped.join(lookup, "pos").select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("normalized").cast("long").alias("normalized"),
    )
