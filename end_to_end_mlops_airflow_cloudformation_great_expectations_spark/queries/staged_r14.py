"""Round-8 continuation additions (build-notes new-query discipline:
each proven local-green at sf0.001 + sf0.01 incl. --plain before
landing).

Theme: the remaining classical NONPARAMETRIC / SEQUENTIAL statistics
over bounded post-aggregation series, plus calibration, multiple
testing, privacy and graph-quality gaps. Shared spine: the DAILY
revenue series from lineitem — integerized ONCE to the cent grid via
``CAST(ROUND(l_extendedprice * 100) AS BIGINT)`` (the same parquet
double × the same literal is bit-identical IEEE arithmetic in both
engines, so the integerization is deterministic even for the ~11% of
fixture prices that are off the cent grid), after which every derived
count/sum/rank is EXACT integer arithmetic (the band-grid endgame:
ship the integers).

- ``a_kendall_tau`` — Kendall's τ-b between daily order-line count
  and daily revenue: concordant/discordant/tie pair counts as EXACT
  integers from the bounded day×day pair join (the a_theil_sen
  quadratic-in-series-length precedent), τ-b itself ROUND 6 (the
  sqrt makes it irrational — never grid-resident).
- ``a_durbin_watson`` — first-order serial-correlation diagnostic of
  the daily revenue series: DW = Σ(Δx)²/Σ(x−x̄)², a ratio of big
  moment sums (relative float error ~1e-12 ≪ the 1e-6 grid — the
  a_anova_oneway convention).
- ``a_runs_test`` — Wald–Wolfowitz runs above/below the exact lower
  median: integer n1/n2/runs + the normal z (sqrt ⇒ irrational ⇒
  ROUND 6 safe).
- ``a_hodges_lehmann`` — the HL location estimate = median of all
  Walsh averages (x_i+x_j)/2, i ≤ j, shipped as the EXACT integer
  ``hl_x4`` (4× the estimate is integral on the cent grid even after
  the even-count median interpolation).

Scale posture shared by all four: ONE fact scan reduces lineitem to
the ≤ ~2.6k-row daily table; everything after (pair joins, windows,
rank attaches) runs on that bounded aggregate — the pair join is
quadratic in SERIES LENGTH (calendar-bounded), not corpus size, and
the bounded side is broadcast so Spark plans BroadcastNestedLoopJoin,
never CartesianProduct. At 100 TB the fact scan dominates and stays
a single pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load as _t
from ..operators.ranks import attach_global_ranks, constant_partition_key
from .registry import query


#: Shared DuckDB CTE: the daily lineitem series on the cent grid.
_DAILY_CTE = """
    daily AS (
      SELECT l_shipdate AS day,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS xc,
             COUNT(*) AS cnt
      FROM lineitem GROUP BY 1
    )
"""


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One fact scan → the bounded daily series: day, xc (revenue in
    EXACT integer cents), cnt (order-line count)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_shipdate").alias("day")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "xc"
        ),
        F.count("*").alias("cnt"),
    )


# ---------------------------------------------------------------------------
# a_kendall_tau — Kendall's τ-b (count vs revenue, daily)
# ---------------------------------------------------------------------------


@query(
    "a_kendall_tau",
    oracle=f"""
    WITH {_DAILY_CTE},
    pairs AS (
      SELECT (a.cnt - b.cnt) AS dx, (a.xc - b.xc) AS dy
      FROM daily a JOIN daily b ON a.day < b.day
    ), c AS (
      SELECT
        SUM(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS nc,
        SUM(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS nd,
        SUM(CASE WHEN dx = 0 AND dy <> 0 THEN 1 ELSE 0 END) AS tx,
        SUM(CASE WHEN dy = 0 AND dx <> 0 THEN 1 ELSE 0 END) AS ty,
        SUM(CASE WHEN dx = 0 AND dy = 0 THEN 1 ELSE 0 END) AS txy,
        COUNT(*) AS n0
      FROM pairs
    )
    SELECT CAST(n0 AS BIGINT) AS n_pairs,
           CAST(nc AS BIGINT) AS nc, CAST(nd AS BIGINT) AS nd,
           CAST(tx + txy AS BIGINT) AS ties_x,
           CAST(ty + txy AS BIGINT) AS ties_y,
           ROUND((nc - nd) / SQRT(CAST((n0 - tx - txy) AS DOUBLE)
                                  * (n0 - ty - txy)), 6) AS tau_b
    FROM c
    """,
)
def a_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's τ-b rank correlation between daily activity (order-
    line count) and daily revenue — the pair-concordance companion to
    a_spearman_corr (midranks) and a_xicor (directional): τ survives
    any monotone transform and its tie-corrected τ-b form is the one
    real dashboards quote.

    Determinism: dx/dy are EXACT integer differences on the cent/count
    grids, so every pair classifies identically cross-engine; the five
    pair counts are integers; only τ-b itself is float (a sqrt ⇒
    irrational ⇒ never on the 1e-6 half-grid).

    Scale: quadratic in SERIES LENGTH (≤ ~2.6k days ⇒ ≤ ~3.4M pairs),
    not corpus size; the daily table is broadcast (BNLJ, never
    CartesianProduct). A longer calendar coarsens to weekly grain; the
    fact scan stays one pass."""
    d = _daily(spark, sf_dir)
    a, b = d.alias("a"), d.alias("b")
    pairs = a.join(
        F.broadcast(b), F.col("a.day") < F.col("b.day")
    ).select(
        (F.col("a.cnt") - F.col("b.cnt")).alias("dx"),
        (F.col("a.xc") - F.col("b.xc")).alias("dy"),
    )
    c = pairs.agg(
        F.sum(F.when(F.col("dx") * F.col("dy") > 0, 1).otherwise(0)).alias(
            "nc"
        ),
        F.sum(F.when(F.col("dx") * F.col("dy") < 0, 1).otherwise(0)).alias(
            "nd"
        ),
        F.sum(
            F.when((F.col("dx") == 0) & (F.col("dy") != 0), 1).otherwise(0)
        ).alias("tx"),
        F.sum(
            F.when((F.col("dy") == 0) & (F.col("dx") != 0), 1).otherwise(0)
        ).alias("ty"),
        F.sum(
            F.when((F.col("dx") == 0) & (F.col("dy") == 0), 1).otherwise(0)
        ).alias("txy"),
        F.count("*").alias("n0"),
    )
    return c.select(
        F.col("n0").cast("long").alias("n_pairs"),
        F.col("nc").cast("long").alias("nc"),
        F.col("nd").cast("long").alias("nd"),
        (F.col("tx") + F.col("txy")).cast("long").alias("ties_x"),
        (F.col("ty") + F.col("txy")).cast("long").alias("ties_y"),
        F.round(
            (F.col("nc") - F.col("nd"))
            / F.sqrt(
                (F.col("n0") - F.col("tx") - F.col("txy")).cast("double")
                * (F.col("n0") - F.col("ty") - F.col("txy"))
            ),
            6,
        ).alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# a_durbin_watson — serial-correlation diagnostic of the daily series
# ---------------------------------------------------------------------------


@query(
    "a_durbin_watson",
    oracle=f"""
    WITH {_DAILY_CTE},
    lagged AS (
      SELECT xc,
             xc - LAG(xc) OVER (ORDER BY day) AS dx
      FROM daily
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(
             SUM(CAST(dx AS DOUBLE) * dx)
             / (SUM(CAST(xc AS DOUBLE) * xc)
                - SUM(CAST(xc AS DOUBLE)) * SUM(CAST(xc AS DOUBLE))
                  / COUNT(*)),
             6) AS dw
    FROM lagged
    """,
)
def a_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin–Watson statistic of the mean-centered daily revenue
    series: DW = Σ(x_t − x_{t−1})² / Σ(x_t − x̄)² — the classic
    first-order serial-correlation diagnostic (DW ≈ 2(1−ρ₁)); the
    residual-independence check every forecasting/OLS consumer of the
    a_grouped_ols / a_holt_forecast family should run.

    Determinism: Δx is an EXACT integer (the mean cancels in first
    differences — no centering float); both Σ(Δx)² and the centered
    denominator are sums of products of exact integers evaluated in
    double, so DW is a ratio of big moment sums with relative error
    ~1e-12 ≪ the 1e-6 output grid (the a_anova_oneway convention;
    (Δx)² can exceed BIGINT at stress scale, hence double, never an
    integer ship here).

    Scale: one fact scan → bounded daily table; the lag is a window
    over ≤ ~2.6k rows with the constant partition key (single task by
    design on a dimension-sized aggregate, not a fact)."""
    d = _daily(spark, sf_dir)
    k = constant_partition_key(F.col("day"))
    w = Window.partitionBy(k).orderBy("day")
    lagged = d.select(
        "xc", (F.col("xc") - F.lag("xc").over(w)).alias("dx")
    )
    return lagged.agg(
        F.count("*").cast("long").alias("n_days"),
        F.round(
            F.sum(F.col("dx").cast("double") * F.col("dx"))
            / (
                F.sum(F.col("xc").cast("double") * F.col("xc"))
                - F.sum(F.col("xc").cast("double"))
                * F.sum(F.col("xc").cast("double"))
                / F.count("*")
            ),
            6,
        ).alias("dw"),
    )


# ---------------------------------------------------------------------------
# a_runs_test — Wald–Wolfowitz runs above/below the median
# ---------------------------------------------------------------------------


@query(
    "a_runs_test",
    oracle=f"""
    WITH {_DAILY_CTE},
    med AS (
      SELECT xc AS m FROM daily
      QUALIFY ROW_NUMBER() OVER (ORDER BY xc, day)
              = CAST(FLOOR((COUNT(*) OVER () + 1) / 2) AS BIGINT)
    ), signs AS (
      SELECT day, xc > med.m AS up
      FROM daily CROSS JOIN med
      WHERE xc <> med.m
    ), runs AS (
      SELECT up,
             CASE WHEN LAG(up) OVER (ORDER BY day) IS DISTINCT FROM up
                  THEN 1 ELSE 0 END AS start
      FROM signs
    )
    SELECT CAST(SUM(CASE WHEN up THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
           CAST(SUM(CASE WHEN NOT up THEN 1 ELSE 0 END) AS BIGINT)
             AS n_below,
           CAST(SUM(start) AS BIGINT) AS n_runs,
           ROUND(
             (SUM(start)
              - (2.0 * SUM(CASE WHEN up THEN 1 ELSE 0 END)
                     * SUM(CASE WHEN NOT up THEN 1 ELSE 0 END)
                     / COUNT(*) + 1))
             / SQRT(
                 (2.0 * SUM(CASE WHEN up THEN 1 ELSE 0 END)
                      * SUM(CASE WHEN NOT up THEN 1 ELSE 0 END)
                  * (2.0 * SUM(CASE WHEN up THEN 1 ELSE 0 END)
                         * SUM(CASE WHEN NOT up THEN 1 ELSE 0 END)
                     - COUNT(*)))
                 / (CAST(COUNT(*) AS DOUBLE) * COUNT(*)
                    * (COUNT(*) - 1))),
             6) AS z
    FROM runs
    """,
)
def a_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test for randomness of the daily revenue
    series around its median — the distribution-free "is this series
    actually random or does it trend/oscillate?" gate that belongs in
    front of every i.i.d.-assuming monitor (bootstrap, control
    charts). Too FEW runs ⇒ positive drift/clustering; too MANY ⇒
    oscillation.

    The reference median is the EXACT lower median (the cent-grid
    value at row (n+1)//2 of the sorted bounded series — never an
    interpolated float); days exactly ON the median are dropped per
    the classic construction, so the up/down signs are integer-exact
    cross-engine. n_above/n_below/n_runs are integers; only z carries
    float (sqrt ⇒ irrational ⇒ ROUND 6 safe).

    Scale: everything after the one fact scan runs on the bounded
    daily table (windows with the constant partition key)."""
    d = _daily(spark, sf_dir)
    k = constant_partition_key(F.col("day"))
    w_cnt = Window.partitionBy(k).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = d.select(
        "day",
        "xc",
        F.row_number()
        .over(Window.partitionBy(k).orderBy("xc", "day"))
        .alias("rn"),
        F.count("*").over(w_cnt).alias("n"),
    )
    med = ranked.filter(
        F.col("rn") == F.floor((F.col("n") + 1) / 2).cast("long")
    ).select(F.col("xc").alias("m"))
    signs = (
        d.crossJoin(F.broadcast(med))
        .filter(F.col("xc") != F.col("m"))
        .select("day", (F.col("xc") > F.col("m")).alias("up"))
    )
    w_day = Window.partitionBy(constant_partition_key(F.col("day"))).orderBy(
        "day"
    )
    runs = signs.select(
        "up",
        F.when(
            ~F.lag("up").over(w_day).eqNullSafe(F.col("up")), 1
        ).otherwise(0).alias("start"),
    )
    n1 = F.sum(F.when(F.col("up"), 1).otherwise(0))
    n2 = F.sum(F.when(~F.col("up"), 1).otherwise(0))
    n = F.count("*")
    mu = 2.0 * n1 * n2 / n + 1
    var = (
        (2.0 * n1 * n2 * (2.0 * n1 * n2 - n))
        / (n.cast("double") * n * (n - 1))
    )
    return runs.agg(
        n1.cast("long").alias("n_above"),
        n2.cast("long").alias("n_below"),
        F.sum("start").cast("long").alias("n_runs"),
        F.round((F.sum("start") - mu) / F.sqrt(var), 6).alias("z"),
    )


# ---------------------------------------------------------------------------
# a_hodges_lehmann — median of Walsh averages (exact integer ship)
# ---------------------------------------------------------------------------


@query(
    "a_hodges_lehmann",
    oracle=f"""
    WITH {_DAILY_CTE},
    walsh AS (
      SELECT a.xc + b.xc AS w2, a.day AS d1, b.day AS d2
      FROM daily a JOIN daily b ON a.day <= b.day
    ), ranked AS (
      SELECT w2,
             ROW_NUMBER() OVER (ORDER BY w2, d1, d2) AS rn,
             COUNT(*) OVER () AS np
      FROM walsh
    )
    SELECT CAST(MAX(np) AS BIGINT) AS n_pairs,
           CAST(SUM(w2 * CASE WHEN np % 2 = 1 THEN 2 ELSE 1 END)
                AS BIGINT) AS hl_x4
    FROM ranked
    WHERE rn = CAST(FLOOR((np + 1) / 2) AS BIGINT)
       OR rn = CAST(FLOOR(np / 2) + 1 AS BIGINT)
    """,
)
def a_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges–Lehmann location estimate of daily revenue: the median
    of all Walsh averages (x_i + x_j)/2 over day pairs i ≤ j — the
    estimator the Wilcoxon signed-rank test inverts; robust (29%
    breakdown) yet ~95% Gaussian-efficient, where the plain median is
    64%. The robust "typical daily revenue" a finance dashboard should
    quote next to a_trimmed_mean / a_winsorized_mean.

    Integer ship (band-grid endgame): Walsh SUMS x_i + x_j are exact
    integer cents; the median of an even-count set interpolates two
    middle values, so the output is ``hl_x4`` = 4 × the HL estimate =
    (lower middle + upper middle) Walsh sum — integral ALWAYS. The
    odd-count case doubles the single middle row (CASE ... THEN 2).

    Scale: quadratic in series length only (≤ ~3.4M pair rows from
    ≤ ~2.6k days); the global order statistic uses the distributed
    rank-attach (range partition + offsets), never a single-task
    sort of the pair table."""
    d = _daily(spark, sf_dir)
    # r11 optimization (§2.3 project-before-the-exchange + §2.5 input
    # parallelism): (1) the streamed side of the pair generation is the
    # post-agg daily table, which AQE coalesces to ONE partition — the
    # 3.4M-row Walsh build then ran as a single serial task; repartition
    # the 2.6k-row side first (trivial shuffle) so generation and the
    # rank exchange run wide. (2) The (d1, d2) tie-break columns only
    # ordered EQUAL w2 values among themselves — the two middle POSITIONS
    # then carry the same w2 values under any tie order, and the output
    # aggregates only w2 — so the rank attach now sorts/checkpoints the
    # bare 8-byte w2 column: measured 297 MB -> ~90 MB checkpoint reads
    # (x3 passes), 97 -> ~40 MB rank shuffle. The oracle still spells
    # the (w2, d1, d2) order; equality of the selected values is the
    # tie-independence argument above.
    par = spark.sparkContext.defaultParallelism
    a, b = d.repartition(par).alias("a"), d.alias("b")
    walsh = a.join(
        F.broadcast(b), F.col("a.day") <= F.col("b.day")
    ).select(
        (F.col("a.xc") + F.col("b.xc")).alias("w2"),
    )
    ranked = attach_global_ranks(
        walsh,
        sort_cols=[F.col("w2")],
        key_cols=[F.col("w2")],
        rn_col="rn",
    )
    # np == n_days*(n_days+1)/2 exactly (the a.day <= b.day join emits
    # each unordered pair once incl. self-pairs) — computing it from
    # the 2.6k-row daily table instead of ranked.agg(count) saves a
    # full pass over the checkpointed 3.4M-row rank frame (r11, §2.3).
    # n counts NON-NULL days only (COUNT(day)) so the closed form can
    # never diverge from the walsh join, which drops null days via the
    # <= comparison (ADVICE r11; o_orderdate is in fact never null).
    np_ = d.agg(
        (F.count("day") * (F.count("day") + 1) / 2)
        .cast("long")
        .alias("np")
    )
    mid = (
        ranked.crossJoin(F.broadcast(np_))
        .filter(
            (F.col("rn") == F.floor((F.col("np") + 1) / 2).cast("long"))
            | (F.col("rn") == (F.floor(F.col("np") / 2) + 1).cast("long"))
        )
    )
    return mid.groupBy().agg(
        F.max("np").cast("long").alias("n_pairs"),
        F.sum(
            F.col("w2") * F.when(F.col("np") % 2 == 1, 2).otherwise(1)
        )
        .cast("long")
        .alias("hl_x4"),
    )


# ---------------------------------------------------------------------------
# a_kruskal_wallis — rank-based k-group test (ANOVA's nonparametric twin)
# ---------------------------------------------------------------------------


@query(
    "a_kruskal_wallis",
    oracle="""
    WITH ranked AS (
      SELECT o_orderpriority AS grp, o_totalprice AS v,
             ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderpriority,
                                o_orderkey) AS i
      FROM orders
    ), mids AS (
      SELECT grp,
             (CAST(MIN(i) OVER (PARTITION BY v) AS DOUBLE)
              + MAX(i) OVER (PARTITION BY v)) / 2 AS mid,
             CAST(COUNT(*) OVER (PARTITION BY v) AS DOUBLE) AS t
      FROM ranked
    ), g AS (
      SELECT grp, COUNT(*) AS nj, SUM(mid) AS rj,
             SUM(t * t - 1) AS tie3
      FROM mids GROUP BY grp
    ), tot AS (
      SELECT COUNT(*) AS k, SUM(nj) AS n,
             SUM(rj * rj / nj) AS s, SUM(tie3) AS tie3
      FROM g
    )
    SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
           ROUND(12.0 / (n * (n + 1)) * s - 3 * (n + 1), 6) AS h,
           ROUND((12.0 / (n * (n + 1)) * s - 3 * (n + 1))
                 / (1 - tie3 / (CAST(n AS DOUBLE) * n * n - n)), 6)
             AS h_corrected
    FROM tot
    """,
)
def a_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H across the 5 order priorities — the k-group
    rank test completing the nonparametric battery (a_mannwhitney_u
    is its k=2 special case; a_anova_oneway its parametric twin):
    the "do ANY of the k segments differ?" gate that doesn't care
    about the heavy right tail order values actually have.

    Machinery is a_mannwhitney_u's verbatim: pooled global ranks via
    the distributed rank-attach (range partition + offsets — never a
    corpus-wide single-task window), textbook MIDRANKS via the
    per-value tie window, tie-corrected H' = H/(1 − Σ(t³−t)/(n³−n)).
    Midrank sums are exact-dyadic (halves), so the group sums are
    order-independent; H is a ratio of big moment sums (ROUND 6, the
    a_anova_oneway convention — its rational denominator is huge, so
    the half-grid flip the Brier lesson guards against cannot arise).

    Scale: one fact scan → rank attach (2 shuffles) → 5-row reduce."""
    from ..operators.ranks import attach_global_ranks as _agr

    o = _t(spark, sf_dir, "orders")
    pooled = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("v"),
        "o_orderkey",
    )
    ranked = _agr(
        pooled,
        sort_cols=[F.asc("v"), F.asc("grp"), F.asc("o_orderkey")],
        key_cols=[F.col("v"), F.col("grp"), F.col("o_orderkey")],
        rn_col="i",
    )
    wv = Window.partitionBy("v")
    mids = ranked.select(
        "grp",
        (
            (F.min("i").over(wv).cast("double") + F.max("i").over(wv)) / 2
        ).alias("mid"),
        F.count("*").over(wv).cast("double").alias("t"),
    )
    g = mids.groupBy("grp").agg(
        F.count("*").alias("nj"),
        F.sum("mid").alias("rj"),
        F.sum(F.col("t") * F.col("t") - 1).alias("tie3"),
    )
    tot = g.agg(
        F.count("*").alias("k"),
        F.sum("nj").alias("n"),
        F.sum(F.col("rj") * F.col("rj") / F.col("nj")).alias("s"),
        F.sum("tie3").alias("tie3"),
    )
    h = 12.0 / (F.col("n") * (F.col("n") + 1)) * F.col("s") - 3 * (
        F.col("n") + 1
    )
    return tot.select(
        F.col("k").cast("long").alias("k"),
        F.col("n").cast("long").alias("n"),
        F.round(h, 6).alias("h"),
        F.round(
            h
            / (
                1
                - F.col("tie3")
                / (
                    F.col("n").cast("double") * F.col("n") * F.col("n")
                    - F.col("n")
                )
            ),
            6,
        ).alias("h_corrected"),
    )


# ---------------------------------------------------------------------------
# a_xicor — Chatterjee's ξ (directional dependence, integers-only ship)
# ---------------------------------------------------------------------------


@query(
    "a_xicor",
    oracle=f"""
    WITH {_DAILY_CTE},
    rk AS (
      SELECT day, cnt,
             COUNT(*) OVER (ORDER BY xc RANGE BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS r,
             COUNT(*) OVER (ORDER BY xc DESC RANGE BETWEEN UNBOUNDED
                            PRECEDING AND CURRENT ROW) AS l,
             COUNT(*) OVER () AS n
      FROM daily
    ), seq AS (
      SELECT r - LAG(r) OVER (ORDER BY cnt, day) AS dr, l, n
      FROM rk
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_days,
           CAST(2 * SUM(l * (n - l)) - MAX(n) * SUM(ABS(dr)) AS BIGINT)
             AS xi_num,
           CAST(2 * SUM(l * (n - l)) AS BIGINT) AS xi_den
    FROM seq
    """,
)
def a_xicor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chatterjee's ξ (2020) of daily revenue AS A FUNCTION OF daily
    activity — the modern DIRECTIONAL dependence coefficient that
    completes the correlation family: Pearson (linear), Spearman/
    Kendall (monotone), ξ (arbitrary measurable dependence — ξ→1 iff
    y is a function of x, and ξ(x,y) ≠ ξ(y,x) by design). The
    tie-general form ξ = 1 − n·Σ|r_{i+1}−r_i| / (2·Σ l_i(n−l_i)),
    rows sequenced by x (deterministic day tie-break; the classic
    construction randomizes — an engine must not), r_i = #{y_j ≤
    y_i}, l_i = #{y_j ≥ y_i} via RANGE-frame count windows.

    Integers-only ship (band-grid endgame): ξ is a small-denominator
    rational, exactly the shape that produced live half-grid flips —
    so the output is the exact BIGINT pair (xi_num, xi_den) with
    ξ = xi_num/xi_den, never the float.

    Scale: one fact scan → bounded daily table; every window runs on
    ≤ ~2.6k rows under the constant partition key."""
    d = _daily(spark, sf_dir)
    k = constant_partition_key(F.col("day"))
    w_r = Window.partitionBy(k).orderBy("xc").rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_l = Window.partitionBy(k).orderBy(F.col("xc").desc()).rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_n = Window.partitionBy(k).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    rk = d.select(
        "day",
        "cnt",
        F.count("*").over(w_r).alias("r"),
        F.count("*").over(w_l).alias("l"),
        F.count("*").over(w_n).alias("n"),
    )
    w_seq = Window.partitionBy(constant_partition_key(F.col("cnt"))).orderBy(
        "cnt", "day"
    )
    seq = rk.select(
        (F.col("r") - F.lag("r").over(w_seq)).alias("dr"),
        "l",
        "n",
    )
    return seq.agg(
        F.max("n").cast("long").alias("n_days"),
        (
            2 * F.sum(F.col("l") * (F.col("n") - F.col("l")))
            - F.max("n") * F.sum(F.abs("dr"))
        )
        .cast("long")
        .alias("xi_num"),
        (2 * F.sum(F.col("l") * (F.col("n") - F.col("l"))))
        .cast("long")
        .alias("xi_den"),
    )


# ---------------------------------------------------------------------------
# a_log_rank — two-group survival comparison (Mantel-Cox)
# ---------------------------------------------------------------------------


@query(
    "a_log_rank",
    oracle="""
    WITH span AS (
      SELECT user_id,
             CAST(FLOOR((EPOCH(MAX(ts)) - EPOCH(MIN(ts))) / 3600) AS BIGINT)
               AS dur,
             MAX(ts) AS last_ts
      FROM events GROUP BY user_id
    ), cut AS (
      SELECT MAX(ts) AS mx FROM events
    ), lab AS (
      SELECT s.dur, s.user_id % 2 = 1 AS g1,
             (EPOCH(cut.mx) - EPOCH(s.last_ts)) >= 6 * 3600 AS observed
      FROM span s CROSS JOIN cut
    ), per AS (
      SELECT dur,
             COUNT(*) AS c,
             SUM(CASE WHEN g1 THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN observed THEN 1 ELSE 0 END) AS d,
             SUM(CASE WHEN observed AND g1 THEN 1 ELSE 0 END) AS d1
      FROM lab GROUP BY dur
    ), risk AS (
      SELECT dur, d, d1,
             SUM(c) OVER (ORDER BY dur DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk,
             SUM(c1) OVER (ORDER BY dur DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n1_risk
      FROM per
    )
    SELECT dur AS dur_h,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(n1_risk AS BIGINT) AS n1_risk,
           CAST(d AS BIGINT) AS d, CAST(d1 AS BIGINT) AS d1,
           ROUND(SUM(d1 - CAST(n1_risk AS DOUBLE) * d / n_risk)
                   OVER w, 6) AS cum_oe,
           ROUND(SUM(CASE WHEN n_risk > 1 THEN
                   CAST(n1_risk AS DOUBLE) * (n_risk - n1_risk) * d
                   * (n_risk - d)
                   / (CAST(n_risk AS DOUBLE) * n_risk * (n_risk - 1))
                 ELSE 0 END) OVER w, 6) AS cum_var
    FROM risk WHERE d > 0
    WINDOW w AS (ORDER BY dur
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def a_log_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel–Cox) two-group survival comparison over the
    SAME censored-lifetime construction as a_survival_km /
    a_nelson_aalen, groups = user-id parity (the deterministic stand-
    in for an A/B assignment): at each distinct lifetime with deaths,
    the hypergeometric observed-minus-expected increment
    d1 − n1·d/n and its variance n1(n−n1)d(n−d)/(n²(n−1)), emitted as
    ORDER-sequenced running sums (deterministic float — never an
    unordered reduce; the nelson_aalen convention). The final row's
    cum_oe²/cum_var is the χ²₁ statistic; emitting the whole step
    table keeps every increment auditable.

    Integer core: d/d1/n_risk/n1_risk are EXACT BIGINTs from one
    events scan + a descending cumulative window over the bounded
    distinct-lifetime table.

    Scale: one fact scan to per-user spans (groupBy user_id), then
    constant-key windows over ≤ ~720 distinct lifetimes."""
    k_ = constant_partition_key

    e = _t(spark, sf_dir, "events")
    span = e.groupBy("user_id").agg(
        F.floor(
            (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
            / 3600
        )
        .cast("long")
        .alias("dur"),
        F.max("ts").alias("last_ts"),
    )
    cut = e.agg(F.max("ts").alias("mx"))
    lab = span.crossJoin(F.broadcast(cut)).select(
        "dur",
        (F.col("user_id") % 2 == 1).alias("g1"),
        (
            (F.unix_timestamp("mx") - F.unix_timestamp("last_ts"))
            >= 6 * 3600
        ).alias("observed"),
    )
    per = lab.groupBy("dur").agg(
        F.count("*").alias("c"),
        F.sum(F.when(F.col("g1"), 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("observed"), 1).otherwise(0)).alias("d"),
        F.sum(F.when(F.col("observed") & F.col("g1"), 1).otherwise(0)).alias(
            "d1"
        ),
    )
    w_desc = (
        Window.partitionBy(k_(F.col("dur")))
        .orderBy(F.col("dur").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = per.select(
        "dur",
        "d",
        "d1",
        F.sum("c").over(w_desc).alias("n_risk"),
        F.sum("c1").over(w_desc).alias("n1_risk"),
    ).filter(F.col("d") > 0)
    w_asc = (
        Window.partitionBy(k_(F.col("dur")))
        .orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    oe = F.col("d1") - F.col("n1_risk").cast("double") * F.col("d") / F.col(
        "n_risk"
    )
    var = F.when(
        F.col("n_risk") > 1,
        F.col("n1_risk").cast("double")
        * (F.col("n_risk") - F.col("n1_risk"))
        * F.col("d")
        * (F.col("n_risk") - F.col("d"))
        / (
            F.col("n_risk").cast("double")
            * F.col("n_risk")
            * (F.col("n_risk") - 1)
        ),
    ).otherwise(0.0)
    return risk.select(
        F.col("dur").alias("dur_h"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("n1_risk").cast("long").alias("n1_risk"),
        F.col("d").cast("long").alias("d"),
        F.col("d1").cast("long").alias("d1"),
        F.round(F.sum(oe).over(w_asc), 6).alias("cum_oe"),
        F.round(F.sum(var).over(w_asc), 6).alias("cum_var"),
    )


# ---------------------------------------------------------------------------
# g_clustering_coefficient — global transitivity as exact integers
# ---------------------------------------------------------------------------


@query(
    "g_clustering_coefficient",
    oracle="""
    WITH e AS (
      SELECT DISTINCT LEAST(o_custkey % 50, l_suppkey % 50) AS lo,
                      GREATEST(o_custkey % 50, l_suppkey % 50) AS hi
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_custkey % 50 <> l_suppkey % 50
    ), tri AS (
      SELECT COUNT(*) AS t
      FROM e ab
      JOIN e bc ON ab.hi = bc.lo
      JOIN e ac ON ac.lo = ab.lo AND ac.hi = bc.hi
    ), deg AS (
      SELECT v, COUNT(*) AS dg FROM (
        SELECT lo AS v FROM e UNION ALL SELECT hi AS v FROM e
      ) GROUP BY v
    ), wdg AS (
      SELECT SUM(dg * (dg - 1) / 2) AS w,
             COUNT(*) AS n_vertices
      FROM deg
    )
    SELECT CAST(n_vertices AS BIGINT) AS n_vertices,
           CAST(3 * t AS BIGINT) AS closed_wedges,
           CAST(w AS BIGINT) AS wedges
    FROM tri CROSS JOIN wdg
    """,
)
def g_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient (transitivity) of the
    g_triangle_count co-occurrence graph: C = 3·triangles / wedges,
    shipped as the EXACT integer pair (closed_wedges, wedges) — C is
    a small-denominator rational, the exact shape the Brier half-grid
    lesson bans from ROUND, so the division is left to the consumer
    (band-grid endgame: ship the integers). Completes the graph-
    quality family: g_modularity scores a partition, this scores the
    topology's triangle density (small-world-ness).

    Triangles reuse operators/graph.triangle_count (low→high oriented
    edges ⇒ each triangle counted once, fan-out bounded by oriented
    degree); wedges = Σ C(deg,2) from one degree aggregate over the
    distinct edge set.

    Scale: one fact-fact join builds the edge list (shuffle on
    orderkey); everything after runs on the DISTINCT bucket-graph
    (vertex-bounded). Real id-level graphs swap the bucket mod for
    the raw key — the plan shape is unchanged."""
    from ..operators.graph import triangle_count

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # Fact-fact edge build: PIN merge-side (banked broadcast-OOM
    # lesson — a 2-column projection of a corpus-scaled fact sits
    # under Spark's static broadcast estimate; at the 100x/4 GB
    # stress point the unpinned join OOM'd building the hash side).
    pairs = o.hint("merge").join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        (F.col("o_custkey") % 50).alias("src"),
        (F.col("l_suppkey") % 50).alias("dst"),
    )
    edges = (
        pairs.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("lo"),
            F.greatest("src", "dst").alias("hi"),
        )
        .distinct()
    )
    tri = triangle_count(pairs).select(
        F.col("n_triangles").cast("long").alias("t")
    )
    deg = (
        edges.select(F.col("lo").alias("v"))
        .unionAll(edges.select(F.col("hi").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("dg"))
    )
    wdg = deg.agg(
        F.sum(F.col("dg") * (F.col("dg") - 1) / 2).alias("w"),
        F.count("*").alias("n_vertices"),
    )
    return tri.crossJoin(F.broadcast(wdg)).select(
        F.col("n_vertices").cast("long").alias("n_vertices"),
        (3 * F.col("t")).cast("long").alias("closed_wedges"),
        F.col("w").cast("long").alias("wedges"),
    )


# ---------------------------------------------------------------------------
# a_benjamini_hochberg — FDR control over the per-segment test battery
# ---------------------------------------------------------------------------

_BH_B = 100  # permutations per segment (b=0 = observed assignment)
_BH_SEED = 99  # a_permutation_test's seed — same portable hash family
_BH_STRIDE = 7919  # prime stride decorrelating the B assignments
_BH_ALPHA_NUM, _BH_ALPHA_DEN = 1, 10  # alpha = 0.10


def _bh_oracle() -> str:
    from .staged_r12 import _arm_oracle_sql

    bucket = _arm_oracle_sql(f"u.user_id + {_BH_STRIDE} * g.b", _BH_SEED)
    return f"""
    WITH u AS (
      SELECT user_id, event_type, ROUND(SUM(value), 2) AS y
      FROM events GROUP BY 1, 2
    ), expanded AS (
      SELECT g.b, u.event_type, u.y, ({bucket}) = 1 AS t
      FROM u CROSS JOIN generate_series(0, {_BH_B}) AS g(b)
    ), arms AS (
      SELECT event_type, b,
             SUM(CASE WHEN t THEN y ELSE 0 END)
               / SUM(CASE WHEN t THEN 1 ELSE 0 END)
             - SUM(CASE WHEN NOT t THEN y ELSE 0 END)
               / SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS d
      FROM expanded GROUP BY 1, 2
    ), obs AS (
      SELECT event_type, d AS d0 FROM arms WHERE b = 0
    ), pv AS (
      SELECT a.event_type,
             1 + SUM(CASE WHEN ABS(a.d) >= ABS(o.d0) THEN 1 ELSE 0 END)
               AS p_num
      FROM arms a JOIN obs o USING (event_type)
      WHERE a.b > 0 GROUP BY 1
    ), rk AS (
      SELECT event_type, p_num,
             ROW_NUMBER() OVER (ORDER BY p_num, event_type) AS k,
             COUNT(*) OVER () AS m
      FROM pv
    )
    SELECT event_type,
           CAST(p_num AS BIGINT) AS p_num,
           CAST({_BH_B} + 1 AS BIGINT) AS p_den,
           CAST(k AS BIGINT) AS bh_rank,
           MAX(CASE WHEN p_num * m * {_BH_ALPHA_DEN}
                         <= ({_BH_B} + 1) * k * {_BH_ALPHA_NUM}
                    THEN 1 ELSE 0 END)
             OVER (ORDER BY k DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
             AS rejected
    FROM rk
    """


@query("a_benjamini_hochberg", oracle=_bh_oracle())
def a_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR control over the per-event-type
    treatment-lift battery — the MULTIPLE-TESTING layer every
    metrics platform needs on top of its per-segment tests (run m
    tests at α and ~mα segments "win" by luck; BH caps the expected
    false-discovery RATE at α instead).

    Fully integer inference: per-segment p-values are permutation
    exceedance rationals (1 + #{|d_b| ≥ |d_obs|})/(B+1) with the
    a_permutation_test machinery (middle-square portable_arm
    re-assignments — NOT portable_bucket(k,2), whose low bit is the
    key's parity and degenerates stride permutations to sign flips;
    narrow explode + groupBy(b) per the banked wide-aggregate
    codegen lesson), and the BH step-up comparison
    p_(k) ≤ k·α/m runs as the INTEGER cross-multiplication
    p_num·m·10 ≤ (B+1)·k — no float p-values anywhere. The step-up
    ("reject everything ranked below the LARGEST k that passes") is
    a suffix-max window over the m-row p-value table.

    Scale: user×type-grain outcomes (one fact scan), ×(B+1) narrow
    explode, one groupBy(type, b) — flat in corpus size after the
    scan; the BH table is m rows."""
    from ..functions.columns import portable_arm

    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id", "event_type").agg(
        F.round(F.sum("value"), 2).alias("y")
    )
    expanded = u.select(
        "event_type",
        "y",
        F.explode(F.sequence(F.lit(0), F.lit(_BH_B))).alias("b"),
        F.col("user_id"),
    ).select(
        "event_type",
        "b",
        "y",
        (
            portable_arm(
                F.col("user_id")
                + F.lit(_BH_SEED)
                + F.lit(_BH_STRIDE) * F.col("b")
            )
            == 1
        ).alias("t"),
    )
    arms = expanded.groupBy("event_type", "b").agg(
        (
            F.sum(F.when(F.col("t"), F.col("y")).otherwise(0.0))
            / F.sum(F.when(F.col("t"), 1).otherwise(0))
            - F.sum(F.when(~F.col("t"), F.col("y")).otherwise(0.0))
            / F.sum(F.when(~F.col("t"), 1).otherwise(0))
        ).alias("d")
    )
    obs = arms.filter(F.col("b") == 0).select(
        "event_type", F.col("d").alias("d0")
    )
    pv = (
        arms.filter(F.col("b") > 0)
        .join(F.broadcast(obs), "event_type")
        .groupBy("event_type")
        .agg(
            (
                1
                + F.sum(
                    F.when(
                        F.abs(F.col("d")) >= F.abs(F.col("d0")), 1
                    ).otherwise(0)
                )
            ).alias("p_num")
        )
    )
    k_ = constant_partition_key(F.col("event_type"))
    w_rank = Window.partitionBy(k_).orderBy("p_num", "event_type")
    w_m = Window.partitionBy(k_).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    rk = pv.select(
        "event_type",
        "p_num",
        F.row_number().over(w_rank).alias("k"),
        F.count("*").over(w_m).alias("m"),
    )
    w_suffix = (
        Window.partitionBy(constant_partition_key(F.col("event_type")))
        .orderBy(F.col("k").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    passes = F.when(
        F.col("p_num") * F.col("m") * _BH_ALPHA_DEN
        <= (_BH_B + 1) * F.col("k") * _BH_ALPHA_NUM,
        1,
    ).otherwise(0)
    return rk.select(
        "event_type",
        F.col("p_num").cast("long").alias("p_num"),
        F.lit(_BH_B + 1).cast("long").alias("p_den"),
        F.col("k").cast("long").alias("bh_rank"),
        (F.max(passes).over(w_suffix) == 1).alias("rejected"),
    )


# ---------------------------------------------------------------------------
# p_l_diversity — sensitive-attribute diversity audit (k-anonymity's successor)
# ---------------------------------------------------------------------------


@query(
    "p_l_diversity",
    oracle="""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment,
             COUNT(*) AS n,
             COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT))
               AS l_div
      FROM customer GROUP BY 1, 2
    )
    SELECT CAST(3 AS BIGINT) AS l,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN l_div < 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS groups_below_l,
           CAST(SUM(CASE WHEN l_div < 3 THEN n ELSE 0 END) AS BIGINT)
             AS rows_at_risk,
           CAST(MIN(l_div) AS BIGINT) AS min_diversity
    FROM g
    """,
)
def p_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-l-diversity audit (operators/expectations.
    l_diversity_report) over the released-customer shape: QI =
    (nation, market segment), sensitive attribute = account-balance
    band. Completes the privacy battery's deficiency ladder —
    a_k_anonymity catches SMALL groups, this catches HOMOGENEOUS ones
    (k rows that all share the sensitive value leak it to anyone who
    can place a person in the group), p_dp_noised_counts protects the
    release itself, p_user_erasure audits deletion.

    Integer-exact counts (deterministic audit); one two-level
    aggregate whose cardinality is bounded by the QI×sensitive domain
    product, never the row count."""
    from ..operators.expectations import l_diversity_report

    c = _t(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_band"),
    )
    return l_diversity_report(
        c, ["c_nationkey", "c_mktsegment"], "bal_band", l=3
    )


# ---------------------------------------------------------------------------
# a_isotonic_calibration — PAVA via the max-min interval-average identity
# ---------------------------------------------------------------------------


def _isotonic_oracle() -> str:
    from .staged_r10 import _CAL_BINS, _SCORES_CTE

    return f"""
    WITH {_SCORES_CTE},
    p AS (
      SELECT is_pos, ROUND((score + 1.0) / 2.0, 6) AS p FROM scores
    ), bins AS (
      SELECT CAST(LEAST(FLOOR(p * {_CAL_BINS}), {_CAL_BINS - 1}) AS BIGINT)
               AS bin,
             COUNT(*) AS n, SUM(is_pos) AS y
      FROM p GROUP BY 1
    ), c AS (
      SELECT bin, n, y,
             ROW_NUMBER() OVER (ORDER BY bin) AS idx,
             SUM(n) OVER (ORDER BY bin) AS cn,
             SUM(y) OVER (ORDER BY bin) AS cy
      FROM bins
    ), iv AS (
      SELECT a.idx AS i, b.idx AS j,
             b.cy - a.cy + a.y AS num,
             b.cn - a.cn + a.n AS den
      FROM c a JOIN c b ON b.idx >= a.idx
    ), kx AS (
      SELECT k.idx AS kidx, iv.i, iv.num, iv.den,
             CAST(iv.num AS DOUBLE) / iv.den AS avgv
      FROM iv JOIN c k ON k.idx BETWEEN iv.i AND iv.j
    ), mn AS (
      SELECT kidx, i, num, den, avgv FROM kx
      QUALIFY ROW_NUMBER() OVER (PARTITION BY kidx, i
                                 ORDER BY avgv, num, den) = 1
    ), mx AS (
      SELECT kidx, num, den, avgv FROM mn
      QUALIFY ROW_NUMBER() OVER (PARTITION BY kidx
                                 ORDER BY avgv DESC, num DESC, den DESC) = 1
    )
    SELECT c.bin,
           CAST(c.n AS BIGINT) AS n,
           CAST(c.y AS BIGINT) AS n_pos,
           CAST(mx.num AS BIGINT) AS fit_num,
           CAST(mx.den AS BIGINT) AS fit_den,
           COALESCE(mx.num * LAG(mx.den) OVER w
                    >= LAG(mx.num) OVER w * mx.den, TRUE) AS mono_ok
    FROM c JOIN mx ON mx.kidx = c.idx
    WINDOW w AS (ORDER BY c.bin)
    """


@query("a_isotonic_calibration", oracle=_isotonic_oracle())
def a_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAVA) calibration of the centroid scorer — the
    nonparametric alternative to Platt scaling and the standard
    production calibrator: fit the best MONOTONE step function from
    the a_calibration_bins reliability table. Implemented via the
    closed-form max-min identity — fitted value at bin k =
    max_{i≤k} min_{j≥k} avg(i..j) — which turns the inherently
    sequential pool-adjacent-violators sweep into a relational
    B³-interval enumeration (B = 10 bins ⇒ ≤ 1000 rows): the shape a
    distributed engine wants.

    Exactness: interval averages are exact integer fractions
    (num = positives, den = rows in bins i..j); min/max selection
    compares the DOUBLE quotient (identical integers ⇒ identical
    IEEE quotient cross-engine) with (num, den) completing a total
    order; the OUTPUT is the selected interval's exact integer pair
    (fit_num, fit_den) — a small-denominator rational, never shipped
    as a rounded float (band-grid endgame). mono_ok cross-multiplies
    integers (no float compare): non-decreasing fits, all TRUE.

    Scale: two corpus scans (centroid fit + scoring — the pinned
    emb_centroid_classify shape), one 10-row reliability aggregate;
    the PAVA enumeration is corpus-independent."""
    from .staged_r10 import _CAL_BINS, _centroid0_scores

    scored = _centroid0_scores(spark, sf_dir)
    p = F.round((F.col("score") + 1.0) / 2.0, 6)
    bins = (
        scored.select(
            F.least(F.floor(p * _CAL_BINS), F.lit(_CAL_BINS - 1))
            .cast("long")
            .alias("bin"),
            "is_pos",
        )
        .groupBy("bin")
        .agg(F.count("*").alias("n"), F.sum("is_pos").alias("y"))
    )
    kb = constant_partition_key(F.col("bin"))
    w_ord = Window.partitionBy(kb).orderBy("bin")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = bins.select(
        "bin",
        "n",
        "y",
        F.row_number().over(w_ord).alias("idx"),
        F.sum("n").over(w_run).alias("cn"),
        F.sum("y").over(w_run).alias("cy"),
    )
    a, b, kk = c.alias("a"), c.alias("b"), c.alias("k")
    iv = a.join(
        F.broadcast(b), F.col("b.idx") >= F.col("a.idx")
    ).select(
        F.col("a.idx").alias("i"),
        F.col("b.idx").alias("j"),
        (F.col("b.cy") - F.col("a.cy") + F.col("a.y")).alias("num"),
        (F.col("b.cn") - F.col("a.cn") + F.col("a.n")).alias("den"),
    )
    kx = iv.join(
        F.broadcast(kk.select(F.col("idx").alias("kidx"))),
        (F.col("kidx") >= F.col("i")) & (F.col("kidx") <= F.col("j")),
    ).select(
        "kidx",
        "i",
        F.struct(
            (F.col("num").cast("double") / F.col("den")).alias("avgv"),
            F.col("num").alias("num"),
            F.col("den").alias("den"),
        ).alias("cand"),
    )
    mn = kx.groupBy("kidx", "i").agg(F.min("cand").alias("best"))
    mx = mn.groupBy("kidx").agg(F.max("best").alias("fit"))
    out = c.join(
        F.broadcast(mx), F.col("idx") == F.col("kidx")
    ).select(
        "bin",
        F.col("n").cast("long").alias("n"),
        F.col("y").cast("long").alias("n_pos"),
        F.col("fit.num").cast("long").alias("fit_num"),
        F.col("fit.den").cast("long").alias("fit_den"),
    )
    w_lag = Window.partitionBy(constant_partition_key(F.col("bin"))).orderBy(
        "bin"
    )
    return out.select(
        "bin",
        "n",
        "n_pos",
        "fit_num",
        "fit_den",
        F.coalesce(
            F.col("fit_num") * F.lag("fit_den").over(w_lag)
            >= F.lag("fit_num").over(w_lag) * F.col("fit_den"),
            F.lit(True),
        ).alias("mono_ok"),
    )


# ---------------------------------------------------------------------------
# train_ridge_closed — closed-form ridge regression (normal equations)
# ---------------------------------------------------------------------------

_RIDGE_LAMBDA = 1000.0


@query(
    "train_ridge_closed",
    oracle=f"""
    WITH m AS (
      SELECT COUNT(*) AS n,
             SUM(l_quantity) AS s1, SUM(l_discount) AS s2,
             SUM(l_extendedprice) AS sy,
             SUM(l_quantity * l_quantity) AS s11,
             SUM(l_discount * l_discount) AS s22,
             SUM(l_quantity * l_discount) AS s12,
             SUM(l_quantity * l_extendedprice) AS s1y,
             SUM(l_discount * l_extendedprice) AS s2y
      FROM lineitem
    ), cent AS (
      SELECT n, s1, s2, sy,
             s11 - s1 * s1 / n + {_RIDGE_LAMBDA} AS c11,
             s22 - s2 * s2 / n + {_RIDGE_LAMBDA} AS c22,
             s12 - s1 * s2 / n AS c12,
             s1y - s1 * sy / n AS c1y,
             s2y - s2 * sy / n AS c2y
      FROM m
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND((c1y * c22 - c12 * c2y) / (c11 * c22 - c12 * c12), 4)
             AS w_quantity,
           ROUND((c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12), 4)
             AS w_discount,
           ROUND((sy - (c1y * c22 - c12 * c2y) / (c11 * c22 - c12 * c12)
                     * s1
                     - (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12)
                     * s2) / n, 4) AS intercept
    FROM cent
    """,
)
def train_ridge_closed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form ridge regression (L2-regularized least squares) of
    line revenue on (quantity, discount) via the centered normal
    equations — the CLOSED-FORM linear trainer completing the family
    spectrum: logreg/quantile-reg iterate (lazy GD fixpoints), ALS
    alternates, this one is one moment scan + a 2×2 Cramer solve.
    λ = {lam} on the centered-covariance diagonal.

    Determinism: the nine raw moments are big float sums (unordered
    reduce), so the weights are ratios of big moment sums — relative
    error ~1e-12; the intercept subtracts w·mean terms whose
    cancellation amplifies absolute error, so outputs round at 1e-4
    (the registry's means convention), not 1e-6; all irrational-ish
    quotients, never grid-resident.

    Scale: ONE map-side-partial fact scan to 9 cells + driver-free
    1-row arithmetic; the d×d normal-equation generalization keeps
    the same shape (d² moment cells, one scan) up to d ~ 10³ — past
    that, the iterative trainers take over (the documented
    trade-off)."""
    li = _t(spark, sf_dir, "lineitem")
    m = li.agg(
        F.count("*").alias("n"),
        F.sum("l_quantity").alias("s1"),
        F.sum("l_discount").alias("s2"),
        F.sum("l_extendedprice").alias("sy"),
        F.sum(F.col("l_quantity") * F.col("l_quantity")).alias("s11"),
        F.sum(F.col("l_discount") * F.col("l_discount")).alias("s22"),
        F.sum(F.col("l_quantity") * F.col("l_discount")).alias("s12"),
        F.sum(F.col("l_quantity") * F.col("l_extendedprice")).alias("s1y"),
        F.sum(F.col("l_discount") * F.col("l_extendedprice")).alias("s2y"),
    )
    lam = F.lit(_RIDGE_LAMBDA)
    c11 = F.col("s11") - F.col("s1") * F.col("s1") / F.col("n") + lam
    c22 = F.col("s22") - F.col("s2") * F.col("s2") / F.col("n") + lam
    c12 = F.col("s12") - F.col("s1") * F.col("s2") / F.col("n")
    c1y = F.col("s1y") - F.col("s1") * F.col("sy") / F.col("n")
    c2y = F.col("s2y") - F.col("s2") * F.col("sy") / F.col("n")
    det = c11 * c22 - c12 * c12
    w1 = (c1y * c22 - c12 * c2y) / det
    w2 = (c11 * c2y - c12 * c1y) / det
    return m.select(
        F.col("n").cast("long").alias("n"),
        F.round(w1, 4).alias("w_quantity"),
        F.round(w2, 4).alias("w_discount"),
        F.round(
            (F.col("sy") - w1 * F.col("s1") - w2 * F.col("s2")) / F.col("n"),
            4,
        ).alias("intercept"),
    )


train_ridge_closed.__doc__ = train_ridge_closed.__doc__.replace(
    "{lam}", str(_RIDGE_LAMBDA)
)


# ---------------------------------------------------------------------------
# a_friedman_test — within-block rank test (repeated-measures ANOVA's twin)
# ---------------------------------------------------------------------------


@query(
    "a_friedman_test",
    oracle="""
    WITH cell AS (
      SELECT CAST(dayofweek(ts) AS BIGINT) AS blk, event_type AS trt,
             ROUND(AVG(value), 6) AS v
      FROM events GROUP BY 1, 2
    ), rk AS (
      SELECT blk, trt,
             2 * CAST(RANK() OVER (PARTITION BY blk ORDER BY v) AS BIGINT)
               + CAST(COUNT(*) OVER (PARTITION BY blk, v) AS BIGINT) - 1
               AS r2m1,
             CAST(COUNT(*) OVER (PARTITION BY blk) AS BIGINT) AS k
      FROM cell
    ), mid AS (
      SELECT blk, trt, r2m1 AS two_r, k FROM rk
    ), cols AS (
      SELECT trt, SUM(two_r) AS two_rj, COUNT(*) AS n, MAX(k) AS k
      FROM mid GROUP BY trt
    ), a_ AS (
      SELECT SUM((two_rj - n * (k + 1)) * (two_rj - n * (k + 1))) AS a2,
             MAX(k) AS k, MAX(n) AS n
      FROM cols
    ), b_ AS (
      SELECT SUM((two_r - (k + 1)) * (two_r - (k + 1))) AS b2
      FROM mid
    )
    SELECT CAST(a_.n AS BIGINT) AS n_blocks,
           CAST(a_.k AS BIGINT) AS k_treatments,
           CAST((a_.k - 1) * a_.a2 AS BIGINT) AS q_num,
           CAST(b_.b2 AS BIGINT) AS q_den
    FROM a_ CROSS JOIN b_
    """,
)
def a_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test — the within-BLOCK rank test (repeated-measures
    ANOVA's nonparametric twin), completing the rank-test ladder:
    Mann–Whitney (2 groups), Kruskal–Wallis (k groups), Friedman
    (k treatments × n blocks, here mean event value per weekday block
    × event type). Blocking by weekday removes the day-of-week effect
    the unblocked tests would smear.

    Integers-only ship (band-grid endgame): with 2·midrank = 2·RANK +
    ties − 1 an EXACT integer, the tie-general statistic
    Q = (k−1)·Σ_j(R_j − n(k+1)/2)² / Σ_ij(r_ij − (k+1)/2)²
    is the integer ratio q_num/q_den after clearing the common /4 —
    a small-denominator rational, shipped as the exact BIGINT pair.

    Scale: one fact scan → the 7×5 cell table; ranks are windows over
    ≤ 5 rows per block."""
    e = _t(spark, sf_dir, "events")
    cell = e.groupBy(
        F.dayofweek("ts").cast("long").alias("blk"),
        F.col("event_type").alias("trt"),
    ).agg(F.round(F.avg("value"), 6).alias("v"))
    w_rank = Window.partitionBy("blk").orderBy("v")
    w_tie = Window.partitionBy("blk", "v")
    w_blk = Window.partitionBy("blk")
    mid = cell.select(
        "blk",
        "trt",
        (
            2 * F.rank().over(w_rank).cast("long")
            + F.count("*").over(w_tie).cast("long")
            - 1
        ).alias("two_r"),
        F.count("*").over(w_blk).cast("long").alias("k"),
    )
    cols = mid.groupBy("trt").agg(
        F.sum("two_r").alias("two_rj"),
        F.count("*").alias("n"),
        F.max("k").alias("k"),
    )
    a2 = cols.agg(
        F.sum(
            (F.col("two_rj") - F.col("n") * (F.col("k") + 1))
            * (F.col("two_rj") - F.col("n") * (F.col("k") + 1))
        ).alias("a2"),
        F.max("k").alias("k"),
        F.max("n").alias("n"),
    )
    b2 = mid.agg(
        F.sum(
            (F.col("two_r") - (F.col("k") + 1))
            * (F.col("two_r") - (F.col("k") + 1))
        ).alias("b2")
    )
    return a2.crossJoin(F.broadcast(b2)).select(
        F.col("n").cast("long").alias("n_blocks"),
        F.col("k").cast("long").alias("k_treatments"),
        ((F.col("k") - 1) * F.col("a2")).cast("long").alias("q_num"),
        F.col("b2").cast("long").alias("q_den"),
    )


# ---------------------------------------------------------------------------
# g_hits_banded — HITS hubs & authorities via the lazy power iteration
# ---------------------------------------------------------------------------

_HITS_ROUNDS = 6
_HITS_GRID = 10000


def _hits_oracle() -> str:
    """DuckDB replay: same directed bucket edges, same two grams
    (AᵀA for authorities, AAᵀ for hubs), same unrolled power
    iteration (init 0.125, L2 re-normalize per round — the
    emb_pca_power_banded convention), FLOOR-banded on the 1e-4 grid
    (irrational components, never grid-resident)."""

    def rounds(tag: str) -> str:
        ctes = [f"{tag}r0 AS (SELECT i AS j, 0.125 AS vj FROM {tag}v)"]
        for r in range(1, _HITS_ROUNDS + 1):
            ctes.append(
                f"{tag}w{r} AS MATERIALIZED (SELECT g.i, "
                f"SUM(g.g * {tag}r{r-1}.vj) AS w "
                f"FROM {tag}g g JOIN {tag}r{r-1} ON {tag}r{r-1}.j = g.j "
                f"GROUP BY g.i)"
            )
            ctes.append(
                f"{tag}r{r} AS (SELECT i AS j, "
                f"w / SQRT((SELECT SUM(w*w) FROM {tag}w{r})) AS vj "
                f"FROM {tag}w{r})"
            )
        return ", ".join(ctes)

    return f"""
    WITH e AS (
      SELECT DISTINCT o_custkey % 50 AS src, l_suppkey % 50 AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_custkey % 50 <> l_suppkey % 50
    ),
    ag AS MATERIALIZED (
      SELECT a.dst AS i, b.dst AS j, CAST(COUNT(*) AS DOUBLE) AS g
      FROM e a JOIN e b ON a.src = b.src GROUP BY 1, 2
    ),
    hg AS MATERIALIZED (
      SELECT a.src AS i, b.src AS j, CAST(COUNT(*) AS DOUBLE) AS g
      FROM e a JOIN e b ON a.dst = b.dst GROUP BY 1, 2
    ),
    av AS (SELECT DISTINCT i FROM ag),
    hv AS (SELECT DISTINCT i FROM hg),
    {rounds("a")},
    {rounds("h")}
    SELECT COALESCE(a.j, h.j) AS vertex,
           CAST(FLOOR(a.vj * {_HITS_GRID}) AS BIGINT) AS auth_band,
           CAST(FLOOR(h.vj * {_HITS_GRID}) AS BIGINT) AS hub_band
    FROM ar{_HITS_ROUNDS} a
    FULL OUTER JOIN hr{_HITS_ROUNDS} h ON a.j = h.j
    """


@query("g_hits_banded", oracle=_hits_oracle())
def g_hits_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg) over the directed
    customer-bucket → supplier-bucket graph — the OTHER classical
    link-analysis fixpoint next to g_pagerank_banded: authority =
    principal eigenvector of AᵀA, hub = of AAᵀ, so both reduce to
    operators/linalg.power_iteration over two vertex-bounded grams
    (common-in-neighbor and common-out-neighbor counts from one edge
    self-join each). Unlike pagerank's eager localCheckpoint rounds,
    the array-carried iterate stays fully LAZY — the whole
    double-fixpoint plan is planlint-visible, and each round adds one
    broadcast cross join + an in-row dot (linear plan growth, the
    banked lazy-fixpoint lesson).

    Oracle: unrolled-CTE replay of the identical arithmetic (init
    0.125 pins the sign, 6 rounds, L2 re-normalize; the
    emb_pca_power_banded convention), FLOOR on the 1e-4 grid —
    eigenvector components are irrational, never grid-resident.

    Scale: the fact-fact edge build is merge-pinned upstream
    (banked broadcast-OOM lesson); the grams are |V|²-bounded and the
    fixpoint is corpus-independent."""
    from ..operators.linalg import power_iteration

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.hint("merge")
        .join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") % 50).alias("src"),
            (F.col("l_suppkey") % 50).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    a, b = edges.alias("a"), edges.alias("b")
    ag = (
        a.join(b, F.col("a.src") == F.col("b.src"))
        .groupBy(F.col("a.dst").alias("i"), F.col("b.dst").alias("j"))
        .agg(F.count("*").cast("double").alias("g"))
    )
    hg = (
        a.join(b, F.col("a.dst") == F.col("b.dst"))
        .groupBy(F.col("a.src").alias("i"), F.col("b.src").alias("j"))
        .agg(F.count("*").cast("double").alias("g"))
    )
    auth = power_iteration(ag, rounds=_HITS_ROUNDS).select(
        F.col("j").alias("av"),
        F.floor(F.col("vj") * _HITS_GRID).cast("long").alias("auth_band"),
    )
    hub = power_iteration(hg, rounds=_HITS_ROUNDS).select(
        F.col("j").alias("hv"),
        F.floor(F.col("vj") * _HITS_GRID).cast("long").alias("hub_band"),
    )
    return auth.join(
        hub, auth["av"] == hub["hv"], "full_outer"
    ).select(
        F.coalesce(F.col("av"), F.col("hv")).cast("long").alias("vertex"),
        "auth_band",
        "hub_band",
    )


# ---------------------------------------------------------------------------
# io_formats_roundtrip_checked — CSV / JSON-lines source parity
# ---------------------------------------------------------------------------


@query(
    "io_formats_roundtrip_checked",
    oracle="""
    SELECT l_returnflag AS flag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT)
             AS qty_cents,
           CAST(SUM(l_orderkey) AS BIGINT) AS key_checksum,
           STRFTIME(CAST(MIN(l_shipdate) AS DATE), '%Y-%m-%d')
             AS first_ship,
           TRUE AS csv_ok, TRUE AS json_ok
    FROM lineitem GROUP BY 1
    """,
)
def io_formats_roundtrip_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV and JSON-lines SOURCE parity (SURVEY §2.1 beyond parquet):
    export a lineitem projection to scratch CSV (header, explicit
    schema on read-back — never inferSchema, which double-scans and
    can re-type columns at 100 TB) and JSON-lines, then compute the
    same per-flag fingerprint (count, quantity cents, orderkey
    checksum, first ship date) from EACH source. csv_ok/json_ok
    assert per-group equality of all three pipelines — deterministic
    at fixed data, all-TRUE oracle computed from the parquet view
    (the checked-sink pattern, inverted to checked SOURCES).

    Quantities are integerized to cents BEFORE export so the text
    round trip carries integers and dates only — immune to any
    engine-specific float formatting; the build-time export is the
    sanctioned bounded side effect (the checked-sink planlint
    contract: executing it is the only way to lint the read-back
    plan).

    Scale: text sources scan ~3-5× slower than parquet and lose
    pushdown/pruning — this query is the correctness seam for the
    ingest step that converts them ONCE; the fingerprint aggregate is
    one map-side-partial scan per format."""
    import os

    from pyspark.sql import types as T

    from .staged_r07 import _scratch

    base = _scratch("io_formats")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.round(F.col("l_quantity") * 100).cast("long").alias("qty100"),
        F.col("l_shipdate").cast("date").alias("ship"),
        "l_returnflag",
    )
    csv_dir = os.path.join(base, "csv")
    json_dir = os.path.join(base, "json")
    li.write.mode("overwrite").option("header", True).csv(csv_dir)
    li.write.mode("overwrite").json(json_dir)

    schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("qty100", T.LongType()),
            T.StructField("ship", T.DateType()),
            T.StructField("l_returnflag", T.StringType()),
        ]
    )

    def fp(df: DataFrame, prefix: str) -> DataFrame:
        return df.groupBy(
            F.col("l_returnflag").alias("flag")
        ).agg(
            F.count("*").alias(f"{prefix}_n"),
            F.sum("qty100").alias(f"{prefix}_q"),
            F.sum("l_orderkey").alias(f"{prefix}_k"),
            F.min("ship").alias(f"{prefix}_d"),
        )

    pq = fp(li, "p")
    cs = fp(
        spark.read.schema(schema).option("header", True).csv(csv_dir), "c"
    )
    js = fp(spark.read.schema(schema).json(json_dir), "j")
    out = pq.join(cs, "flag").join(js, "flag")
    eq = lambda x, y: F.col(x).eqNullSafe(F.col(y))  # noqa: E731
    return out.select(
        "flag",
        F.col("p_n").cast("long").alias("n"),
        F.col("p_q").cast("long").alias("qty_cents"),
        F.col("p_k").cast("long").alias("key_checksum"),
        F.date_format("p_d", "yyyy-MM-dd").alias("first_ship"),
        (
            eq("p_n", "c_n") & eq("p_q", "c_q")
            & eq("p_k", "c_k") & eq("p_d", "c_d")
        ).alias("csv_ok"),
        (
            eq("p_n", "j_n") & eq("p_q", "j_q")
            & eq("p_k", "j_k") & eq("p_d", "j_d")
        ).alias("json_ok"),
    )


# ---------------------------------------------------------------------------
# mm_wav_tone_detect — single-bin spectral power (Goertzel) per doc
# ---------------------------------------------------------------------------


@query(
    "mm_wav_tone_detect",
    oracle="""
    WITH g AS (
      SELECT doc_id, 64 + doc_id % 37 AS n FROM documents
    ), s AS (
      SELECT g.doc_id, g.n,
             CAST(((g.doc_id*7 + t.i*13) % 256) - 128 AS DOUBLE) AS v,
             2 * PI() * 4 * t.i / g.n AS arg
      FROM g, LATERAL unnest(range(g.n)) AS t(i)
    )
    SELECT doc_id,
           CAST(MAX(n) AS BIGINT) AS n_samples,
           ROUND((SUM(v * COS(arg)) * SUM(v * COS(arg))
                  + SUM(v * SIN(arg)) * SUM(v * SIN(arg)))
                 / (CAST(MAX(n) AS DOUBLE) * MAX(n)), 4) AS pwr
    FROM s GROUP BY doc_id
    """,
)
def mm_wav_tone_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio TONE DETECTION (operators/multimodal.wav_goertzel):
    single-DFT-bin power at bin k=4 per decoded WAV — the Goertzel
    primitive behind DTMF / hum / watermark probes, completing the
    audio pipeline: mm_wav_decode (metadata) → mm_wav_energy
    (loudness) → tone detection (spectral). The oracle re-derives the
    deterministic waveform row-wise and computes the identical
    cos/sin dot products; numpy-vs-libm trig drift (~1e-11 absolute
    after the n² normalization) is absorbed by the 1e-4 ROUND grid.

    Scale: map-only Arrow batches, no shuffle — flat in corpus size
    per the mm_* family."""
    from ..operators import multimodal

    d = _t(spark, sf_dir, "documents")
    return multimodal.wav_goertzel(d, k=4)


# ---------------------------------------------------------------------------
# dedup_cluster_canonical — the near-dedup ENDGAME: pairs → components →
# one canonical survivor per duplicate cluster
# ---------------------------------------------------------------------------


def _dedup_cluster_oracle() -> str:
    from .registry import ORACLES

    pairs = ORACLES["dedup_ngram_jaccard"]
    return f"""
    WITH RECURSIVE
    pairs AS ({pairs}),
    und(a, b) AS (
      SELECT id_a, id_b FROM pairs UNION SELECT id_b, id_a FROM pairs
    ),
    nodes(n) AS (SELECT a FROM und UNION SELECT b FROM und),
    reach(n, r) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT u.b, reach.r FROM reach JOIN und u ON u.a = reach.n
    ),
    comp AS (SELECT n AS id, MIN(r) AS component FROM reach GROUP BY n),
    sized AS (
      SELECT comp.id, comp.component, d.n_chars
      FROM comp JOIN documents d ON d.doc_id = comp.id
    ),
    canon AS (
      SELECT component, id AS canon_id FROM sized
      QUALIFY ROW_NUMBER() OVER (PARTITION BY component
                                 ORDER BY n_chars DESC, id) = 1
    )
    SELECT s.id AS doc_id,
           CAST(s.component AS BIGINT) AS component,
           CAST(c.canon_id AS BIGINT) AS canonical_id,
           s.id = c.canon_id AS keep
    FROM sized s JOIN canon c USING (component)
    """


@query("dedup_cluster_canonical", oracle=_dedup_cluster_oracle())
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dedup pipeline ENDGAME, composed end to end: exact
    n-gram Jaccard candidate pairs (dedup_ngram_jaccard's operator,
    same blocks/threshold) → TRANSITIVE CLOSURE via distributed
    min-label connected components (pairwise dedup alone is wrong:
    A~B and B~C must collapse {A,B,C} even when A≁C) → ONE canonical
    survivor per cluster by the keep-longest policy (max n_chars,
    doc-id tie-break). Output: every clustered doc with its
    component, its cluster's canonical id, and the keep/drop verdict
    — exactly the table a curation job anti-joins against the corpus.

    Oracle: composes the registered pair oracle as a CTE, recomputes
    the closure with a RECURSIVE reachability (the
    g_connected_components convention — the fixpoint is verified, not
    row counts), and replays the canonical policy as a window.

    Scale: the pair graph is the LSH/banded candidate set (never
    all-pairs at scale — the blocked exact form here is the
    oracle-scale anchor); components run min-label rounds over
    cluster-sized frontiers; the canonical pick is one window over
    the clustered docs."""
    from ..operators import dedup

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = dedup.ngram_jaccard_pairs(
        d, block_col="lang", n=2, threshold=0.05
    ).select("id_a", "id_b")
    comp = dedup.connected_components(pairs)
    sized = comp.join(
        _t(spark, sf_dir, "documents").select("doc_id", "n_chars"),
        comp["id"] == F.col("doc_id"),
    ).select("id", "component", "n_chars")
    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("id")
    )
    canon = (
        sized.select(
            "component", "id", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") == 1)
        .select("component", F.col("id").alias("canon_id"))
    )
    return sized.join(canon, "component").select(
        F.col("id").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
        F.col("canon_id").cast("long").alias("canonical_id"),
        (F.col("id") == F.col("canon_id")).alias("keep"),
    )


# ---------------------------------------------------------------------------
# sim_mips_topk — maximum-inner-product search (the ALS serving primitive)
# ---------------------------------------------------------------------------


@query(
    "sim_mips_topk",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 10
    ), c AS (
      SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings
    ), scored AS (
      SELECT query_id, neighbor_id,
             ROUND(list_dot_product(qv, cv), 6) AS ip
      FROM q CROSS JOIN c WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, ip, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY ip DESC, neighbor_id) AS rnk
      FROM scored) t
    WHERE rnk <= 5
    """,
)
def sim_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-INNER-PRODUCT top-5 (MIPS) — the retrieval objective
    cosine search deliberately isn't: recommender serving scores
    user·item factor DOT PRODUCTS (als_recommend_topk's objective),
    where a candidate's NORM matters — popular items have large
    factors and must be allowed to win. Completes the similarity
    family's metric axis: cosine (sim_topk_bruteforce), Euclidean
    (IVF cells), inner product (this).

    Exact brute force as the oracle-scale anchor (broadcast queries ×
    one corpus scan, per-query window re-rank — no corpus shuffle);
    the documented scale paths: norm-bucket pruning (candidates with
    ‖c‖ < kth-best/‖q‖ can't win — prune buckets by the
    Cauchy-Schwarz bound) or the standard MIPS→cosine reduction
    (append √(M²−‖c‖²) to candidates, then any cosine/IVF index
    serves MIPS). Scores ROUND 6 pre-rank so ties and order agree
    cross-engine (registry convention)."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
    )
    dot = F.aggregate(
        F.zip_with(
            "qv", "cv", lambda a, b: a.cast("double") * b.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.round(dot, 6).alias("ip"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("ip").desc(), F.col("neighbor_id")
    )
    return (
        scored.select(
            "query_id", "neighbor_id", "ip",
            F.row_number().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= 5)
    )


# ---------------------------------------------------------------------------
# io_orc_roundtrip_checked — ORC source parity (the third columnar format)
# ---------------------------------------------------------------------------


@query(
    "io_orc_roundtrip_checked",
    oracle="""
    SELECT l_returnflag AS flag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT)
             AS qty_cents,
           CAST(SUM(l_orderkey) AS BIGINT) AS key_checksum,
           TRUE AS orc_ok
    FROM lineitem GROUP BY 1
    """,
)
def io_orc_roundtrip_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink parity — the third columnar format next to
    parquet (native) and the text formats (io_formats_roundtrip_
    checked): export the integerized lineitem projection to ORC,
    read it back, and assert per-flag fingerprint equality against
    the parquet pipeline. ORC keeps parquet's pushdown/pruning
    story (predicate pushdown, column projection, stripe statistics)
    so unlike the text formats it IS a viable 100 TB resident format
    — this query is the correctness seam for warehouses arriving
    from Hive/ORC estates. All-TRUE oracle from the parquet view
    (checked-source pattern); build-time export is the sanctioned
    bounded side effect."""
    import os

    from .staged_r07 import _scratch

    base = _scratch("io_orc")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.round(F.col("l_quantity") * 100).cast("long").alias("qty100"),
        "l_returnflag",
    )
    orc_dir = os.path.join(base, "orc")
    li.write.mode("overwrite").orc(orc_dir)

    def fp(df: DataFrame, prefix: str) -> DataFrame:
        return df.groupBy(
            F.col("l_returnflag").alias("flag")
        ).agg(
            F.count("*").alias(f"{prefix}_n"),
            F.sum("qty100").alias(f"{prefix}_q"),
            F.sum("l_orderkey").alias(f"{prefix}_k"),
        )

    pq = fp(li, "p")
    oc = fp(spark.read.orc(orc_dir), "o")
    eq = lambda x, y: F.col(x).eqNullSafe(F.col(y))  # noqa: E731
    return pq.join(oc, "flag").select(
        "flag",
        F.col("p_n").cast("long").alias("n"),
        F.col("p_q").cast("long").alias("qty_cents"),
        F.col("p_k").cast("long").alias("key_checksum"),
        (eq("p_n", "o_n") & eq("p_q", "o_q") & eq("p_k", "o_k")).alias(
            "orc_ok"
        ),
    )


# ---------------------------------------------------------------------------
# train_gbt_stumps — gradient-boosted regression stumps (exact oracle)
# ---------------------------------------------------------------------------

_GBT_ROUNDS = 3
_GBT_D = 3
_GBT_T = [round(-0.4 + 0.1 * i, 1) for i in range(9)]  # -0.4 .. 0.4
_GBT_MICRO = 1_000_000  # residual grid: integer micro-units


def _gbt_oracle() -> str:
    """Generated EXACT twin (no bands): the quantized-residual design
    makes every round's state integer or identical-IEEE-double, so
    the replay is bit-faithful — see the query docstring."""
    xs = ", ".join(
        f"CAST(embedding[{i}] AS DOUBLE) AS x{i}"
        for i in range(1, _GBT_D + 1)
    )
    ctes = [
        f"""data AS MATERIALIZED (
      SELECT {xs},
             CAST(ROUND((CAST(embedding[1] AS DOUBLE)
                         + 2.0*CAST(embedding[2] AS DOUBLE)
                         - CAST(embedding[3] AS DOUBLE)) * {_GBT_MICRO})
                  AS BIGINT) AS yi
      FROM embeddings
    )""",
        f"""f0 AS MATERIALIZED (
      SELECT CAST(FLOOR(CAST(SUM(yi) AS DOUBLE) / COUNT(*)) AS BIGINT)
               AS mu, COUNT(*) AS n
      FROM data
    )""",
    ]
    for m in range(1, _GBT_ROUNDS + 1):
        pred = "f0.mu"
        joins = "CROSS JOIN f0"
        for j in range(1, m):
            pred += (
                f" + (CASE WHEN (CASE b{j}.f WHEN 1 THEN d.x1 WHEN 2 THEN"
                f" d.x2 ELSE d.x3 END) <= b{j}.t THEN b{j}.vl"
                f" ELSE b{j}.vr END)"
            )
            joins += f" CROSS JOIN b{j}"
        ctes.append(
            f"""r{m} AS MATERIALIZED (
      SELECT d.x1, d.x2, d.x3, d.yi - ({pred}) AS r
      FROM data d {joins}
    )"""
        )
        cells = []
        for f in range(1, _GBT_D + 1):
            for t in _GBT_T:
                tag = f"{f}_{str(t).replace('-', 'm').replace('.', 'p')}"
                cells.append(
                    f"SUM(CASE WHEN x{f} <= {t} THEN 1 ELSE 0 END)"
                    f" AS nl_{tag}, "
                    f"SUM(CASE WHEN x{f} <= {t} THEN r ELSE 0 END)"
                    f" AS sl_{tag}"
                )
        ctes.append(
            f"""m{m} AS MATERIALIZED (
      SELECT COUNT(*) AS n, SUM(r) AS s, {", ".join(cells)} FROM r{m}
    )"""
        )
        unions = []
        for f in range(1, _GBT_D + 1):
            for t in _GBT_T:
                tag = f"{f}_{str(t).replace('-', 'm').replace('.', 'p')}"
                unions.append(
                    f"SELECT {f} AS f, {t} AS t, nl_{tag} AS nl,"
                    f" sl_{tag} AS sl, n, s FROM m{m}"
                )
        ctes.append(f"u{m} AS ({' UNION ALL '.join(unions)})")
        ctes.append(
            f"""b{m} AS (
      SELECT f, t, nl, n - nl AS nr,
             CAST(FLOOR(CAST(sl AS DOUBLE) / (2 * nl)) AS BIGINT) AS vl,
             CAST(FLOOR(CAST(s - sl AS DOUBLE) / (2 * (n - nl)))
                  AS BIGINT) AS vr
      FROM u{m}
      WHERE nl > 0 AND nl < n
      QUALIFY ROW_NUMBER() OVER (ORDER BY
        CAST(sl AS DOUBLE) * sl / nl
        + CAST(s - sl AS DOUBLE) * (s - sl) / (n - nl) DESC,
        f ASC, t ASC) = 1
    )"""
        )
    outs = " UNION ALL ".join(
        f"SELECT {m} AS round, CAST(f AS BIGINT) AS feature, t AS threshold,"
        f" CAST(nl AS BIGINT) AS n_left, vl AS leaf_l_micro,"
        f" vr AS leaf_r_micro FROM b{m}"
        for m in range(1, _GBT_ROUNDS + 1)
    )
    return f"WITH {', '.join(ctes)} {outs}"


@query("train_gbt_stumps", oracle=_gbt_oracle())
def train_gbt_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient-boosted regression stumps — BOOSTING joins the trainer
    family (GD: logreg/QR; alternating: ALS; closed-form: ridge/NB;
    single tree: stump/tree2; ensemble: this). Squared loss, learning
    rate ½, 3 rounds of depth-1 trees over the embedded linear
    target: each round fits a stump to the RESIDUALS via the
    train_stump_banded search shape — one wide conditional-sum scan
    (27 candidates × 2 cells, far under the banked ~400-column
    codegen cliff), variance-reduction argmax with total tie-break,
    leaf values ν·mean(residual).

    EXACT oracle, no bands — the quantized-residual design: targets
    and leaf values live in INTEGER micro-units (×1e6), so residuals
    are exact BIGINTs, candidate sums are exact, scores are
    identical IEEE doubles from identical integers (explicit x*x,
    never POW), and leaf quantization is FLOOR of an identical
    double (cross-engine FLOOR only diverges when the INPUTS differ
    — here they can't). The 1-micro-unit quantization per round is
    the principled price of bit-faithful distributed boosting.

    Scale: per round = one full scan with map-side partial
    aggregation into ~56 cells + a 27-row argmax + a 1-row model
    broadcast — the model row is the ONLY cross-round state (linear
    plan growth, never a per-candidate pass; the banked trainer-loop
    discipline: nothing corpus-scaled is ever broadcast)."""
    e = _t(spark, sf_dir, "embeddings")
    data = e.select(
        *[
            F.element_at("embedding", i).cast("double").alias(f"x{i}")
            for i in range(1, _GBT_D + 1)
        ]
    ).select(
        "x1",
        "x2",
        "x3",
        F.round(
            (F.col("x1") + 2.0 * F.col("x2") - F.col("x3")) * _GBT_MICRO
        )
        .cast("long")
        .alias("yi"),
    )
    f0 = data.agg(
        F.floor(F.sum("yi").cast("double") / F.count("*"))
        .cast("long")
        .alias("mu"),
    )

    bests: list[DataFrame] = []
    for m in range(1, _GBT_ROUNDS + 1):
        pred = F.col("mu").cast("double")
        d = data.crossJoin(F.broadcast(f0))
        for j, bj in enumerate(bests, start=1):
            b = F.broadcast(
                bj.select(
                    F.col("f").alias(f"f{j}"),
                    F.col("t").alias(f"t{j}"),
                    F.col("vl").alias(f"vl{j}"),
                    F.col("vr").alias(f"vr{j}"),
                )
            )
            d = d.crossJoin(b)
            xj = (
                F.when(F.col(f"f{j}") == 1, F.col("x1"))
                .when(F.col(f"f{j}") == 2, F.col("x2"))
                .otherwise(F.col("x3"))
            )
            pred = pred + F.when(
                xj <= F.col(f"t{j}"), F.col(f"vl{j}")
            ).otherwise(F.col(f"vr{j}"))
        resid = d.select(
            "x1", "x2", "x3", (F.col("yi") - pred).alias("r")
        )
        aggs = [F.count("*").alias("n"), F.sum("r").alias("s")]
        for f in range(1, _GBT_D + 1):
            for t in _GBT_T:
                tag = f"{f}_{str(t).replace('-', 'm').replace('.', 'p')}"
                cond = F.col(f"x{f}") <= t
                aggs.append(
                    F.sum(F.when(cond, 1).otherwise(0)).alias(f"nl_{tag}")
                )
                aggs.append(
                    F.sum(F.when(cond, F.col("r")).otherwise(0)).alias(
                        f"sl_{tag}"
                    )
                )
        mom = resid.agg(*aggs)
        cands = F.array(
            *[
                F.struct(
                    F.lit(f).alias("f"),
                    F.lit(t).alias("t"),
                    F.col(
                        f"nl_{f}_{str(t).replace('-', 'm').replace('.', 'p')}"
                    ).alias("nl"),
                    F.col(
                        f"sl_{f}_{str(t).replace('-', 'm').replace('.', 'p')}"
                    ).alias("sl"),
                )
                for f in range(1, _GBT_D + 1)
                for t in _GBT_T
            ]
        )
        u = mom.select("n", "s", F.explode(cands).alias("c")).select(
            "n", "s", "c.f", "c.t", "c.nl", "c.sl"
        )
        scored = u.filter(
            (F.col("nl") > 0) & (F.col("nl") < F.col("n"))
        ).select(
            "f",
            "t",
            "nl",
            (F.col("n") - F.col("nl")).alias("nr"),
            F.floor(F.col("sl").cast("double") / (2 * F.col("nl")))
            .cast("long")
            .alias("vl"),
            F.floor(
                (F.col("s") - F.col("sl")).cast("double")
                / (2 * (F.col("n") - F.col("nl")))
            )
            .cast("long")
            .alias("vr"),
            (
                F.col("sl").cast("double") * F.col("sl") / F.col("nl")
                + (F.col("s") - F.col("sl")).cast("double")
                * (F.col("s") - F.col("sl"))
                / (F.col("n") - F.col("nl"))
            ).alias("score"),
        )
        best = scored.orderBy(
            F.col("score").desc(), F.col("f"), F.col("t")
        ).limit(1)
        bests.append(best)

    out = None
    for m, bm in enumerate(bests, start=1):
        row = bm.select(
            F.lit(m).cast("long").alias("round"),
            F.col("f").cast("long").alias("feature"),
            F.col("t").alias("threshold"),
            F.col("nl").cast("long").alias("n_left"),
            F.col("vl").alias("leaf_l_micro"),
            F.col("vr").alias("leaf_r_micro"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# a_power_analysis — sample-size calculator (the experiment-DESIGN half)
# ---------------------------------------------------------------------------

_Z_ALPHA2 = 1.959963984540054  # two-sided alpha = 0.05
_Z_BETA = 0.8416212335729143  # power = 0.80
_MDE = 0.02  # fixed minimum detectable effect (absolute)


@query(
    "a_power_analysis",
    oracle=f"""
    WITH assign AS (
      SELECT user_id,
             CASE WHEN (user_id * 2654435761) % 4294967296 % 2 = 0
                  THEN 'A' ELSE 'B' END AS bucket,
             MAX(CASE WHEN event_type = 'purchase' AND value > 150
                      THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    ), g AS (
      SELECT bucket, COUNT(*) AS n, SUM(converted) AS k
      FROM assign GROUP BY bucket
    ), wide AS (
      SELECT MAX(CASE WHEN bucket='A' THEN n END) AS na,
             MAX(CASE WHEN bucket='A' THEN k END) AS ka,
             MAX(CASE WHEN bucket='B' THEN n END) AS nb,
             MAX(CASE WHEN bucket='B' THEN k END) AS kb
      FROM g
    ), rates AS (
      SELECT CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
             ka / CAST(na AS DOUBLE) AS pa,
             kb / CAST(nb AS DOUBLE) AS pb
      FROM wide
    )
    SELECT na, nb,
           ROUND(pa, 4) AS rate_a, ROUND(pb, 4) AS rate_b,
           CASE WHEN pa <> pb THEN CAST(CEIL(
             ({_Z_ALPHA2} + {_Z_BETA}) * ({_Z_ALPHA2} + {_Z_BETA})
             * (pa * (1 - pa) + pb * (1 - pb))
             / ((pa - pb) * (pa - pb))) AS BIGINT) END AS n_req_observed,
           CAST(CEIL(
             ({_Z_ALPHA2} + {_Z_BETA}) * ({_Z_ALPHA2} + {_Z_BETA})
             * (pa * (1 - pa) + pb * (1 - pb))
             / ({_MDE} * {_MDE})) AS BIGINT) AS n_req_mde
    FROM rates
    """,
)
def a_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion sample-size calculator — the experiment-DESIGN
    half the testing family was missing (a_abtest_lift/a_effect_sizes
    analyze a finished experiment; this answers "how long must the
    NEXT one run?"): n per arm = (z_{{α/2}}+z_β)²·(p₁q₁+p₂q₂)/δ² at
    α=0.05 two-sided, power 0.80, for both the observed lift and a
    fixed 2pp minimum detectable effect. Same portable-hash
    assignment and conversion definition as a_abtest_lift, so design
    and analysis read the same population.

    Determinism: z quantiles are shared double LITERALS (no erf
    anywhere); rates are identical doubles from integer counts; CEIL
    of identical doubles never diverges (only differing INPUTS do);
    the observed-δ branch is NULL-guarded for equal rates.

    Scale: one user-grain fact scan + a 2-row reduce."""
    from ..functions.columns import portable_bucket

    e = _t(spark, sf_dir, "events")
    assign = e.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 150),
                1,
            ).otherwise(0)
        ).alias("converted")
    ).select(
        F.when(portable_bucket(F.col("user_id"), 2) == 0, F.lit("A"))
        .otherwise(F.lit("B"))
        .alias("bucket"),
        "converted",
    )
    g = assign.groupBy("bucket").agg(
        F.count("*").alias("n"), F.sum("converted").alias("k")
    )
    wide = g.agg(
        F.max(F.when(F.col("bucket") == "A", F.col("n"))).alias("na"),
        F.max(F.when(F.col("bucket") == "A", F.col("k"))).alias("ka"),
        F.max(F.when(F.col("bucket") == "B", F.col("n"))).alias("nb"),
        F.max(F.when(F.col("bucket") == "B", F.col("k"))).alias("kb"),
    )
    pa = F.col("ka") / F.col("na").cast("double")
    pb = F.col("kb") / F.col("nb").cast("double")
    zz = (_Z_ALPHA2 + _Z_BETA) ** 2
    var2 = pa * (1 - pa) + pb * (1 - pb)
    return wide.select(
        F.col("na").cast("long").alias("na"),
        F.col("nb").cast("long").alias("nb"),
        F.round(pa, 4).alias("rate_a"),
        F.round(pb, 4).alias("rate_b"),
        F.when(
            pa != pb,
            F.ceil(F.lit(zz) * var2 / ((pa - pb) * (pa - pb))),
        )
        .cast("long")
        .alias("n_req_observed"),
        F.ceil(F.lit(zz) * var2 / F.lit(_MDE * _MDE))
        .cast("long")
        .alias("n_req_mde"),
    )


# ---------------------------------------------------------------------------
# a_sprt — Wald's sequential probability ratio test over the daily stream
# ---------------------------------------------------------------------------

_SPRT_P0, _SPRT_P1 = 0.3, 0.5
_SPRT_A = 2.9444389791664403  # ln(0.95/0.05)
_SPRT_B = -2.9444389791664403  # ln(0.05/0.95)


@query(
    "a_sprt",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             SUM(CASE WHEN event_type = 'purchase' AND value > 150
                      THEN 1 ELSE 0 END) AS k,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n
      FROM events GROUP BY 1
    ), llr AS (
      SELECT day, k, n,
             SUM(k * LN({_SPRT_P1} / {_SPRT_P0})
                 + (n - k) * LN((1 - {_SPRT_P1}) / (1 - {_SPRT_P0})))
               OVER (ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS s
      FROM daily
    ), marked AS (
      SELECT day, s,
             CASE WHEN s >= {_SPRT_A} THEN 'accept_h1'
                  WHEN s <= {_SPRT_B} THEN 'accept_h0' END AS hit,
             ROW_NUMBER() OVER (ORDER BY day) AS rn,
             COUNT(*) OVER () AS n_days,
             LAST_VALUE(s) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING
               AND UNBOUNDED FOLLOWING) AS s_final
      FROM llr
    )
    SELECT CAST(MAX(n_days) AS BIGINT) AS n_days,
           COALESCE(MIN(CASE WHEN hit IS NOT NULL THEN rn END), 0)
             AS decision_day,
           COALESCE(ARG_MIN(hit, rn) FILTER (WHERE hit IS NOT NULL),
                    'continue') AS decision,
           ROUND(MAX(s_final), 6) AS final_llr
    FROM marked
    """,
)
def a_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's Sequential Probability Ratio Test on the daily
    high-value-purchase rate — SEQUENTIAL testing joins the
    experimentation family (fixed-horizon: a_abtest_lift; interval:
    a_bootstrap_ci; multiplicity: a_benjamini_hochberg; design:
    a_power_analysis): the LLR of H1: p=0.5 vs H0: p=0.3 accumulates
    day by day and the test stops the first day it exits
    (ln(β̄/α), ln(α/β̄)) — the always-valid alternative to peeking at
    a fixed-horizon test.

    Determinism: daily (k, n) are exact integers; the LLR increments
    are integers × shared LN literals (identical doubles); the
    cumulative sum is an ORDER-sequenced window (the nelson_aalen
    convention) so boundary crossings compare identical doubles.

    Scale: one fact scan → calendar-bounded daily table →
    constant-key ordered window."""
    import math

    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 150),
                1,
            ).otherwise(0)
        ).alias("k"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("n"),
    )
    l1 = math.log(_SPRT_P1 / _SPRT_P0)
    l0 = math.log((1 - _SPRT_P1) / (1 - _SPRT_P0))
    kday = constant_partition_key(F.col("day"))
    w_run = (
        Window.partitionBy(kday)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(kday).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_ord = Window.partitionBy(kday).orderBy("day")
    llr = daily.select(
        "day",
        F.sum(F.col("k") * l1 + (F.col("n") - F.col("k")) * l0)
        .over(w_run)
        .alias("s"),
    )
    marked = llr.select(
        "s",
        F.when(F.col("s") >= _SPRT_A, F.lit("accept_h1"))
        .when(F.col("s") <= _SPRT_B, F.lit("accept_h0"))
        .alias("hit"),
        F.row_number().over(w_ord).alias("rn"),
        F.count("*").over(w_all).alias("n_days"),
    )
    first_hit = F.min(
        F.when(F.col("hit").isNotNull(), F.col("rn"))
    )
    return marked.agg(
        F.max("n_days").cast("long").alias("n_days"),
        F.coalesce(first_hit, F.lit(0)).cast("long").alias("decision_day"),
        F.coalesce(
            F.min(
                F.when(
                    F.col("hit").isNotNull(),
                    F.struct(F.col("rn").alias("rn"), F.col("hit").alias("h")),
                )
            )["h"],
            F.lit("continue"),
        ).alias("decision"),
        F.round(
            F.max(
                F.when(F.col("rn") == F.col("n_days"), F.col("s"))
            ),
            6,
        ).alias("final_llr"),
    )


# ---------------------------------------------------------------------------
# a_cvar_daily — Value-at-Risk / Conditional VaR of daily revenue (exact)
# ---------------------------------------------------------------------------


@query(
    "a_cvar_daily",
    oracle=f"""
    WITH {_DAILY_CTE},
    ranked AS (
      SELECT xc, ROW_NUMBER() OVER (ORDER BY xc, day) AS rn,
             COUNT(*) OVER () AS n
      FROM daily
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_days,
           CAST(CEIL(MAX(n) * 0.05) AS BIGINT) AS m_tail,
           CAST(MAX(CASE WHEN rn = CAST(CEIL(n * 0.05) AS BIGINT)
                         THEN xc END) AS BIGINT) AS var_cents,
           CAST(SUM(CASE WHEN rn <= CAST(CEIL(n * 0.05) AS BIGINT)
                         THEN xc ELSE 0 END) AS BIGINT) AS tail_sum_cents
    FROM ranked
    """,
)
def a_cvar_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-at-Risk and Conditional VaR (expected shortfall) of
    daily revenue at the 5% level — the tail-risk pair every
    finance/capacity dashboard quotes next to the robust centers
    (a_hodges_lehmann / a_trimmed_mean): VaR = the ⌈0.05n⌉-th worst
    day's revenue (an EXACT cent-grid order statistic), CVaR = the
    mean of the worst ⌈0.05n⌉ days, shipped as the exact integer
    pair (tail_sum_cents, m_tail) per the band-grid endgame — the
    consumer divides.

    Scale: one fact scan → bounded daily table → constant-key rank
    window; order statistics never touch the corpus grain."""
    d = _daily(spark, sf_dir)
    k = constant_partition_key(F.col("day"))
    ranked = d.select(
        "xc",
        F.row_number()
        .over(Window.partitionBy(k).orderBy("xc", "day"))
        .alias("rn"),
        F.count("*")
        .over(
            Window.partitionBy(k).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("n"),
    )
    m = F.ceil(F.col("n") * 0.05).cast("long")
    return ranked.agg(
        F.max("n").cast("long").alias("n_days"),
        F.max(F.ceil(F.col("n") * 0.05)).cast("long").alias("m_tail"),
        F.max(F.when(F.col("rn") == m, F.col("xc")))
        .cast("long")
        .alias("var_cents"),
        F.sum(F.when(F.col("rn") <= m, F.col("xc")).otherwise(0))
        .cast("long")
        .alias("tail_sum_cents"),
    )


# ---------------------------------------------------------------------------
# a_shapley_linear — exact Shapley attributions (model explainability)
# ---------------------------------------------------------------------------


@query(
    "a_shapley_linear",
    oracle="""
    WITH data AS (
      SELECT vec_id,
             CAST(embedding[1] AS DOUBLE) AS x1,
             CAST(embedding[2] AS DOUBLE) AS x2,
             CAST(embedding[3] AS DOUBLE) AS x3
      FROM embeddings
    ), mu AS (
      SELECT AVG(x1) AS m1, AVG(x2) AS m2, AVG(x3) AS m3,
             COUNT(*) AS n
      FROM data
    )
    SELECT d.vec_id,
           ROUND(1.0 * (d.x1 - mu.m1), 6) AS phi_x1,
           ROUND(2.0 * (d.x2 - mu.m2), 6) AS phi_x2,
           ROUND(-1.0 * (d.x3 - mu.m3), 6) AS phi_x3,
           ABS((1.0 * (d.x1 - mu.m1) + 2.0 * (d.x2 - mu.m2)
                - 1.0 * (d.x3 - mu.m3))
               - ((d.x1 + 2.0 * d.x2 - d.x3)
                  - (mu.m1 + 2.0 * mu.m2 - mu.m3))) < 1e-9
             AS additivity_ok
    FROM data d CROSS JOIN mu
    WHERE d.vec_id < 100
    """,
)
def a_shapley_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-row Shapley attributions for the embedded linear
    scorer — MODEL EXPLAINABILITY joins the evaluation family (the
    eval battery scores models; this explains individual
    predictions): for a linear model under feature independence the
    Shapley value has the closed form φᵢ = wᵢ·(xᵢ − E[xᵢ]) — the
    exact quantity SHAP's LinearExplainer computes — and the
    additivity axiom Σφᵢ = f(x) − E[f(x)] is emitted as a checked
    witness per row (the explainability analogue of the checked-sink
    pattern: don't just produce attributions, PROVE they decompose
    the prediction).

    Determinism: means are corpus aggregates whose float-sum noise is
    identical in both engines only after rounding — attributions
    round at 1e-6 where their ~1e-13 relative noise is invisible;
    the additivity check compares against 1e-9 which dominates the
    noise by 4 orders.

    Scale: one moment scan (3 means) broadcast into a map-only
    attribution pass — the 100 TB shape for per-row explanations;
    tree/GBT explanations reuse the same skeleton with per-leaf
    conditional means."""
    e = _t(spark, sf_dir, "embeddings")
    data = e.select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("x1"),
        F.element_at("embedding", 2).cast("double").alias("x2"),
        F.element_at("embedding", 3).cast("double").alias("x3"),
    )
    mu = data.agg(
        F.avg("x1").alias("m1"),
        F.avg("x2").alias("m2"),
        F.avg("x3").alias("m3"),
    )
    d = data.filter(F.col("vec_id") < 100).crossJoin(F.broadcast(mu))
    phi1 = 1.0 * (F.col("x1") - F.col("m1"))
    phi2 = 2.0 * (F.col("x2") - F.col("m2"))
    phi3 = -1.0 * (F.col("x3") - F.col("m3"))
    fx = F.col("x1") + 2.0 * F.col("x2") - F.col("x3")
    ef = F.col("m1") + 2.0 * F.col("m2") - F.col("m3")
    return d.select(
        "vec_id",
        F.round(phi1, 6).alias("phi_x1"),
        F.round(phi2, 6).alias("phi_x2"),
        F.round(phi3, 6).alias("phi_x3"),
        (F.abs((phi1 + phi2 + phi3) - (fx - ef)) < 1e-9).alias(
            "additivity_ok"
        ),
    )


# ---------------------------------------------------------------------------
# a_pareto_coverage — the 80/20 concentration readout (exact integers)
# ---------------------------------------------------------------------------


@query(
    "a_pareto_coverage",
    oracle="""
    WITH u AS (
      SELECT user_id,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS vc
      FROM events GROUP BY user_id
    ), ranked AS (
      SELECT vc,
             SUM(vc) OVER (ORDER BY vc DESC, user_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run,
             SUM(vc) OVER () AS total,
             ROW_NUMBER() OVER (ORDER BY vc DESC, user_id) AS rn,
             COUNT(*) OVER () AS n
      FROM u
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_users,
           CAST(MAX(total) AS BIGINT) AS total_cents,
           CAST(MIN(CASE WHEN run * 10 >= total * 8 THEN rn END)
                AS BIGINT) AS k80,
           CAST(MIN(CASE WHEN run * 2 >= total THEN rn END)
                AS BIGINT) AS k50
    FROM ranked
    """,
)
def a_pareto_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration readout — "how many users make up 80% /
    50% of revenue?" (the 80/20 diagnostic next to a_gini_coefficient
    and a_hhi, as the integer head-count instead of an index): users
    ranked by exact cent-grid revenue, running share via the
    DISTRIBUTED rank/running-sum machinery, and the crossing ranks
    found by INTEGER cross-multiplication (run·10 ≥ total·8 — no
    float shares anywhere).

    Scale: user-grain aggregate, then the distributed rank-attach
    convention (range partition + offsets — never a single-task
    window over the user table; the bounded twin here rides the
    constant-key window only because the ORACLE needs one total
    order, while the Spark side uses the scan-carry)."""
    from ..operators.ranks import attach_global_ranks

    e = _t(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("vc")
    )
    ranked = attach_global_ranks(
        u,
        sort_cols=[F.desc("vc"), F.asc("user_id")],
        key_cols=[F.col("vc"), F.col("user_id")],
        rn_col="rn",
    )
    k = constant_partition_key(F.col("rn"))
    w_run = (
        Window.partitionBy(k)
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(k).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    r = ranked.select(
        "rn",
        F.sum("vc").over(w_run).alias("run"),
        F.sum("vc").over(w_all).alias("total"),
        F.count("*").over(w_all).alias("n"),
    )
    return r.agg(
        F.max("n").cast("long").alias("n_users"),
        F.max("total").cast("long").alias("total_cents"),
        F.min(
            F.when(F.col("run") * 10 >= F.col("total") * 8, F.col("rn"))
        )
        .cast("long")
        .alias("k80"),
        F.min(F.when(F.col("run") * 2 >= F.col("total"), F.col("rn")))
        .cast("long")
        .alias("k50"),
    )


# ---------------------------------------------------------------------------
# dedup_url_canonical — URL-level dedup (canonicalize, then exact-group)
# ---------------------------------------------------------------------------


@query(
    "dedup_url_canonical",
    oracle="""
    WITH u AS (
      SELECT o_orderkey,
             'https://SHOP-' || CAST(o_orderkey % 10 AS VARCHAR)
             || '.Example.com/Order/' || CAST(o_orderkey % 500 AS VARCHAR)
             || '/?utm_source=' || o_orderstatus
             || '&session=' || CAST(o_orderkey AS VARCHAR) AS url
      FROM orders
    ), canon AS (
      SELECT o_orderkey,
             lower(regexp_extract(url, '^[a-z]+://([^/?]+)', 1))
             || regexp_replace(
                  regexp_extract(url, '^[a-z]+://[^/?]+([^?]*)', 1),
                  '/+$', '') AS curl
      FROM u
    )
    SELECT curl,
           CAST(COUNT(*) AS BIGINT) AS n_dupes,
           CAST(MIN(o_orderkey) AS BIGINT) AS canonical_key
    FROM canon GROUP BY curl
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-LEVEL dedup — the cheapest and first dedup pass in every
    web-corpus intake (CCNet/C4 drop exact-URL re-crawls before any
    content hashing): canonicalize (lowercase host, strip the query
    string — the utm/session junk that makes identical pages look
    distinct — and the trailing slash), then exact-group with a
    min-key canonical. Synthetic URLs are derived from order fields
    (the f_url_functions convention) with deliberate case/query/slash
    noise, so the oracle replays canonicalization with plain regexes
    byte-for-byte.

    The ladder this completes: URL dedup (this, free) → exact content
    hash (dedup_exact) → near-dup (MinHash/SimHash) → semantic
    (embedding) — each stage orders of magnitude costlier, so a real
    pipeline runs them in exactly this order.

    Scale: map-only canonicalization (codegen regex, zero UDF) + one
    exact groupBy — the dedup_exact shape on the canonical key."""
    o = _t(spark, sf_dir, "orders")
    url = F.concat(
        F.lit("https://SHOP-"),
        (F.col("o_orderkey") % 10).cast("string"),
        F.lit(".Example.com/Order/"),
        (F.col("o_orderkey") % 500).cast("string"),
        F.lit("/?utm_source="),
        F.col("o_orderstatus"),
        F.lit("&session="),
        F.col("o_orderkey").cast("string"),
    )
    canon = o.select(
        "o_orderkey",
        F.concat(
            F.lower(F.regexp_extract(url, r"^[a-z]+://([^/?]+)", 1)),
            F.regexp_replace(
                F.regexp_extract(url, r"^[a-z]+://[^/?]+([^?]*)", 1),
                "/+$",
                "",
            ),
        ).alias("curl"),
    )
    return canon.groupBy("curl").agg(
        F.count("*").cast("long").alias("n_dupes"),
        F.min("o_orderkey").cast("long").alias("canonical_key"),
    )


# ---------------------------------------------------------------------------
# emb_matryoshka_truncate — prefix-dim truncation quality readout
# ---------------------------------------------------------------------------

_MRL_DIM = 16


@query(
    "emb_matryoshka_truncate",
    oracle=f"""
    WITH pairs AS (
      SELECT a.vec_id AS id_a, a.vec_id + 1 AS id_b,
             CAST(a.embedding AS DOUBLE[]) AS va,
             CAST(b.embedding AS DOUBLE[]) AS vb
      FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
      WHERE a.vec_id < 100 AND a.vec_id % 2 = 0
    )
    SELECT id_a, id_b,
           ROUND(list_cosine_similarity(va, vb), 6) AS cos_full,
           ROUND(list_cosine_similarity(va[1:{_MRL_DIM}],
                                        vb[1:{_MRL_DIM}]), 6) AS cos_trunc,
           ROUND(list_cosine_similarity(va[1:{_MRL_DIM}],
                                        vb[1:{_MRL_DIM}])
                 - list_cosine_similarity(va, vb), 6) AS cos_shift
    FROM pairs
    """,
)
def emb_matryoshka_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style PREFIX truncation readout — the modern
    embedding cost lever (MRL-trained models pack coarse semantics
    into the leading dims, so serving can keep dims 1..16 of 64 and
    cut the ANN index 4×): for sampled consecutive-id pairs, the
    cosine under the full vector vs under the {dim}-dim prefix
    (renormalized implicitly by the cosine), plus the shift — exactly
    the evidence a platform needs before flipping retrieval to the
    truncated index (compare against sim_topk_* recall bands).

    Cross-engine: slicing is positional (no arithmetic), cosines are
    the same dot/norm arithmetic both sides on identical doubles,
    ROUND 6 per the registry scorer convention.

    Scale: map-only over a broadcast-joined pair sample; the
    full-corpus variant is one scan with the truncation fused into
    the existing quantize/index builders (emb_quantize_int8's
    shape)."""
    e = _t(spark, sf_dir, "embeddings")
    a = e.filter(
        (F.col("vec_id") < 100) & (F.col("vec_id") % 2 == 0)
    ).select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = e.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb")
    )
    # broadcast the <=50-row SAMPLE, never the corpus-scaled
    # embeddings side (the banked broadcast-OOM lesson — ADVICE r08)
    pairs = b.join(
        F.broadcast(a), F.col("id_b") == F.col("id_a") + 1
    )

    def cos(u, v):
        dot = F.aggregate(
            F.zip_with(
                u, v, lambda x, y: x.cast("double") * y.cast("double")
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        nu = F.sqrt(
            F.aggregate(
                F.transform(u, lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        nv = F.sqrt(
            F.aggregate(
                F.transform(v, lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        return dot / (nu * nv)

    full = cos(F.col("va"), F.col("vb"))
    trunc = cos(
        F.slice(F.col("va"), 1, _MRL_DIM), F.slice(F.col("vb"), 1, _MRL_DIM)
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.round(full, 6).alias("cos_full"),
        F.round(trunc, 6).alias("cos_trunc"),
        F.round(trunc - full, 6).alias("cos_shift"),
    )


emb_matryoshka_truncate.__doc__ = emb_matryoshka_truncate.__doc__.replace(
    "{dim}", str(_MRL_DIM)
)


# ---------------------------------------------------------------------------
# a_ab_srm — sample-ratio-mismatch gate (exact integers)
# ---------------------------------------------------------------------------


@query(
    "a_ab_srm",
    oracle="""
    WITH assign AS (
      SELECT user_id,
             CASE WHEN (user_id * 2654435761) % 4294967296 % 2 = 0
                  THEN 'A' ELSE 'B' END AS bucket
      FROM events GROUP BY user_id
    ), g AS (
      SELECT SUM(CASE WHEN bucket = 'A' THEN 1 ELSE 0 END) AS na,
             SUM(CASE WHEN bucket = 'B' THEN 1 ELSE 0 END) AS nb
      FROM assign
    )
    SELECT CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
           CAST((na - nb) * (na - nb) AS BIGINT) AS srm_num,
           CAST(na + nb AS BIGINT) AS srm_den,
           (na - nb) * (na - nb) * 1000 > 10828 * (na + nb) AS srm_alarm
    FROM g
    """,
)
def a_ab_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-Ratio Mismatch gate — the FIRST health check every A/B
    platform runs before reading any metric (a skewed 50/50 split
    means the assignment or logging pipeline is broken and every
    downstream lift is garbage): χ²₁ = (n_A−n_B)²/(n_A+n_B) against
    the conventional α=0.001 alarm threshold (10.828). Same
    portable-hash assignment as a_abtest_lift, so the gate guards the
    exact population the lift reads.

    Integers-only (band-grid endgame): the statistic ships as the
    exact BIGINT pair (srm_num, srm_den) and the alarm fires via the
    integer cross-multiplication (na−nb)²·1000 > 10828·(na+nb) — the
    critical value is the rational 10828/1000, so no float compare
    anywhere.

    Scale: one user-grain distinct pass + a 1-row reduce."""
    from ..functions.columns import portable_bucket

    e = _t(spark, sf_dir, "events")
    assign = e.groupBy("user_id").agg(F.lit(1).alias("one")).select(
        F.when(portable_bucket(F.col("user_id"), 2) == 0, F.lit("A"))
        .otherwise(F.lit("B"))
        .alias("bucket")
    )
    g = assign.agg(
        F.sum(F.when(F.col("bucket") == "A", 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("bucket") == "B", 1).otherwise(0)).alias("nb"),
    )
    diff2 = (F.col("na") - F.col("nb")) * (F.col("na") - F.col("nb"))
    return g.select(
        F.col("na").cast("long").alias("na"),
        F.col("nb").cast("long").alias("nb"),
        diff2.cast("long").alias("srm_num"),
        (F.col("na") + F.col("nb")).cast("long").alias("srm_den"),
        (diff2 * 1000 > 10828 * (F.col("na") + F.col("nb"))).alias(
            "srm_alarm"
        ),
    )


# ---------------------------------------------------------------------------
# a_binary_segmentation — hierarchical changepoints (depth 2)
# ---------------------------------------------------------------------------


@query(
    "a_binary_segmentation",
    oracle=f"""
    WITH {_DAILY_CTE},
    seq AS (
      SELECT day, xc,
             ROW_NUMBER() OVER (ORDER BY day) AS i,
             SUM(xc) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
             COUNT(*) OVER () AS n,
             SUM(xc) OVER () AS s
      FROM daily
    ),
    b1 AS (
      SELECT i AS k1, cs AS cs1, day AS d1, n AS ntot, s AS stot FROM seq
      WHERE i < n
      QUALIFY ROW_NUMBER() OVER (ORDER BY
        CAST(cs AS DOUBLE) * cs / i
        + CAST(s - cs AS DOUBLE) * (s - cs) / (n - i) DESC, i ASC) = 1
    ),
    seq1 AS (
      SELECT seq.i, seq.day, seq.cs, b1.k1, b1.cs1, b1.ntot, b1.stot
      FROM seq CROSS JOIN b1
    ),
    bl AS (
      SELECT i AS k, day AS d FROM seq1
      WHERE i < k1
      QUALIFY ROW_NUMBER() OVER (ORDER BY
        CAST(cs AS DOUBLE) * cs / i
        + CAST(cs1 - cs AS DOUBLE) * (cs1 - cs) / (k1 - i) DESC, i ASC) = 1
    ),
    br AS (
      SELECT i AS k, day AS d FROM seq1
      WHERE i > k1 AND i < ntot
      QUALIFY ROW_NUMBER() OVER (ORDER BY
        CAST(cs - cs1 AS DOUBLE) * (cs - cs1) / (i - k1)
        + CAST(stot - cs AS DOUBLE) * (stot - cs) / (ntot - i) DESC,
        i ASC) = 1
    )
    SELECT 1 AS cp_id, CAST(b1.k1 AS BIGINT) AS split_idx, b1.d1 AS day
    FROM b1
    UNION ALL
    SELECT 2, CAST(bl.k AS BIGINT), bl.d FROM bl
    UNION ALL
    SELECT 3, CAST(br.k AS BIGINT), br.d FROM br
    """,
)
def a_binary_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical changepoint detection by BINARY SEGMENTATION
    (depth 2 ⇒ up to 3 changepoints) over the daily revenue series —
    the multi-changepoint generalization of a_cusum_changepoint (one
    shift) and a_interrupted_ts (one known cut): find the split
    maximizing the two-segment fit S_L²/n_L + S_R²/n_R (equivalently
    minimizing total SSE — the constant-Σx² term cancels), then
    recurse once into each side. The classic scalable approximation
    to optimal partitioning (PELT's ancestor), and exactly the shape
    a distributed engine wants: each level is ONE pass over the
    bounded prefix-sum table, never a per-candidate scan.

    Determinism: prefix sums are EXACT integer cents; candidate
    scores are identical IEEE doubles from identical integers
    (explicit x*x); argmax tie-breaks on the index; the OUTPUT is
    integers/dates only (the selection is shipped, not the score).

    Scale: one fact scan → bounded daily table; both levels are
    constant-key windows + 1-row broadcasts over it."""
    d = _daily(spark, sf_dir)
    kday = constant_partition_key(F.col("day"))
    w_ord = Window.partitionBy(kday).orderBy("day")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy(kday).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    seq = d.select(
        "day",
        F.row_number().over(w_ord).alias("i"),
        F.sum("xc").over(w_run).alias("cs"),
        F.count("*").over(w_all).alias("n"),
        F.sum("xc").over(w_all).alias("s"),
    )

    def best(df: DataFrame, lo_cs, lo_i, hi_cs, hi_i) -> DataFrame:
        """Argmax split inside (lo_i, hi_i]: segment sums relative to
        the enclosing segment's prefix boundaries."""
        seg_l = (F.col("cs") - lo_cs).cast("double")
        seg_r = (hi_cs - F.col("cs")).cast("double")
        score = seg_l * seg_l / (F.col("i") - lo_i) + seg_r * seg_r / (
            hi_i - F.col("i")
        )
        w = Window.partitionBy(constant_partition_key(F.col("i"))).orderBy(
            score.desc(), F.col("i").asc()
        )
        return (
            df.filter((F.col("i") > lo_i) & (F.col("i") < hi_i))
            .select(
                "day", "i", "cs", F.row_number().over(w).alias("rnk")
            )
            .filter(F.col("rnk") == 1)
        )

    b1 = best(seq, F.lit(0), F.lit(0), F.col("s"), F.col("n")).select(
        F.col("i").alias("k1"),
        F.col("cs").alias("cs1"),
        F.col("day").alias("d1"),
    )
    seq1 = seq.crossJoin(F.broadcast(b1))
    bl = best(
        seq1, F.lit(0), F.lit(0), F.col("cs1"), F.col("k1")
    ).select(F.col("i").alias("kl"), F.col("day").alias("dl"))
    br = best(
        seq1, F.col("cs1"), F.col("k1"), F.col("s"), F.col("n")
    ).select(F.col("i").alias("kr"), F.col("day").alias("dr"))
    out1 = b1.select(
        F.lit(1).cast("int").alias("cp_id"),
        F.col("k1").cast("long").alias("split_idx"),
        F.col("d1").alias("day"),
    )
    out2 = bl.select(
        F.lit(2).cast("int").alias("cp_id"),
        F.col("kl").cast("long").alias("split_idx"),
        F.col("dl").alias("day"),
    )
    out3 = br.select(
        F.lit(3).cast("int").alias("cp_id"),
        F.col("kr").cast("long").alias("split_idx"),
        F.col("dr").alias("day"),
    )
    return out1.unionByName(out2).unionByName(out3)


# ---------------------------------------------------------------------------
# io_schema_evolution_checked — merged-footer read over an evolving table
# ---------------------------------------------------------------------------


@query(
    "io_schema_evolution_checked",
    oracle="""
    WITH old AS (
      SELECT l_returnflag AS flag, COUNT(*) AS n,
             SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS q
      FROM lineitem WHERE l_linenumber <= 3 GROUP BY 1
    ), new AS (
      SELECT l_returnflag AS flag, COUNT(*) AS n,
             SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS q,
             SUM(CAST(ROUND(l_discount * 10000) AS BIGINT)) AS d
      FROM lineitem WHERE l_linenumber > 3 GROUP BY 1
    )
    SELECT old.flag,
           CAST(old.n + COALESCE(new.n, 0) AS BIGINT) AS n,
           CAST(old.q + COALESCE(new.q, 0) AS BIGINT) AS qty_cents,
           CAST(COALESCE(new.d, 0) AS BIGINT) AS disc_bps,
           CAST(old.n AS BIGINT) AS n_null_disc,
           TRUE AS merged_ok
    FROM old LEFT JOIN new USING (flag)
    """,
)
def io_schema_evolution_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-EVOLUTION round trip (sources/io.read_parquet_evolving):
    write an "old-writer" batch (3 columns) and a "new-writer" batch
    (4 columns — disc_bps added) into ONE table directory, read it
    back with footer merging, and fingerprint per flag: total rows,
    quantity cents, the new column's sum, and — the part naive reads
    get wrong — the exact count of rows where the late-added column
    surfaces as NULL (old files must yield NULL, not 0, not an
    error). merged_ok asserts the merged read equals the two-batch
    union computed directly from the source (checked-source pattern).

    At 100 TB schema evolution is how tables actually live — writers
    upgrade over months; a reader that requires a rewrite of old
    partitions (or silently drops the new column) corrupts the lake.
    Footer merging costs one metadata read per file and nothing else;
    the docstring contract in sources/io.py routes only evolving
    tables through it.

    Scale: map-only exports + one merged scan with map-side partial
    aggregation; bounded build-time side effect per the checked-sink
    planlint contract."""
    import os

    from ..sources.io import read_parquet_evolving
    from .staged_r07 import _scratch

    base = _scratch("io_evolve")
    tbl = os.path.join(base, "tbl")
    li = _t(spark, sf_dir, "lineitem")
    old = li.filter(F.col("l_linenumber") <= 3).select(
        "l_orderkey",
        F.round(F.col("l_quantity") * 100).cast("long").alias("qty100"),
        "l_returnflag",
    )
    new = li.filter(F.col("l_linenumber") > 3).select(
        "l_orderkey",
        F.round(F.col("l_quantity") * 100).cast("long").alias("qty100"),
        "l_returnflag",
        F.round(F.col("l_discount") * 10000).cast("long").alias("disc_bps"),
    )
    old.write.mode("overwrite").parquet(tbl)
    new.write.mode("append").parquet(tbl)

    merged = read_parquet_evolving(spark, tbl)
    got = merged.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count("*").alias("m_n"),
        F.sum("qty100").alias("m_q"),
        F.coalesce(F.sum("disc_bps"), F.lit(0)).alias("m_d"),
        F.sum(F.col("disc_bps").isNull().cast("long")).alias("m_null"),
    )
    want = (
        li.groupBy(F.col("l_returnflag").alias("flag")).agg(
            F.count("*").alias("w_n"),
            F.sum(
                F.round(F.col("l_quantity") * 100).cast("long")
            ).alias("w_q"),
            F.sum(
                F.when(
                    F.col("l_linenumber") > 3,
                    F.round(F.col("l_discount") * 10000).cast("long"),
                ).otherwise(0)
            ).alias("w_d"),
            F.sum((F.col("l_linenumber") <= 3).cast("long")).alias(
                "w_null"
            ),
        )
    )
    eq = lambda x, y: F.col(x).eqNullSafe(F.col(y))  # noqa: E731
    return got.join(want, "flag").select(
        "flag",
        F.col("w_n").cast("long").alias("n"),
        F.col("w_q").cast("long").alias("qty_cents"),
        F.col("w_d").cast("long").alias("disc_bps"),
        F.col("w_null").cast("long").alias("n_null_disc"),
        (
            eq("m_n", "w_n") & eq("m_q", "w_q")
            & eq("m_d", "w_d") & eq("m_null", "w_null")
        ).alias("merged_ok"),
    )


# ---------------------------------------------------------------------------
# a_holt_winters — triple exponential smoothing (additive seasonality)
# ---------------------------------------------------------------------------

_HW_PERIOD = 24  # daily cycle on the hourly grid


@query(
    "a_holt_winters",
    oracle=f"""
    WITH RECURSIVE c AS (
      SELECT CAST(FLOOR(EPOCH(ts) / 3600) AS BIGINT) AS h,
             CAST(COUNT(*) AS DOUBLE) AS x
      FROM events GROUP BY 1
    ), o AS (
      SELECT x, ROW_NUMBER() OVER (ORDER BY h) AS t FROM c
    ), n AS (
      SELECT COUNT(*) AS n FROM o
    ), mu AS (
      SELECT SUM(x) / {_HW_PERIOD} AS m FROM o WHERE t <= {_HW_PERIOD}
    ), init AS (
      SELECT {_HW_PERIOD} AS t,
             (SELECT m FROM mu) AS l,
             CAST(0 AS DOUBLE) AS b,
             (SELECT LIST(x - (SELECT m FROM mu) ORDER BY t)
              FROM o WHERE t <= {_HW_PERIOD}) AS s
    ), fold AS (
      SELECT t, l, b, s FROM init
      UNION ALL
      SELECT o.t,
             0.5 * (o.x - f.s[1]) + 0.5 * (f.l + f.b),
             0.25 * ((0.5 * (o.x - f.s[1]) + 0.5 * (f.l + f.b)) - f.l)
               + 0.75 * f.b,
             list_concat(
               f.s[2:],
               [0.5 * (o.x - (0.5 * (o.x - f.s[1]) + 0.5 * (f.l + f.b)))
                + 0.5 * f.s[1]])
      FROM fold f JOIN o ON o.t = f.t + 1
    ), last AS (
      SELECT l, b, s FROM fold WHERE t = (SELECT n FROM n)
    )
    SELECT CAST(k AS BIGINT) AS horizon,
           ROUND(l + k * b + s[((k - 1) % {_HW_PERIOD}) + 1], 6)
             AS forecast
    FROM last, generate_series(1, 6) AS g(k)
    """,
)
def a_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE-SEASONAL forecasting (triple exponential
    smoothing, daily cycle on the hourly grid) — the seasonal member
    completing the forecasting family: a_holt_forecast smooths
    level+trend and cannot see the day/night wave a_seasonal_residuals
    measures; HW carries a 24-cell seasonal state and forecasts
    l + k·b + s_k. Dyadic smoothing constants (α=γ=1/2, β=1/4);
    first-cycle initialization (l = cycle mean — an exact /24 of an
    exact integer sum, order-independent; s_i = x_i − l; b = 0).

    Cross-engine exactness: the Spark side folds the BOUNDED hourly
    series in a one-group applyInPandas with a plain scalar loop
    (never numpy vector ops, whose pairwise summation reorders
    float adds); DuckDB's RECURSIVE CTE carries the rotating seasonal
    LIST and replays the identical operation sequence — identical
    IEEE ops in identical order, so the 6-dp rounding is
    belt-and-braces (the a_holt_forecast convention).

    Scale: one fact scan to the calendar-bounded series; the
    sequential fold is corpus-independent. At 100 TB the aggregate
    is the parallel part and the fold stays a ~thousands-step scalar
    recursion — exactly how production forecasters run."""
    import pandas as pd

    e = _t(spark, sf_dir, "events")
    c = (
        e.select(
            F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("h")
        )
        .groupBy("h")
        .agg(F.count("*").cast("double").alias("x"))
    )
    m = _HW_PERIOD

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("h")
        xs = [float(v) for v in pdf["x"]]
        tot = 0.0
        for v in xs[:m]:
            tot += v
        level = tot / m
        trend = 0.0
        s = [v - level for v in xs[:m]]
        for x in xs[m:]:
            nl = 0.5 * (x - s[0]) + 0.5 * (level + trend)
            trend = 0.25 * (nl - level) + 0.75 * trend
            ns = 0.5 * (x - nl) + 0.5 * s[0]
            s = s[1:] + [ns]
            level = nl
        return pd.DataFrame(
            {
                "horizon": range(1, 7),
                "forecast": [
                    level + k * trend + s[(k - 1) % m] for k in range(1, 7)
                ],
            }
        )

    return (
        c.withColumn("__g", F.lit(0))
        .groupBy("__g")
        .applyInPandas(fold, "horizon long, forecast double")
        .select("horizon", F.round("forecast", 6).alias("forecast"))
    )


# ---------------------------------------------------------------------------
# a_greenwood_ci — Kaplan-Meier uncertainty (Greenwood's formula)
# ---------------------------------------------------------------------------


@query(
    "a_greenwood_ci",
    oracle="""
    WITH span AS (
      SELECT user_id,
             CAST(FLOOR((EPOCH(MAX(ts)) - EPOCH(MIN(ts))) / 3600) AS BIGINT)
               AS dur,
             MAX(ts) AS last_ts
      FROM events GROUP BY user_id
    ), cut AS (
      SELECT MAX(ts) AS mx FROM events
    ), lab AS (
      SELECT s.dur,
             (EPOCH(cut.mx) - EPOCH(s.last_ts)) >= 6 * 3600 AS observed
      FROM span s CROSS JOIN cut
    ), per AS (
      SELECT dur, COUNT(*) AS c,
             SUM(CASE WHEN observed THEN 1 ELSE 0 END) AS d
      FROM lab GROUP BY dur
    ), risk AS (
      SELECT dur, d,
             SUM(c) OVER (ORDER BY dur DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n
      FROM per
    ), steps AS (
      SELECT dur, d, n FROM risk WHERE d > 0
    )
    SELECT dur AS dur_h,
           CAST(n AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS d,
           ROUND(EXP(SUM(LN(CAST(n - d AS DOUBLE) / n)) OVER w), 6)
             AS km_survival,
           ROUND(SUM(CAST(d AS DOUBLE) / (CAST(n AS DOUBLE) * (n - d)))
                   OVER w, 6) AS greenwood_cumvar
    FROM steps
    WHERE n > d
    WINDOW w AS (ORDER BY dur
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def a_greenwood_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwood's variance for the Kaplan-Meier curve — the
    UNCERTAINTY layer the survival family was missing (a_survival_km
    gives the point estimate, a_log_rank compares groups; this gives
    the per-step cumulative variance Σ d/(n(n−d)) from which the
    standard KM confidence band Ŝ·(1 ± z·√v̂) follows): same
    censored-lifetime construction, survival as exp(Σ ln((n−d)/n))
    so BOTH running quantities are ORDER-sequenced sums
    (deterministic float — the nelson_aalen convention; the km curve
    re-derived through ln/exp lands on the same 1e-6 grid as the
    product form). Steps with n == d are excluded from the table on
    both sides (survival hits exact zero, Greenwood diverges —
    textbook behavior, documented rather than fudged).

    Scale: one fact scan → per-user spans → constant-key windows
    over the bounded distinct-lifetime table."""
    k_ = constant_partition_key

    e = _t(spark, sf_dir, "events")
    span = e.groupBy("user_id").agg(
        F.floor(
            (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
            / 3600
        )
        .cast("long")
        .alias("dur"),
        F.max("ts").alias("last_ts"),
    )
    cut = e.agg(F.max("ts").alias("mx"))
    lab = span.crossJoin(F.broadcast(cut)).select(
        "dur",
        (
            (F.unix_timestamp("mx") - F.unix_timestamp("last_ts"))
            >= 6 * 3600
        ).alias("observed"),
    )
    per = lab.groupBy("dur").agg(
        F.count("*").alias("c"),
        F.sum(F.when(F.col("observed"), 1).otherwise(0)).alias("d"),
    )
    w_desc = (
        Window.partitionBy(k_(F.col("dur")))
        .orderBy(F.col("dur").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = per.select(
        "dur", "d", F.sum("c").over(w_desc).alias("n")
    ).filter((F.col("d") > 0) & (F.col("n") > F.col("d")))
    w_asc = (
        Window.partitionBy(k_(F.col("dur")))
        .orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ln_term = F.log((F.col("n") - F.col("d")).cast("double") / F.col("n"))
    gw_term = F.col("d").cast("double") / (
        F.col("n").cast("double") * (F.col("n") - F.col("d"))
    )
    return risk.select(
        F.col("dur").alias("dur_h"),
        F.col("n").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("d"),
        F.round(F.exp(F.sum(ln_term).over(w_asc)), 6).alias("km_survival"),
        F.round(F.sum(gw_term).over(w_asc), 6).alias("greenwood_cumvar"),
    )


# ---------------------------------------------------------------------------
# g_reciprocity — directed-graph reciprocity (exact integers)
# ---------------------------------------------------------------------------


@query(
    "g_reciprocity",
    oracle="""
    WITH e AS (
      SELECT DISTINCT o_custkey % 50 AS src, l_suppkey % 50 AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_custkey % 50 <> l_suppkey % 50
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
           CAST(SUM(CASE WHEN EXISTS (
                  SELECT 1 FROM e r
                  WHERE r.src = e.dst AND r.dst = e.src)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_reciprocal
    FROM e
    """,
)
def g_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed-graph reciprocity — the fraction of edges whose
    reverse edge also exists (DIRECTION joins the graph-quality
    family: transitivity scores triangles, assortativity scores
    degree mixing, this scores mutuality — the signature difference
    between follow graphs (~low) and friendship graphs (1.0)).
    Shipped as the EXACT integer pair (n_reciprocal, n_edges); the
    ratio is the consumer's division (band-grid endgame).

    Spark side: the reverse-edge test is a self-join on the swapped
    key pair (left-semi — never EXISTS-per-row), on the DISTINCT
    vertex-bounded edge set; the fact-fact edge build is merge-pinned
    upstream (banked broadcast-OOM lesson)."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.hint("merge")
        .join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") % 50).alias("src"),
            (F.col("l_suppkey") % 50).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    recip = edges.join(rev, ["src", "dst"], "left_semi")
    n_all = edges.agg(F.count("*").alias("n_edges"))
    n_rec = recip.agg(F.count("*").alias("n_reciprocal"))
    return n_all.crossJoin(F.broadcast(n_rec)).select(
        F.col("n_edges").cast("long").alias("n_edges"),
        F.col("n_reciprocal").cast("long").alias("n_reciprocal"),
    )


# ---------------------------------------------------------------------------
# a_odds_ratio — 2x2 association with Woolf CI (exact integer cells)
# ---------------------------------------------------------------------------


@query(
    "a_odds_ratio",
    oracle="""
    WITH assign AS (
      SELECT user_id,
             (user_id * 2654435761) % 4294967296 % 2 = 0 AS exposed,
             MAX(CASE WHEN event_type = 'purchase' AND value > 150
                      THEN 1 ELSE 0 END) = 1 AS outcome
      FROM events GROUP BY user_id
    ), cells AS (
      SELECT SUM(CASE WHEN exposed AND outcome THEN 1 ELSE 0 END) AS a,
             SUM(CASE WHEN exposed AND NOT outcome THEN 1 ELSE 0 END) AS b,
             SUM(CASE WHEN NOT exposed AND outcome THEN 1 ELSE 0 END) AS c,
             SUM(CASE WHEN NOT exposed AND NOT outcome THEN 1 ELSE 0 END)
               AS d
      FROM assign
    )
    SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
           CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
           CAST(a * d AS BIGINT) AS or_num,
           CAST(b * c AS BIGINT) AS or_den,
           ROUND(LN(CAST(a * d AS DOUBLE) / (b * c))
                 - 1.959963984540054
                   * SQRT(1.0/a + 1.0/b + 1.0/c + 1.0/d), 6) AS ln_or_lo,
           ROUND(LN(CAST(a * d AS DOUBLE) / (b * c))
                 + 1.959963984540054
                   * SQRT(1.0/a + 1.0/b + 1.0/c + 1.0/d), 6) AS ln_or_hi
    FROM cells
    """,
)
def a_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odds ratio of the 2×2 exposure/outcome table with Woolf's
    log-scale confidence interval — the case-control association
    readout completing the 2×2 family (a_chi2_independence tests,
    a_cramers_v sizes, a_effect_sizes standardizes differences; the
    OR is what epidemiology and logistic regression actually report:
    e^β of the exposure coefficient). Exposure = the portable-hash
    assignment, outcome = any high-value purchase (a_abtest_lift's
    population).

    Integers-only core: the 2×2 cells and the OR as the exact BIGINT
    pair (or_num, or_den) = (a·d, b·c); the Woolf bounds
    ln(OR) ± z·√(1/a+1/b+1/c+1/d) carry a sqrt ⇒ irrational ⇒
    ROUND 6 safe (z as the shared literal — no erf).

    Scale: one user-grain scan + a 1-row reduce."""
    from ..functions.columns import portable_bucket

    e = _t(spark, sf_dir, "events")
    assign = e.groupBy("user_id").agg(
        (
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") > 150),
                    1,
                ).otherwise(0)
            )
            == 1
        ).alias("outcome")
    ).select(
        (portable_bucket(F.col("user_id"), 2) == 0).alias("exposed"),
        "outcome",
    )
    cells = assign.agg(
        F.sum(
            F.when(F.col("exposed") & F.col("outcome"), 1).otherwise(0)
        ).alias("a"),
        F.sum(
            F.when(F.col("exposed") & ~F.col("outcome"), 1).otherwise(0)
        ).alias("b"),
        F.sum(
            F.when(~F.col("exposed") & F.col("outcome"), 1).otherwise(0)
        ).alias("c"),
        F.sum(
            F.when(~F.col("exposed") & ~F.col("outcome"), 1).otherwise(0)
        ).alias("d"),
    )
    ln_or = F.log(
        (F.col("a") * F.col("d")).cast("double")
        / (F.col("b") * F.col("c"))
    )
    se = F.sqrt(
        1.0 / F.col("a") + 1.0 / F.col("b")
        + 1.0 / F.col("c") + 1.0 / F.col("d")
    )
    z = 1.959963984540054
    return cells.select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        F.col("c").cast("long").alias("c"),
        F.col("d").cast("long").alias("d"),
        (F.col("a") * F.col("d")).cast("long").alias("or_num"),
        (F.col("b") * F.col("c")).cast("long").alias("or_den"),
        F.round(ln_or - z * se, 6).alias("ln_or_lo"),
        F.round(ln_or + z * se, 6).alias("ln_or_hi"),
    )


# ---------------------------------------------------------------------------
# a_mcnemar_test — paired model comparison (full vs truncated scorer)
# ---------------------------------------------------------------------------


def _mcnemar_oracle() -> str:
    from .staged_r10 import _POS_LABEL

    return f"""
    WITH ex0 AS (
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
    ), scored AS (
      SELECT vex.vec_id, vex.is_pos,
             ROUND(SUM(vex.x * cent.c)
                   / NULLIF(SQRT(SUM(vex.x * vex.x))
                            * SQRT(SUM(cent.c * cent.c)), 0.0), 6)
               AS s_full,
             ROUND(SUM(CASE WHEN vex.i <= {_MRL_DIM}
                            THEN vex.x * cent.c ELSE 0 END)
                   / NULLIF(SQRT(SUM(CASE WHEN vex.i <= {_MRL_DIM}
                                          THEN vex.x * vex.x ELSE 0 END))
                            * SQRT(SUM(CASE WHEN vex.i <= {_MRL_DIM}
                                            THEN cent.c * cent.c
                                            ELSE 0 END)), 0.0), 6)
               AS s_trunc
      FROM vex JOIN cent USING (i)
      GROUP BY 1, 2
    ), paired AS (
      SELECT ((s_full >= 0.0) = (is_pos = 1)) AS a_ok,
             ((s_trunc >= 0.0) = (is_pos = 1)) AS b_ok
      FROM scored
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN a_ok AND NOT b_ok THEN 1 ELSE 0 END)
                AS BIGINT) AS b_cell,
           CAST(SUM(CASE WHEN NOT a_ok AND b_ok THEN 1 ELSE 0 END)
                AS BIGINT) AS c_cell,
           CAST((SUM(CASE WHEN a_ok AND NOT b_ok THEN 1 ELSE 0 END)
                 - SUM(CASE WHEN NOT a_ok AND b_ok THEN 1 ELSE 0 END))
                * (SUM(CASE WHEN a_ok AND NOT b_ok THEN 1 ELSE 0 END)
                   - SUM(CASE WHEN NOT a_ok AND b_ok THEN 1 ELSE 0 END))
                AS BIGINT) AS mcnemar_num,
           CAST(SUM(CASE WHEN a_ok <> b_ok THEN 1 ELSE 0 END) AS BIGINT)
             AS mcnemar_den
    FROM paired
    """


@query("a_mcnemar_test", oracle=_mcnemar_oracle())
def a_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test — the PAIRED model-comparison the eval battery
    was missing: two classifiers scored on the SAME items (here the
    full-dimension centroid scorer vs its Matryoshka-truncated
    16-dim variant — "does truncation significantly hurt?", the
    decision emb_matryoshka_truncate's cosine shift feeds), compared
    ONLY on their disagreements: χ²₁ = (b−c)²/(b+c) where b/c count
    items exactly one model gets right. Unpaired accuracy comparison
    wastes the pairing; McNemar is the correct test.

    Integers-only (band-grid endgame): predictions compare ROUND-6
    scores against a 0 threshold (identical doubles cross-engine),
    the b/c cells are exact integers, and the statistic ships as the
    BIGINT pair (mcnemar_num, mcnemar_den).

    Scale: two corpus scans (centroid fit + scoring — both scorers
    share one pass), then a 1-row reduce."""
    from .staged_r10 import _POS_LABEL

    e = _t(spark, sf_dir, "embeddings")
    ex0 = e.filter(F.col("label") == _POS_LABEL).select(
        F.posexplode("embedding").alias("i0", "x")
    ).select((F.col("i0") + 1).alias("i"), "x")
    cent = ex0.groupBy("i").agg(
        F.round(F.avg(F.col("x").cast("double")), 6).alias("c")
    )
    vex = e.select(
        "vec_id",
        (F.col("label") == _POS_LABEL).cast("int").alias("is_pos"),
        F.posexplode("embedding").alias("i0", "x"),
    ).select(
        "vec_id", "is_pos", (F.col("i0") + 1).alias("i"),
        F.col("x").cast("double").alias("x"),
    )
    j = vex.join(F.broadcast(cent), "i")
    tr = F.col("i") <= _MRL_DIM
    scored = j.groupBy("vec_id", "is_pos").agg(
        F.round(
            F.sum(F.col("x") * F.col("c"))
            / F.nullif(
                F.sqrt(F.sum(F.col("x") * F.col("x")))
                * F.sqrt(F.sum(F.col("c") * F.col("c"))),
                F.lit(0.0),
            ),
            6,
        ).alias("s_full"),
        F.round(
            F.sum(F.when(tr, F.col("x") * F.col("c")).otherwise(0.0))
            / F.nullif(
                F.sqrt(
                    F.sum(F.when(tr, F.col("x") * F.col("x")).otherwise(0.0))
                )
                * F.sqrt(
                    F.sum(F.when(tr, F.col("c") * F.col("c")).otherwise(0.0))
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("s_trunc"),
    )
    paired = scored.select(
        ((F.col("s_full") >= 0.0) == (F.col("is_pos") == 1)).alias("a_ok"),
        ((F.col("s_trunc") >= 0.0) == (F.col("is_pos") == 1)).alias("b_ok"),
    )
    b = F.sum(F.when(F.col("a_ok") & ~F.col("b_ok"), 1).otherwise(0))
    c = F.sum(F.when(~F.col("a_ok") & F.col("b_ok"), 1).otherwise(0))
    return paired.agg(
        F.count("*").cast("long").alias("n"),
        b.cast("long").alias("b_cell"),
        c.cast("long").alias("c_cell"),
        ((b - c) * (b - c)).cast("long").alias("mcnemar_num"),
        F.sum(F.when(F.col("a_ok") != F.col("b_ok"), 1).otherwise(0))
        .cast("long")
        .alias("mcnemar_den"),
    )
