"""Round-8-queue queries, continuation batch: behavioral sessions,
basket co-occurrence, drift detection, and trend significance.

Four analytics families the registry did not cover yet, each the
standard formulation over the driver's tables with an exact DuckDB
twin (registry conventions: portable floor-epoch seconds, ROUND
grids on order-sensitive float aggregates, deterministic tie-breaks):

- ``w_sessionize``     — batch gaps-and-islands sessionization (the
                         batch twin of the T3 streaming session
                         window, same 6-hour gap).
- ``rec_item_affinity``— market-basket item-to-item recommender
                         (co-occurrence counts + lift, top-k per
                         item), the classic collaborative-filtering
                         precompute.
- ``a_psi_drift``      — population-stability-index drift between
                         two halves of the event window, the GX-role
                         distribution-shift monitor.
- ``a_mann_kendall``   — Mann-Kendall trend significance with tie
                         correction, the hypothesis-test companion
                         to a_theil_sen's robust slope.

All were proven green at sf0.001 + sf0.01 (incl. --plain) before
registration, per the window discipline in queries/__init__.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load as _t
from .registry import query

_GAP_S = 21_600  # 6 hours — matches streaming/jobs.session_agg's gap


@query(
    "w_sessionize",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, event_type, value,
             CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS es
      FROM events
    ), flagged AS (
      SELECT *,
             CASE WHEN es - LAG(es) OVER (
                    PARTITION BY user_id ORDER BY es, event_id
                  ) > {_GAP_S} OR LAG(es) OVER (
                    PARTITION BY user_id ORDER BY es, event_id
                  ) IS NULL THEN 1 ELSE 0 END AS is_new
      FROM e
    ), sessioned AS (
      SELECT *,
             SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY es, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_seq
      FROM flagged
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MAX(es) - MIN(es) AS duration_s,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
           ROUND(SUM(value), 6) AS total_value
    FROM sessioned
    GROUP BY user_id, session_seq
    """,
)
def w_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization by inactivity gap (gaps-and-islands): a
    new session starts when a user's inter-event gap exceeds 6 hours
    (the same gap the T3 streaming session window uses, so the batch
    and streaming definitions of "session" agree). One row per
    session with event count, wall duration, type breadth and summed
    value — the table every funnel/retention analysis downstream of
    raw events starts from.

    Determinism: gaps compare FLOOR-epoch seconds on both engines
    (fractional-epoch vs integer-second truncation flips gaps that
    straddle the threshold by <1s — the a_theil_sen hour-grid lesson
    applied to seconds); (es, event_id) orders ties; total_value
    lands on the 1e-6 grid.

    Scale: ONE hash exchange on user_id serves both windows, and the
    final (user_id, session_seq) aggregate reuses it — same-user rows
    are already co-located, so Spark plans the group-by without a
    second shuffle. No per-user data ever sits on the driver; state
    per partition is one window frame."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.floor(F.unix_timestamp("ts")).cast("long").alias("es"),
    )
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    prev = F.lag("es").over(w)
    flagged = e.withColumn(
        "is_new",
        ((F.col("es") - prev > _GAP_S) | prev.isNull()).cast("int"),
    )
    sessioned = flagged.withColumn(
        "session_seq",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sessioned.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        (F.max("es") - F.min("es")).alias("duration_s"),
        F.countDistinct("event_type").alias("n_types"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )


_MINSUP = 2  # minimum co-occurrence count to score a pair
_TOPK = 5


@query(
    "rec_item_affinity",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n AS (
      SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n_orders
      FROM items
    ), cnt AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c FROM items GROUP BY 1
    ), pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb,
             CAST(COUNT(*) AS BIGINT) AS cooc
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_MINSUP}
    ), sym AS (
      SELECT pa AS item, pb AS rec, cooc FROM pairs
      UNION ALL
      SELECT pb AS item, pa AS rec, cooc FROM pairs
    ), scored AS (
      SELECT s.item, s.rec, s.cooc,
             ROUND(s.cooc * n.n_orders / (ca.c * cb.c), 6) AS lift
      FROM sym s
      JOIN cnt ca ON ca.l_partkey = s.item
      JOIN cnt cb ON cb.l_partkey = s.rec
      CROSS JOIN n
    )
    SELECT item, rec, cooc, lift, CAST(rnk AS INTEGER) AS rnk FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY item
               ORDER BY cooc DESC, lift DESC, rec ASC
             ) AS rnk
      FROM scored
    ) WHERE rnk <= {_TOPK}
    """,
)
def rec_item_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-to-item co-occurrence recommender over order baskets —
    the "customers who bought X also bought Y" precompute: count how
    often two parts share an order, score by lift (observed co-rate
    over the independence expectation), keep the top-5 partners per
    item at min-support {minsup}.

    Plan shape (the 100 TB-honest formulation): baskets are built by
    ONE groupBy(l_orderkey) into a sorted distinct-item array, and
    pairs are generated NARROW with an index-slice transform
    (i < j ⇒ each unordered pair exactly once) — no fact-fact
    self-join, so the quadratic step is bounded by basket size
    (TPC-H ≤ 7 items/order; pairs/order ≤ 21) instead of requiring a
    second fact-scale exchange. Count tables join on l_partkey —
    part-dimension-sized sides AQE is free to broadcast at small SF
    and shuffle at large. Min-support prunes the cooc=1 long tail
    BEFORE the scoring joins, exactly the support-threshold pruning
    a production basket matrix needs at scale.

    Determinism: lift is a ratio of exact integers rounded to the
    1e-6 grid; (cooc DESC, lift DESC, rec ASC) makes row_number
    unambiguous."""
    li = _t(spark, sf_dir, "lineitem")
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("its"))
    )
    arr = F.col("its")
    pair_structs = F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + F.lit(2), F.size(arr)),
                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("cooc"))
        .filter(F.col("cooc") >= _MINSUP)
    )
    sym = pairs.select(
        F.col("pa").alias("item"), F.col("pb").alias("rec"), "cooc"
    ).unionAll(
        pairs.select(
            F.col("pb").alias("item"), F.col("pa").alias("rec"), "cooc"
        )
    )
    # item frequency = how many baskets contain the part — derived from
    # the SAME baskets frame (identical exchange subtree ⇒ Spark plans
    # a ReusedExchange instead of a second fact scan + distinct)
    cnt = (
        baskets.select(F.explode("its").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").alias("c"))
    )
    n = baskets.agg(
        F.count("*").cast("double").alias("n_orders")
    )
    scored = (
        sym.join(cnt.withColumnRenamed("l_partkey", "item"), "item")
        .withColumnRenamed("c", "ca")
        .join(
            cnt.withColumnRenamed("l_partkey", "rec").withColumnRenamed(
                "c", "cb"
            ),
            "rec",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "item",
            "rec",
            "cooc",
            F.round(
                F.col("cooc") * F.col("n_orders") / (F.col("ca") * F.col("cb")),
                6,
            ).alias("lift"),
        )
    )
    wr = Window.partitionBy("item").orderBy(
        F.col("cooc").desc(), F.col("lift").desc(), F.col("rec").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= _TOPK)
        .select("item", "rec", "cooc", "lift", F.col("rnk").cast("int"))
    )


rec_item_affinity.__doc__ = rec_item_affinity.__doc__.replace(
    "{minsup}", str(_MINSUP)
)

_PSI_SPLIT = "2024-01-16"  # window midpoint: ref = first half, cur = rest
_PSI_BINS = 20
_PSI_W = 25.0  # bin width; values land in [0, ~560], clamped to bin 19


@query(
    "a_psi_drift",
    oracle=f"""
    WITH binned AS (
      SELECT event_type,
             CASE WHEN ts < TIMESTAMP '{_PSI_SPLIT}'
                  THEN 'ref' ELSE 'cur' END AS period,
             CAST(LEAST(GREATEST(FLOOR(value / {_PSI_W}), 0),
                        {_PSI_BINS - 1}) AS BIGINT) AS bin
      FROM events
    ), grid AS (
      SELECT t.event_type, g.bin
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (SELECT CAST(UNNEST(generate_series(0, {_PSI_BINS - 1}))
                              AS BIGINT) AS bin) g
    ), counts AS (
      SELECT g.event_type, g.bin,
             CAST(COUNT(*) FILTER (b.period = 'ref') AS BIGINT) AS n_ref_bin,
             CAST(COUNT(*) FILTER (b.period = 'cur') AS BIGINT) AS n_cur_bin
      FROM grid g LEFT JOIN binned b
        ON b.event_type = g.event_type AND b.bin = g.bin
      GROUP BY 1, 2
    ), tot AS (
      SELECT event_type,
             SUM(n_ref_bin) AS n_ref, SUM(n_cur_bin) AS n_cur
      FROM counts GROUP BY 1
    )
    SELECT c.event_type,
           CAST(t.n_ref AS BIGINT) AS n_ref,
           CAST(t.n_cur AS BIGINT) AS n_cur,
           ROUND(SUM(
             ((c.n_ref_bin + 0.5) / (t.n_ref + {_PSI_BINS / 2.0})
              - (c.n_cur_bin + 0.5) / (t.n_cur + {_PSI_BINS / 2.0}))
             * LN(((c.n_ref_bin + 0.5) / (t.n_ref + {_PSI_BINS / 2.0}))
                  / ((c.n_cur_bin + 0.5) / (t.n_cur + {_PSI_BINS / 2.0})))
           ), 6) AS psi
    FROM counts c JOIN tot t USING (event_type)
    GROUP BY 1, 2, 3
    """,
)
def a_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event_type between the first
    and second half of the event window — the standard
    feature-drift monitor a model-serving pipeline runs per batch
    (PSI < 0.1 stable, 0.1-0.25 moderate shift, > 0.25 drifted).
    Smoothed with +0.5/bin (Laplace) so empty bins on one side
    contribute finite, bounded terms instead of infinities.

    Determinism: binning is the portable fixed-grid arithmetic of
    a_histogram_fixed_bins (FLOOR(value/width) clamped — no
    engine-specific width computation); PSI sums exactly
    {bins} LN terms per type, rounded to the 1e-6 grid. The full
    type×bin grid is materialized on both sides so missing bins
    smooth identically.

    Scale: one fact scan to (type, period, bin) counts — a
    |types|·{bins}·2-cell table; everything after is
    dimension-sized. The grid cross-join is |types|×{bins} rows;
    counts join per (type, bin) key. This is the bounded-state
    shape: the monitor's cost is ONE pass at any corpus size."""
    e = _t(spark, sf_dir, "events")
    binned = e.select(
        "event_type",
        F.when(ts_lt(_PSI_SPLIT), F.lit("ref")).otherwise("cur").alias(
            "period"
        ),
        F.least(
            F.greatest(F.floor(F.col("value") / _PSI_W), F.lit(0)),
            F.lit(_PSI_BINS - 1),
        )
        .cast("long")
        .alias("bin"),
    )
    grid = (
        e.select("event_type")
        .distinct()
        .crossJoin(
            spark.range(_PSI_BINS).select(F.col("id").alias("bin"))
        )
    )
    counts = (
        grid.join(binned, ["event_type", "bin"], "left")
        .groupBy("event_type", "bin")
        .agg(
            F.count(F.when(F.col("period") == "ref", 1)).alias("n_ref_bin"),
            F.count(F.when(F.col("period") == "cur", 1)).alias("n_cur_bin"),
        )
    )
    # per-type totals via a window over the |types|x|bins| counts table
    # (a tot-table self-join would duplicate the whole counts subtree —
    # plan-pinned in test_plans: <= 2 fact scans)
    wt = Window.partitionBy("event_type")
    with_tot = counts.withColumn(
        "n_ref", F.sum("n_ref_bin").over(wt)
    ).withColumn("n_cur", F.sum("n_cur_bin").over(wt))
    half = _PSI_BINS / 2.0
    p = (F.col("n_ref_bin") + 0.5) / (F.col("n_ref") + half)
    q = (F.col("n_cur_bin") + 0.5) / (F.col("n_cur") + half)
    return with_tot.groupBy("event_type", "n_ref", "n_cur").agg(
        F.round(F.sum((p - q) * F.log(p / q)), 6).alias("psi")
    )


a_psi_drift.__doc__ = a_psi_drift.__doc__.replace("{bins}", str(_PSI_BINS))


def ts_lt(date_str: str):
    """``ts < TIMESTAMP 'date_str'`` with identical semantics on both
    engines (timestamps compare exactly; no epoch truncation needed)."""
    return F.col("ts") < F.to_timestamp(F.lit(date_str))


@query(
    "a_mann_kendall",
    oracle="""
    WITH hourly AS (
      SELECT event_type, CAST(FLOOR(EPOCH(ts) / 3600) AS BIGINT) AS h,
             ROUND(SUM(value), 6) AS y
      FROM events GROUP BY 1, 2
    ), s AS (
      SELECT a.event_type,
             CAST(SUM(SIGN(b.y - a.y)) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM hourly a JOIN hourly b USING (event_type)
      WHERE b.h > a.h
      GROUP BY 1
    ), n AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM hourly GROUP BY 1
    ), ties AS (
      SELECT event_type,
             SUM(t * (t - 1.0) * (2.0 * t + 5.0)) AS tie_term
      FROM (
        SELECT event_type, y, CAST(COUNT(*) AS DOUBLE) AS t
        FROM hourly GROUP BY 1, 2
      ) GROUP BY 1
    ), var AS (
      SELECT n.event_type, n.n, s.s, s.n_pairs,
             (n.n * (n.n - 1.0) * (2.0 * n.n + 5.0)
              - COALESCE(ties.tie_term, 0.0)) / 18.0 AS v
      FROM n JOIN s USING (event_type)
      LEFT JOIN ties USING (event_type)
    )
    SELECT event_type, n, s, n_pairs,
           ROUND(CASE WHEN s > 0 THEN (s - 1) / SQRT(v)
                      WHEN s < 0 THEN (s + 1) / SQRT(v)
                      ELSE 0.0 END, 6) AS z,
           CASE WHEN (CASE WHEN s > 0 THEN (s - 1) / SQRT(v)
                           WHEN s < 0 THEN (s + 1) / SQRT(v)
                           ELSE 0.0 END) > 1.959964 THEN 'increasing'
                WHEN (CASE WHEN s > 0 THEN (s - 1) / SQRT(v)
                           WHEN s < 0 THEN (s + 1) / SQRT(v)
                           ELSE 0.0 END) < -1.959964 THEN 'decreasing'
                ELSE 'no_trend' END AS trend
    FROM var
    """,
)
def a_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per event_type over the hourly revenue
    series — the non-parametric significance companion to
    a_theil_sen's robust slope (same hourly grid, same pair
    structure): S = Σ sign(y_j − y_i) for i<j, variance with the
    standard tie correction Σ t(t−1)(2t+5), continuity-corrected
    z, two-sided 5% verdict.

    Determinism: the hourly y sits on a 1e-6 ROUND grid before any
    comparison, so every SIGN() agrees cross-engine; S and the tie
    counts are exact integers; z is one SQRT+divide on those
    integers, rounded to the 1e-6 grid.

    Scale: identical envelope to a_theil_sen — the pair join is
    quadratic in SERIES LENGTH (H ≈ 720/month ⇒ ≤ ~260k pairs per
    group·month), not corpus size, and the hourly table is
    dimension-sized after the one fact-scan aggregate. Coarsen the
    grain for multi-year windows; the fact scan stays single-pass."""
    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("h"),
    ).agg(F.round(F.sum("value"), 6).alias("y"))
    a = hourly.alias("a")
    b = hourly.alias("b")
    s = (
        a.join(b, ["event_type"])
        .where(F.col("b.h") > F.col("a.h"))
        .groupBy("event_type")
        .agg(
            F.sum(F.signum(F.col("b.y") - F.col("a.y")))
            .cast("long")
            .alias("s"),
            F.count("*").alias("n_pairs"),
        )
    )
    n = hourly.groupBy("event_type").agg(F.count("*").alias("n"))
    ties = (
        hourly.groupBy("event_type", "y")
        .agg(F.count("*").cast("double").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1.0) * (2.0 * F.col("t") + 5.0)
            ).alias("tie_term")
        )
    )
    var = (
        n.join(s, "event_type")
        .join(ties, "event_type", "left")
        .withColumn(
            "v",
            (
                F.col("n") * (F.col("n") - 1.0) * (2.0 * F.col("n") + 5.0)
                - F.coalesce(F.col("tie_term"), F.lit(0.0))
            )
            / 18.0,
        )
    )
    z = (
        F.when(F.col("s") > 0, (F.col("s") - 1) / F.sqrt("v"))
        .when(F.col("s") < 0, (F.col("s") + 1) / F.sqrt("v"))
        .otherwise(0.0)
    )
    return var.select(
        "event_type",
        "n",
        "s",
        "n_pairs",
        F.round(z, 6).alias("z"),
        F.when(z > 1.959964, "increasing")
        .when(z < -1.959964, "decreasing")
        .otherwise("no_trend")
        .alias("trend"),
    )
