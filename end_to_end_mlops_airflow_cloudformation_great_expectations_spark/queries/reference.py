"""Reference-parity operators (SURVEY.md §2 rows tagged [R], stage 2).

These re-express the transformations evidenced in the reference's
Parquet outputs (/root/reference/source_data/ — one-hot encoding,
datetime features, haversine distance, 80/20 split, row provenance) and
its Great-Expectations validation role, each over the driver's star
schema with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load as _t
from ..operators import encode, geo
from .registry import query

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "a4_onehot_encode",
    oracle="""
    SELECT event_id,
           CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END AS et_click,
           CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END AS et_error,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS et_purchase,
           CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END AS et_signup,
           CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END AS et_view
    FROM events
    """,
)
def a4_onehot_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: per-row one-hot with explicit sorted vocabulary — the
    reference's get_dummies semantics (train.parquet's 717 indicator
    columns, row-sum ∈ {0,1}) without data-dependent schema."""
    e = _t(spark, sf_dir, "events")
    return encode.one_hot(
        e.select("event_id", "event_type"), "event_type", EVENT_TYPES, prefix="et"
    ).drop("event_type")


@query(
    "a4_pivot_agg",
    oracle="""
    SELECT user_id,
           COALESCE(ROUND(SUM(value) FILTER (WHERE event_type = 'click'), 2), 0)    AS click,
           COALESCE(ROUND(SUM(value) FILTER (WHERE event_type = 'error'), 2), 0)    AS error,
           COALESCE(ROUND(SUM(value) FILTER (WHERE event_type = 'purchase'), 2), 0) AS purchase,
           COALESCE(ROUND(SUM(value) FILTER (WHERE event_type = 'signup'), 2), 0)   AS signup,
           COALESCE(ROUND(SUM(value) FILTER (WHERE event_type = 'view'), 2), 0)     AS view
    FROM events GROUP BY user_id
    """,
)
def a4_pivot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: aggregating pivot with explicit vocab (no extra distinct
    job; fixed column order; one shuffle on the group key)."""
    e = _t(spark, sf_dir, "events")
    piv = encode.pivot_agg(
        e,
        ["user_id"],
        "event_type",
        EVENT_TYPES,
        F.round(F.sum("value"), 2),
        fill=0,
    )
    return piv


@query(
    "a5_datetime_features",
    oracle="""
    SELECT event_id,
           ROUND(HOUR(ts) + MINUTE(ts) / 60.0 + SECOND(ts) / 3600.0, 6) AS frac_hour,
           DAYNAME(ts) AS weekday_name,
           CAST(QUARTER(ts) AS BIGINT) AS q,
           CAST(YEAR(ts) * 100 + MONTH(ts) AS BIGINT) AS yyyymm
    FROM events
    """,
)
def a5_datetime_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: the reference's evidenced datetime features — fractional
    hour (train.parquet ``hour`` = h + m/60 + s/3600, verified values
    like 18.9397), weekday name, quarter."""
    e = _t(spark, sf_dir, "events")
    frac_hour = (
        F.hour("ts") + F.minute("ts") / 60.0 + F.second("ts") / 3600.0
    )
    return e.select(
        "event_id",
        F.round(frac_hour, 6).alias("frac_hour"),
        F.date_format("ts", "EEEE").alias("weekday_name"),
        F.quarter("ts").cast("long").alias("q"),
        (F.year("ts") * 100 + F.month("ts")).cast("long").alias("yyyymm"),
    )


@query(
    "a6_haversine",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(2.0 * 6371.0 * ASIN(SQRT(
               SIN(RADIANS(l_tax * 100 - l_quantity) / 2) *
               SIN(RADIANS(l_tax * 100 - l_quantity) / 2) +
               COS(RADIANS(l_quantity)) * COS(RADIANS(l_tax * 100)) *
               SIN(RADIANS(l_linenumber - l_discount * 100) / 2) *
               SIN(RADIANS(l_linenumber - l_discount * 100) / 2)
           )), 4) AS dist_km
    FROM lineitem
    """,
)
def a6_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: haversine distance (the reference's ``distance`` feature) as
    pure column math over pseudo-coordinates derived from lineitem
    columns (testdata has no lat/lon; the formula is what's under
    test). Zero UDFs — stays inside whole-stage codegen."""
    li = _t(spark, sf_dir, "lineitem")
    dist = geo.haversine_km(
        F.col("l_quantity"),
        F.col("l_discount") * 100,
        F.col("l_tax") * 100,
        F.col("l_linenumber"),
    )
    return li.select(
        "l_orderkey", "l_linenumber", F.round(dist, 4).alias("dist_km")
    )


@query(
    "a7_hash_split",
    oracle="""
    SELECT split,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM (
      SELECT o_totalprice,
             CASE WHEN (o_orderkey * 2654435761) % 4294967296 % 100 < 80
                  THEN 'train' ELSE 'test' END AS split
      FROM orders) t
    GROUP BY split
    """,
)
def a7_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: reproducible 80/20 split — multiplicative hash on the stable
    key, engine-portable (reference evidence: 1046/262 ≈ 80:20 split
    done once on the full table; randomSplit would be
    partition-order-dependent and unreproducible cross-engine)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.withColumn("split", encode.hash_split_col(F.col("o_orderkey")))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


@query(
    "a13_expectation_metrics",
    oracle="""
    SELECT COUNT(*) AS row_count,
           COUNT(*) FILTER (WHERE value IS NULL) AS nulls_value,
           COUNT(value) - COUNT(DISTINCT event_id) AS dupes_event_id,
           COUNT(*) FILTER (WHERE event_type NOT IN
               ('click', 'error', 'purchase', 'signup', 'view')) AS outside_set_event_type,
           ROUND(MIN(value), 2) AS min_value,
           ROUND(MAX(value), 2) AS max_value
    FROM events
    """,
)
def a13_expectation_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: the Great-Expectations role — null-rate / uniqueness /
    set-membership / range metrics in ONE aggregate pass (GX re-scans
    per expectation; ``observe``-style metrics ride along for free).
    The gate itself (hard fail on violation) is
    ``operators.expectations.Suite.validate``; this query exposes the
    metric computation for the oracle."""
    e = _t(spark, sf_dir, "events")
    return e.agg(
        F.count(F.lit(1)).alias("row_count"),
        F.count_if(F.col("value").isNull()).alias("nulls_value"),
        (F.count("value") - F.countDistinct("event_id")).alias("dupes_event_id"),
        F.count_if(~F.col("event_type").isin(*EVENT_TYPES)).alias(
            "outside_set_event_type"
        ),
        F.round(F.min("value"), 2).alias("min_value"),
        F.round(F.max("value"), 2).alias("max_value"),
    )


@query(
    "p6_row_provenance",
    oracle="""
    SELECT row_id, o_orderkey, o_orderstatus FROM (
      SELECT o_orderkey, o_orderstatus,
             ROW_NUMBER() OVER (ORDER BY o_orderkey) AS row_id
      FROM orders) t
    WHERE o_orderstatus = 'F'
    """,
)
def p6_row_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: row-provenance column surviving a filter — the reference's
    ``__index_level_0__`` (verified: per-vendor files carry the
    positional index into the full table). Spark has no stable row
    order, so provenance is an explicit deterministic numbering over a
    declared sort key, assigned BEFORE downstream filtering — via the
    distributed numbering (``operators.ranks``), not a one-task global
    window."""
    from ..operators.ranks import global_row_number

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    return (
        global_row_number(
            o,
            sort_cols=[F.asc("o_orderkey")],
            key_cols=[F.col("o_orderkey")],
            out_col="row_id",
        )
        .filter(F.col("o_orderstatus") == "F")
        .select("row_id", "o_orderkey", "o_orderstatus")
    )


@query(
    "j5_asof_join",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, o.o_orderkey AS last_orderkey
    FROM events e
    ASOF LEFT JOIN o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def j5_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: as-of join — for each event, the latest order of the same
    user at-or-before the event time. Union+window implementation (one
    shuffle on the key; running state is one value per key, so it
    scales to arbitrary history length). Right side deduplicated to one
    row per (key, time) so the match is deterministic."""
    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
        .withColumnRenamed("o_custkey", "user_id")
    )
    from ..operators.asof import asof_join

    joined = asof_join(
        e, o, on="user_id", left_time="ts", right_time="o_orderdate",
        payload=["o_orderkey"],
    )
    return joined.select(
        "event_id", "user_id", F.col("o_orderkey").alias("last_orderkey")
    )


@query(
    "a4_unpivot_roundtrip",
    oracle="""
    WITH wide AS (
      SELECT user_id,
             COALESCE(ROUND(SUM(value) FILTER (WHERE event_type = 'click'), 2), 0)    AS click,
             COALESCE(ROUND(SUM(value) FILTER (WHERE event_type = 'purchase'), 2), 0) AS purchase
      FROM events GROUP BY user_id
    )
    SELECT user_id, category, flag FROM (
      SELECT user_id, 'click' AS category, click AS flag FROM wide
      UNION ALL
      SELECT user_id, 'purchase' AS category, purchase AS flag FROM wide
    ) t
    """,
)
def a4_unpivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 inverse: pivot to wide, then native ``unpivot`` back to long
    (wide↔long round trip; the long form is the at-scale
    representation, SURVEY.md §1.4)."""
    from ..operators import encode

    e = _t(spark, sf_dir, "events")
    wide = encode.pivot_agg(
        e, ["user_id"], "event_type", ["click", "purchase"],
        F.round(F.sum("value"), 2), fill=0,
    )
    return encode.unpivot_onehot(wide, ["user_id"], ["click", "purchase"])


@query(
    "j5b_asof_forward",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, o.o_orderkey AS next_orderkey
    FROM events e
    ASOF LEFT JOIN o
      ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
    """,
)
def j5b_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 forward direction: for each event, the EARLIEST order of the
    same user at-or-after the event time (the "next treatment after
    exposure" shape). Same union+window machinery as backward, with
    the frame flipped to currentRow→following and first()."""
    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
        .withColumnRenamed("o_custkey", "user_id")
    )
    from ..operators.asof import asof_join

    joined = asof_join(
        e, o, on="user_id", left_time="ts", right_time="o_orderdate",
        payload=["o_orderkey"], direction="forward",
    )
    return joined.select(
        "event_id", "user_id", F.col("o_orderkey").alias("next_orderkey")
    )


@query(
    "j5c_asof_tolerance",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id,
           CASE WHEN e.ts - o.o_orderdate <= INTERVAL 7 DAY
                THEN o.o_orderkey END AS recent_orderkey
    FROM events e
    ASOF LEFT JOIN o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def j5c_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 with tolerance: latest same-user order at-or-before the
    event, but only if within 7 days — merge_asof's tolerance
    semantics (stale matches become NULL, the row survives). The
    matched right-time rides inside the carry struct so the bound is
    checked without a second join."""
    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
        .withColumnRenamed("o_custkey", "user_id")
    )
    from ..operators.asof import asof_join

    joined = asof_join(
        e, o, on="user_id", left_time="ts", right_time="o_orderdate",
        payload=["o_orderkey"], direction="backward",
        tolerance=F.expr("INTERVAL 7 DAYS"),
    )
    return joined.select(
        "event_id", "user_id", F.col("o_orderkey").alias("recent_orderkey")
    )
