"""Breadth batch 2 (SURVEY.md stage 3 cont.): grouped normalization
(A8), interval join (J6), map/JSON surface, multiset set-ops, and the
remaining classic TPC-H query shapes (correlated subqueries, HAVING,
conditional aggregation, disjunctive predicates, scalar subqueries,
year-over-year windows) — each with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load as _t
from ..operators import interval, normalize
from .registry import query


@query(
    "a8_group_normalize",
    oracle="""
    SELECT event_id,
           ROUND((value - AVG(value) OVER (PARTITION BY event_type))
                 / STDDEV_SAMP(value) OVER (PARTITION BY event_type), 4) AS z
    FROM events
    """,
)
def a8_group_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: per-group standardization — window-aggregate form (one
    shuffle, no Python). The applyInPandas twin is
    operators.normalize.zscore_pandas; tests assert they agree."""
    e = _t(spark, sf_dir, "events")
    return normalize.zscore_window(e, "event_type", "value").select("event_id", "z")


@query(
    "j6_interval_join",
    oracle="""
    SELECT band_id, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
    FROM events
    JOIN (VALUES (1, 0.0, 100.0), (2, 100.0, 200.0),
                 (3, 50.0, 150.0), (4, 200.0, 500.0))
         AS bands(band_id, lo, hi)
      ON value >= lo AND value < hi
    GROUP BY band_id
    """,
)
def j6_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: point-in-interval join via grid bucketing + equi-join +
    residual predicate (operators.interval) — the scalable replacement
    for a nested-loop range join; overlapping intervals multi-match."""
    e = _t(spark, sf_dir, "events")
    from .. import catalog as _cat

    bands = _cat.local_df(
        spark,
        [(1, 0.0, 100.0), (2, 100.0, 200.0), (3, 50.0, 150.0), (4, 200.0, 500.0)],
        "band_id int, lo double, hi double",
    )
    joined = interval.interval_join(
        e, bands, point_col="value", lo_col="lo", hi_col="hi", grid=100.0
    )
    return joined.groupBy("band_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@query(
    "f_map_functions",
    oracle="""
    SELECT event_id,
           array_to_string(json_keys(props), ',') AS keys_str,
           CAST(LEN(json_keys(props)) AS INT) AS n_keys,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
    FROM events
    """,
)
def f_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 map surface: parse the JSON payload into MapType, then
    map_keys/size/element access."""
    e = _t(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return e.select(
        "event_id",
        F.array_join(F.map_keys(m), ",").alias("keys_str"),
        F.size(F.map_keys(m)).cast("int").alias("n_keys"),
        m.getItem("k").alias("k_val"),
    )


@query(
    "set_except_all",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'click'
    EXCEPT ALL
    SELECT user_id FROM events WHERE event_type = 'purchase'
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 multiset difference (bag semantics — each purchase cancels
    ONE click occurrence)."""
    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("user_id")
    buys = e.filter(F.col("event_type") == "purchase").select("user_id")
    return clicks.exceptAll(buys)


@query(
    "tpch_q4_late_orders",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
    GROUP BY o_orderpriority
    """,
)
def tpch_q4_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: EXISTS with a correlated non-equi condition → left-semi
    join with a compound predicate."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    cond = (o.o_orderkey == li.l_orderkey) & (
        li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 30 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


@query(
    "tpch_q12_conditional_agg",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE l_quantity > 30) AS high_qty_lines,
           COUNT(*) FILTER (WHERE l_quantity <= 30) AS low_qty_lines,
           ROUND(SUM(CASE WHEN l_returnflag = 'R'
                          THEN l_extendedprice ELSE 0 END), 2) AS returned_value
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def tpch_q12_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: conditional aggregation (FILTER / CASE inside agg)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count_if(F.col("l_quantity") > 30).alias("high_qty_lines"),
            F.count_if(F.col("l_quantity") <= 30).alias("low_qty_lines"),
            F.round(
                F.sum(
                    F.when(F.col("l_returnflag") == "R", F.col("l_extendedprice"))
                    .otherwise(0.0)
                ),
                2,
            ).alias("returned_value"),
        )
    )


@query(
    "tpch_q14_promo_revenue",
    oracle="""
    SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1996-07-01'
    """,
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: ratio of conditional aggregates over a dim join."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-07-01")
    )
    p = _t(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(0.0))
                / F.sum(disc),
                4,
            ).alias("promo_pct")
        )
    )


@query(
    "tpch_q17_small_qty_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem
    JOIN (SELECT l_partkey AS pk, 0.2 * AVG(l_quantity) AS qty_lim
          FROM lineitem GROUP BY l_partkey) t
      ON l_partkey = pk
    WHERE l_quantity < qty_lim
    """,
)
def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: correlated aggregate subquery decorrelated into a
    self-join against per-key averages."""
    li = _t(spark, sf_dir, "lineitem")
    lims = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (0.2 * F.avg("l_quantity")).alias("qty_lim")
    )
    return (
        li.join(lims, li.l_partkey == lims.pk)
        .filter(F.col("l_quantity") < F.col("qty_lim"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@query(
    "tpch_q18_large_orders",
    oracle="""
    SELECT c_name, o_orderkey, o_totalprice, ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY c_name, o_orderkey, o_totalprice
    HAVING SUM(l_quantity) > 120
    """,
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: multi-join → agg → HAVING filter on the aggregate."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_name", "o_orderkey", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 120)
    )


@query(
    "tpch_q19_disjunctive",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 1 AND l_quantity <= 20)
       OR (p_brand = 'Brand#7' AND p_size BETWEEN 10 AND 30 AND l_quantity >= 10 AND l_quantity <= 30)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 20 AND 50 AND l_quantity >= 20 AND l_quantity <= 40)
    """,
)
def tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: OR-of-ANDs predicates across both join sides —
    exercises Catalyst's CNF conversion / predicate handling."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#7")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return j.filter(cond).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue")
    )


@query(
    "tpch_q22_idle_customers",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_customers,
           ROUND(SUM(c_acctbal), 2) AS sum_bal
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    """,
)
def tpch_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: scalar aggregate subquery + anti-join (against the
    customer's urgent orders — the fixture has no order-less customers,
    so a bare anti-join would hash-check an empty set)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    # Scalar avg-balance subquery as a broadcast 1-row cross join (the
    # Q11 pattern) — no eager .collect() / extra customer scan at
    # query-construction time.
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("ab"))
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
        )
    )


@query(
    "w_yoy_revenue",
    oracle="""
    WITH yearly AS (
      SELECT CAST(YEAR(l_shipdate) AS BIGINT) AS ship_year,
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
      FROM lineitem GROUP BY 1
    )
    SELECT ship_year, revenue,
           ROUND(revenue - LAG(revenue) OVER (ORDER BY ship_year), 4) AS yoy_delta
    FROM yearly
    """,
)
def w_yoy_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2/W3 composite: aggregate to one row per year, then lag for
    year-over-year deltas (window over an aggregate)."""
    li = _t(spark, sf_dir, "lineitem")
    yearly = (
        li.groupBy(F.year("l_shipdate").cast("long").alias("ship_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )
    # one row per YEAR after the aggregate — a single-partition window
    # is by design; the constant partition key keeps the identical plan
    # while silencing WindowExec's "No Partition Defined" warning
    from ..operators.ranks import constant_partition_key

    w = Window.partitionBy(constant_partition_key(F.col("ship_year"))).orderBy(
        "ship_year"
    )
    return yearly.select(
        "ship_year",
        "revenue",
        F.round(F.col("revenue") - F.lag("revenue").over(w), 4).alias("yoy_delta"),
    )


@query(
    "t_rollup_time_multires",
    oracle="""
    SELECT COALESCE(CAST(EPOCH(DATE_TRUNC('day', ts)) AS BIGINT), -1) AS day_epoch,
           COALESCE(CAST(EPOCH(DATE_TRUNC('hour', ts)) AS BIGINT), -1) AS hour_epoch,
           COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY ROLLUP (DATE_TRUNC('day', ts), DATE_TRUNC('hour', ts))
    """,
)
def t_rollup_time_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution time rollup: one Expand pass
    produces hour-, day-, and total-grain aggregates (the continuous-
    aggregate pattern, batch form)."""
    e = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    hour = F.date_trunc("hour", "ts")
    return (
        e.rollup(day.alias("d"), hour.alias("h"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.coalesce(F.unix_timestamp("d"), F.lit(-1)).alias("day_epoch"),
            F.coalesce(F.unix_timestamp("h"), F.lit(-1)).alias("hour_epoch"),
            "n",
            "sum_value",
        )
    )


@query(
    "p_sample_deterministic",
    oracle="""
    SELECT COUNT(*) AS n_sampled,
           COUNT(DISTINCT user_id) AS n_users,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    WHERE (event_id * 2654435761) % 4294967296 % 100 < 10
    """,
)
def p_sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~10% sample via the portable multiplicative-hash
    bucket (engine-independent, unlike TABLESAMPLE/df.sample, whose
    row selection is partition-order-dependent)."""
    from ..functions.columns import portable_bucket

    e = _t(spark, sf_dir, "events")
    return e.filter(portable_bucket(F.col("event_id"), 100) < 10).agg(
        F.count("*").alias("n_sampled"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@query(
    "f_posexplode",
    oracle=r"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> len(x) > 0) AS ws
      FROM documents WHERE doc_id < 50
    )
    SELECT doc_id,
           CAST(UNNEST(generate_series(1, LEN(ws))) - 1 AS INT) AS pos,
           UNNEST(ws) AS tok
    FROM w
    """,
)
def f_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 explode surface: token stream with positions (the
    flatten-to-rows shape every tokenization pipeline needs)."""
    from ..operators.text import words

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return d.select(
        "doc_id", F.posexplode(words("text")).alias("pos", "tok")
    )


@query(
    "udaf_geometric_mean",
    oracle="""
    SELECT event_type,
           ROUND(EXP(AVG(LN(1 + value))) - 1, 4) AS geo_mean_value
    FROM events GROUP BY event_type
    """,
)
def udaf_geometric_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 grouped-aggregate pandas_udf (Arrow UDAF) — geometric
    mean per group, verified against the closed-form SQL identity."""
    from ..operators.udfs import geometric_mean_udaf

    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(geometric_mean_udaf("value"), 4).alias("geo_mean_value")
    )


@query(
    "udf_vector_norm",
    oracle="""
    SELECT vec_id,
           ROUND(SQRT(list_aggregate(list_transform(
                 CAST(embedding AS DOUBLE[]), x -> x * x), 'sum')), 4)
             AS l2_norm
    FROM embeddings
    """,
)
def udf_vector_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 SCALAR pandas_udf (Arrow-batched, numpy inside) with a
    closed-form SQL oracle — upgrades the scalar-UDF row from
    rows-only (the LSH signatures) to hash-verified."""
    from ..operators.udfs import l2_norm_udf

    e = _t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.round(l2_norm_udf(F.col("embedding").cast("array<double>")), 4).alias(
            "l2_norm"
        ),
    )


@query(
    "udtf_token_explode",
    oracle=r"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> len(x) > 0) AS ws
      FROM documents WHERE doc_id < 30
    )
    SELECT doc_id,
           CAST(UNNEST(generate_series(1, LEN(ws))) - 1 AS INT) AS pos,
           UNNEST(ws) AS tok
    FROM w
    """,
)
def udtf_token_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 Python UDTF (1→N generator, lateral-join machinery)."""
    from ..operators.udfs import token_explode_udtf

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    return d.lateralJoin(
        token_explode_udtf(F.col("doc_id").outer(), F.col("text").outer())
    ).select("pos", "tok", d.doc_id)


@query(
    "set_intersect_all",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'click'
    INTERSECT ALL
    SELECT user_id FROM events WHERE event_type = 'view'
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 multiset intersection (bag semantics)."""
    e = _t(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "click").select("user_id")
    b = e.filter(F.col("event_type") == "view").select("user_id")
    return a.intersectAll(b)


@query(
    "tpch_q7_nation_volume",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(YEAR(l_shipdate) AS BIGINT) AS ship_year,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    GROUP BY 1, 2, 3
    """,
)
def tpch_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: bidirectional nation-pair trade volume by year — the
    same dim table joined twice under different roles."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("ship_year")
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "revenue"
        )
    )


@query(
    "tpch_q8_market_share",
    oracle="""
    WITH vol AS (
      SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n1.n_name AS supp_nation
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      JOIN region   ON n2.n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    )
    SELECT o_year,
           ROUND(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
                 / SUM(volume), 6) AS mkt_share
    FROM vol GROUP BY o_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: one nation's market share inside a region per year
    (conditional-sum ratio over a 7-table join)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_rkey")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    vol = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_rkey") == F.col("r_regionkey"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
            "supp_nation",
        )
    )
    return vol.groupBy("o_year").agg(
        F.round(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(
                    0.0
                )
            )
            / F.sum("volume"),
            6,
        ).alias("mkt_share")
    )


@query(
    "tpch_q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: top-20 customers by returned-item revenue."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "tpch_q13_order_histogram",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey) t
    GROUP BY c_count
    """,
)
def tpch_q13_order_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape: customer order-count distribution (left join keeps
    zero-order customers; two-level aggregation)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    counts = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return counts.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "tpch_q15_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: revenue view + scalar-max filter (ties kept).

    The scalar max joins back as a broadcast 1-row cross join (the Q11
    pattern) — one lazy DAG, no driver-side collect at plan-build time,
    and the per-supplier aggregate exchange is reused for the max branch
    (ReusedExchange) instead of re-scanning lineitem."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
        # Explicit null filter so both consumers of `rev` (the join
        # branch, which gets isnotnull injected by the join, and the
        # max branch, which wouldn't) plan IDENTICAL subtrees — that
        # identity is what lets ReuseExchange kick in.
        & F.col("l_suppkey").isNotNull()
    )
    s = _t(spark, sf_dir, "supplier")
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("max_rev"))
    return (
        s.join(rev, s.s_suppkey == rev.supplier_no)
        .join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_rev"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "tpch_q16_supplier_counts",
    oracle="""
    SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_size IN (5, 10, 15, 20, 25, 30, 35, 40, 45, 50)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 8000)
    GROUP BY p_brand, p_size
    """,
)
def tpch_q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: distinct-count grouped by part attributes with a
    NOT-IN exclusion subquery (anti-join)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(5, 10, 15, 20, 25, 30, 35, 40, 45, 50)
    )
    excluded = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 8000)
        .select(F.col("s_suppkey").alias("x_key"))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(excluded), li.l_suppkey == excluded.x_key, "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "w5_range_frame",
    oracle="""
    SELECT o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey
             ORDER BY CAST(EPOCH(o_orderdate) AS BIGINT) / 86400
             RANGE BETWEEN 30 PRECEDING AND 30 FOLLOWING), 2) AS spend_61d
    FROM orders
    """,
)
def w5_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 range-frame variant: per customer, total spend within a
    ±30-day value window of each order (RANGE, not ROWS — peers are
    chosen by value distance, so ties and gaps behave correctly)."""
    o = _t(spark, sf_dir, "orders")
    day = (F.unix_timestamp("o_orderdate") / 86400).cast("long")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day)
        .rangeBetween(-30, 30)
    )
    return o.select(
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("spend_61d"),
    )


@query(
    "w6_first_last",
    oracle="""
    SELECT DISTINCT o_custkey,
           FIRST_VALUE(o_totalprice) OVER w AS first_price,
           LAST_VALUE(o_totalprice)  OVER w AS last_price,
           NTH_VALUE(o_totalprice, 2) OVER w AS second_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def w6_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: first/last/nth order price per customer over the full
    partition frame (one row per customer via distinct)."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    ).distinct()


@query(
    "tpch_q21_sole_late_supplier",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    """,
)
def tpch_q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: EXISTS + NOT EXISTS correlated on the same fact table
    — suppliers who were the ONLY late supplier on a multi-supplier
    order. Decorrelated as semi- and anti-joins against per-order
    other-supplier lineitems."""
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = _t(spark, sf_dir, "lineitem")
    l1 = (
        li.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(o.select("o_orderkey", "o_orderdate"), F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey", "o_orderdate")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    # EXISTS: another supplier on the same order
    has_other = l1.join(
        l2, (l1.l_orderkey == l2.k2) & (l1.l_suppkey != l2.s2), "left_semi"
    )
    # NOT EXISTS: no OTHER supplier was also late on that order
    l3 = (
        li.select(
            F.col("l_orderkey").alias("k3"),
            F.col("l_suppkey").alias("s3"),
            F.col("l_shipdate").alias("d3"),
        )
    )
    sole_late = has_other.join(
        l3,
        (has_other.l_orderkey == l3.k3)
        & (has_other.l_suppkey != l3.s3)
        & (l3.d3 > has_other.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_anti",
    )
    return (
        sole_late.join(F.broadcast(s), sole_late.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


@query(
    "tpch_q2_min_cost_match",
    oracle="""
    WITH costs AS (
      SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS min_price
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), best AS (
      SELECT l_partkey, MIN(min_price) AS best_price
      FROM costs GROUP BY l_partkey
    )
    SELECT c.l_partkey AS partkey, s_name,
           ROUND(c.min_price, 2) AS price
    FROM costs c
    JOIN best b ON c.l_partkey = b.l_partkey AND c.min_price = b.best_price
    JOIN supplier ON c.l_suppkey = s_suppkey
    WHERE c.l_partkey < 100
    """,
)
def tpch_q2_min_cost_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: correlated-min subquery — for each part, the
    supplier(s) offering its minimum observed price (min-per-group
    joined back on the min; ties kept, as in TPC-H Q2)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_partkey") < 100)
    s = _t(spark, sf_dir, "supplier")
    costs = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("min_price")
    )
    best = costs.groupBy(F.col("l_partkey").alias("bk")).agg(
        F.min("min_price").alias("best_price")
    )
    return (
        costs.join(
            best,
            (costs.l_partkey == best.bk)
            & (costs.min_price == best.best_price),
        )
        .join(F.broadcast(s), costs.l_suppkey == s.s_suppkey)
        .select(
            F.col("l_partkey").alias("partkey"),
            "s_name",
            F.round("min_price", 2).alias("price"),
        )
    )


@query(
    "tpch_q9_product_profit",
    oracle="""
    SELECT n_name AS nation,
           CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS profit
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN orders ON l_orderkey = o_orderkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, YEAR(o_orderdate)
    """,
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: product-type profit — a 5-table join (fact ⋈ 3
    broadcast dims ⋈ fact) grouped by supplier nation × order year.
    The fixture set has no partsupp, so profit is discounted revenue
    (the join/aggregation topology — Q9's hard part — is unchanged).
    Dims broadcast; the only shuffles are orders⋈lineitem and the
    final 2-key aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("profit")
        )
    )


@query(
    "tpch_q11_important_parts",
    oracle="""
    WITH pv AS (
      SELECT l_partkey AS partkey,
             CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)) * 10000, 0)
                  AS BIGINT) AS value_e4
      FROM lineitem GROUP BY l_partkey
    )
    SELECT partkey,
           CAST(ROUND(value_e4 / 10000.0, 2) AS DOUBLE) AS part_value
    FROM pv, (SELECT SUM(value_e4) AS grand_total, COUNT(*) AS n_parts
              FROM pv) tot
    WHERE value_e4 * n_parts * 10 > grand_total * 12
    """,
)
def tpch_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: parts whose aggregate value exceeds a threshold
    derived from a scalar subquery over the same aggregate (here 1.2×
    the mean part value — scale-invariant, unlike TPC-H's fixed
    fraction, which must be hand-rescaled per SF). The compare is done
    on exact integers (value scaled to the data's 1e-4 grid, summed as
    BIGINT, cross-multiplied) so the boundary can't flip between
    engines on float summation order. Spark plan: one hash
    aggregation, then the 1-row global total is broadcast back (no
    second scan shuffle)."""
    li = _t(spark, sf_dir, "lineitem")
    pv = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000, 0
        )
        .cast("long")
        .alias("value_e4")
    )
    total = pv.agg(
        F.sum("value_e4").alias("grand_total"), F.count("*").alias("n_parts")
    )
    return (
        pv.join(F.broadcast(total))
        .filter(
            F.col("value_e4") * F.col("n_parts") * 10 > F.col("grand_total") * 12
        )
        .select(
            "partkey", F.round(F.col("value_e4") / 10000.0, 2).alias("part_value")
        )
    )


@query(
    "tpch_q20_bulk_suppliers",
    oracle="""
    WITH shipped AS (
      SELECT l_suppkey, SUM(l_quantity) AS qty
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      WHERE p_name LIKE '%red%'
        AND l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY l_suppkey
      HAVING SUM(l_quantity) > 350
    )
    SELECT s_name, n_name AS nation
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (SELECT l_suppkey FROM shipped)
    """,
)
def tpch_q20_bulk_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: suppliers who shipped bulk quantities of qualifying
    parts in a year — nested IN-subqueries decorrelated into a
    broadcast dim filter + HAVING + left-semi join. The semi join
    means supplier rows are never duplicated, so no final distinct is
    needed (the classic Q20 trap)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    shipped = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 350)
    )
    return (
        s.join(shipped, s.s_suppkey == shipped.l_suppkey, "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select("s_name", F.col("n_name").alias("nation"))
    )


@query(
    "j6b_interval_left",
    oracle="""
    SELECT e.event_id, bands.band_id,
           CASE WHEN bands.band_id IS NULL THEN 1 ELSE 0 END AS unbanded
    FROM events e
    LEFT JOIN (VALUES (1, 0.0, 100.0), (2, 100.0, 200.0))
         AS bands(band_id, lo, hi)
      ON e.value >= bands.lo AND e.value < bands.hi
    """,
)
def j6b_interval_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 left-outer variant: points outside every interval survive
    with a NULL band — correct only because the residual range
    predicate lives IN the join condition (a post-join filter would
    drop the null rows, silently degrading left to inner — the r01
    ADVICE finding, now oracle-pinned). Each point carries exactly one
    grid cell, so an unmatched point surfaces exactly once."""
    e = _t(spark, sf_dir, "events")
    from .. import catalog as _cat

    bands = _cat.local_df(
        spark,
        [(1, 0.0, 100.0), (2, 100.0, 200.0)],
        "band_id int, lo double, hi double",
    )
    joined = interval.interval_join(
        e, bands, point_col="value", lo_col="lo", hi_col="hi",
        grid=100.0, how="left",
    )
    return joined.select(
        "event_id",
        "band_id",
        F.when(F.col("band_id").isNull(), F.lit(1)).otherwise(F.lit(0)).alias(
            "unbanded"
        ),
    )
