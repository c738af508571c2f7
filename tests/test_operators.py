"""Operator-level tests: expectation gates, as-of join variants."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from end_to_end_mlops_airflow_cloudformation_great_expectations_spark import catalog
from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.operators import (
    asof,
    expectations,
)

SF_DIR = "/root/testdata/sf0.001"


def events_suite() -> expectations.Suite:
    return (
        expectations.Suite("events")
        .expect_row_count_between(1)
        .expect_no_nulls("event_id")
        .expect_unique("event_id")
        .expect_values_between("value", 0.0, 1e6)
        .expect_values_in_set(
            "event_type", {"click", "error", "purchase", "signup", "view"}
        )
    )


def test_expectation_suite_passes(spark):
    e = catalog.load(spark, SF_DIR, "events")
    metrics = events_suite().validate(e)
    assert metrics["row_count"] == e.count()
    assert metrics["dupes_event_id"] == 0


def test_expectation_suite_fails_on_violation(spark):
    e = catalog.load(spark, SF_DIR, "events")
    corrupted = e.withColumn(
        "value", F.when(F.col("event_id") == 0, -5.0).otherwise(F.col("value"))
    )
    with pytest.raises(expectations.ExpectationError, match="min_value"):
        (
            expectations.Suite("corrupted")
            .expect("min_value", F.min("value"), lambda v: v >= 0)
            .validate(corrupted)
        )


def test_expectation_observe_is_single_pass(spark):
    e = catalog.load(spark, SF_DIR, "events")
    suite = events_suite()
    observed, obs = suite.attach(e)
    n = observed.count()  # one action materializes metrics
    results = suite.evaluate(obs.get)
    assert all(results.values())
    assert obs.get["row_count"] == n


def _mk_asof_fixture(spark):
    quotes = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 10, 0), 100.0),
            (1, dt.datetime(2024, 1, 1, 11, 0), 101.0),
            (2, dt.datetime(2024, 1, 1, 10, 30), 200.0),
        ],
        "key int, qts timestamp, price double",
    )
    trades = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 10, 30), "t1"),   # -> 100.0
            (1, dt.datetime(2024, 1, 1, 11, 0), "t2"),    # exact match -> 101.0
            (2, dt.datetime(2024, 1, 1, 10, 0), "t3"),    # before any quote -> null
            (3, dt.datetime(2024, 1, 1, 12, 0), "t4"),    # no quotes for key -> null
        ],
        "key int, tts timestamp, tag string",
    )
    return quotes, trades


def test_asof_join_window_impl(spark):
    quotes, trades = _mk_asof_fixture(spark)
    out = asof.asof_join(
        trades, quotes, on="key", left_time="tts", right_time="qts",
        payload=["price"],
    )
    got = {r["tag"]: r["price"] for r in out.collect()}
    assert got == {"t1": 100.0, "t2": 101.0, "t3": None, "t4": None}


def test_asof_join_pandas_impl(spark):
    quotes, trades = _mk_asof_fixture(spark)
    out = asof.asof_join_pandas(
        trades, quotes, on="key", left_time="tts", right_time="qts",
        payload=["price"],
    )
    got = {r["tag"]: r["price"] for r in out.collect()}
    assert got == {"t1": 100.0, "t2": 101.0, "t3": None, "t4": None}


def test_asof_join_carries_legit_null_payload(spark):
    """A right row whose payload VALUE is null must still win as the
    latest match — the struct marker distinguishes 'no right row'
    (null struct) from 'right row with null payload' (r01 ADVICE)."""
    quotes = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 10, 0), 100.0),
            (1, dt.datetime(2024, 1, 1, 11, 0), None),  # latest, null price
        ],
        "key int, qts timestamp, price double",
    )
    trades = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 12, 0), "t1")],
        "key int, tts timestamp, tag string",
    )
    out = asof.asof_join(
        trades, quotes, on="key", left_time="tts", right_time="qts",
        payload=["price"],
    ).collect()
    assert len(out) == 1 and out[0]["price"] is None  # NOT 100.0


def test_asof_impls_agree_on_real_data(spark):
    e = catalog.load(spark, SF_DIR, "events").select("event_id", "user_id", "ts")
    o = (
        catalog.load(spark, SF_DIR, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
        .withColumnRenamed("o_custkey", "user_id")
    )
    a = asof.asof_join(
        e, o, on="user_id", left_time="ts", right_time="o_orderdate",
        payload=["o_orderkey"],
    ).select("event_id", "o_orderkey")
    b = asof.asof_join_pandas(
        e, o, on="user_id", left_time="ts", right_time="o_orderdate",
        payload=["o_orderkey"],
    ).select("event_id", "o_orderkey")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_approx_percentiles_close_to_exact(spark):
    """percentile_approx at accuracy=10000 must land within 1% of the
    exact per-group percentiles (and would drift far outside under a
    broken accuracy setting — accuracy=1 measures ~5-20% off)."""
    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.queries import (
        QUERIES,
    )

    sf = "/root/testdata/sf0.01"
    li = catalog.load(spark, sf, "lineitem")
    approx = {
        r["l_returnflag"]: (r["a50"], r["a95"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias("a50"),
            F.percentile_approx("l_extendedprice", 0.95, 10000).alias("a95"),
        )
        .collect()
    }
    exact = {
        r["l_returnflag"]: (r["p50"], r["p95"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
            F.expr("percentile(l_extendedprice, 0.95)").alias("p95"),
        )
        .collect()
    }
    assert approx.keys() == exact.keys()
    for flag, (a50, a95) in approx.items():
        e50, e95 = exact[flag]
        assert abs(a50 - e50) / e50 < 0.01, (flag, a50, e50)
        assert abs(a95 - e95) / e95 < 0.01, (flag, a95, e95)
    # the registered banded projection must agree: every group TRUE
    banded = QUERIES["a9_approx_percentiles"](spark, sf).collect()
    assert {r["l_returnflag"] for r in banded} == exact.keys()
    assert all(r["p50_ok"] and r["p95_ok"] for r in banded), banded


def test_pagerank_matches_numpy_power_iteration(spark):
    """DataFrame PageRank must match a dense numpy power iteration of
    the same formulation to 1e-9, and rank mass must be conserved on a
    graph with no dangling vertices."""
    import numpy as np

    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.operators.graph import (
        pagerank,
    )

    edges = [  # strongly connected: 0→1→2→3→0 plus chords into 0
        (0, 1), (1, 2), (2, 3), (3, 0), (1, 0), (2, 0),
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["id"]: r["rank"] for r in pagerank(df, iterations=12).collect()
    }

    n, d = 4, 0.85
    deg = {0: 1, 1: 2, 2: 2, 3: 1}
    r = np.full(n, 1.0 / n)
    for _ in range(12):
        nxt = np.full(n, (1 - d) / n)
        for s, t in edges:
            nxt[t] += d * r[s] / deg[s]
        r = nxt
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-9, (i, got[i], r[i])
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert got[0] == max(got.values())  # the hub


def test_ewma_chunked_matches_sequential(spark):
    """The skew-guarded two-stage EWMA (per-day affine segment
    reduction + in-order composition) must agree with the sequential
    grouped-map fold on every user — the algebra is exact, so only
    FP association order separates them."""
    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.operators.udfs import (
        grouped_ewma,
        grouped_ewma_chunked,
    )

    e = catalog.load(spark, "/root/testdata/sf0.01", "events").select(
        "user_id", "ts", "event_id", "value"
    )
    seq = {r["user_id"]: r for r in grouped_ewma(e).collect()}
    chk = {r["user_id"]: r for r in grouped_ewma_chunked(e).collect()}
    assert seq.keys() == chk.keys()
    for uid, s in seq.items():
        c = chk[uid]
        assert c["n_events"] == s["n_events"], uid
        assert abs(c["ewma"] - s["ewma"]) <= 1e-9 * max(
            1.0, abs(s["ewma"])
        ), (uid, c["ewma"], s["ewma"])


def test_ewma_auto_routes_hot_keys_and_matches(spark):
    """grouped_ewma_auto with a tiny threshold forces real traffic
    down BOTH branches (sequential for cold keys, chunked for hot);
    the union must cover every key exactly once and agree with the
    plain sequential fold to FP tolerance."""
    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.operators.udfs import (
        grouped_ewma,
        grouped_ewma_auto,
    )

    e = catalog.load(spark, "/root/testdata/sf0.01", "events").select(
        "user_id", "ts", "event_id", "value"
    )
    seq = {r["user_id"]: r for r in grouped_ewma(e).collect()}
    med = sorted(s["n_events"] for s in seq.values())[len(seq) // 2]
    auto = grouped_ewma_auto(e, hot_key_threshold=med).collect()
    assert len(auto) == len(seq)  # each key from exactly one branch
    for c in auto:
        s = seq[c["user_id"]]
        assert c["n_events"] == s["n_events"]
        assert abs(c["ewma"] - s["ewma"]) <= 1e-9 * max(1.0, abs(s["ewma"]))


def test_segmented_ewma_matches_sequential_and_survives_tiny_batches(spark):
    """The billion-key EWMA shape (mapInPandas, many keys per Arrow
    batch) must agree with the per-key sequential fold on every user.
    Run it twice: with default Arrow batching, and with
    maxRecordsPerBatch=7 so nearly every key RUN SPANS batch
    boundaries — exercising the carry-state fold and the
    emit-only-when-run-ends logic, not just the vectorized interior."""
    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.operators.udfs import (
        grouped_ewma,
        segmented_ewma,
    )

    e = catalog.load(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "ts", "event_id", "value"
    )
    seq = {r["user_id"]: r for r in grouped_ewma(e).collect()}

    def check(rows):
        assert len(rows) == len(seq)
        for c in rows:
            s = seq[c["user_id"]]
            assert c["n_events"] == s["n_events"], c["user_id"]
            assert abs(c["ewma"] - s["ewma"]) <= 1e-9 * max(
                1.0, abs(s["ewma"])
            ), (c["user_id"], c["ewma"], s["ewma"])

    check(segmented_ewma(e).collect())
    batch_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(batch_key)
    try:
        spark.conf.set(batch_key, "7")
        check(segmented_ewma(e).collect())
    finally:
        spark.conf.set(batch_key, old)


def test_fixpoint_operators_reject_empty_inputs(spark):
    """Degenerate inputs fail fast at entry with a ValueError, not
    deep in the arithmetic: pagerank over no edges (1/|V| with
    |V| = 0), personalized_pagerank with no seeds (1/|S|), and
    bpe_merge_rounds with k = 0 (an empty merge table)."""
    from pyspark.sql import types as T

    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.operators.graph import (
        pagerank,
        personalized_pagerank,
    )
    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.operators.text import (
        bpe_merge_rounds,
    )

    edges = spark.createDataFrame([(1, 2), (2, 1)], ["src", "dst"])
    no_edges = spark.createDataFrame(
        [], T.StructType([T.StructField("src", T.LongType()), T.StructField("dst", T.LongType())])
    )
    with pytest.raises(ValueError, match="at least one edge"):
        pagerank(no_edges, iterations=2)
    no_seeds = spark.createDataFrame(
        [], T.StructType([T.StructField("vid", T.LongType())])
    )
    with pytest.raises(ValueError, match="at least one seed"):
        personalized_pagerank(edges, no_seeds, iterations=2)
    docs = spark.createDataFrame([(1, "a b a b")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="k >= 1"):
        bpe_merge_rounds(docs, k=0)
    # the valid inputs still run: ranks over the 2-cycle stay uniform
    ranks = sorted(tuple(r) for r in pagerank(edges, iterations=2).collect())
    assert [i for i, _ in ranks] == [1, 2]
    assert [r for _, r in ranks] == pytest.approx([0.5, 0.5])
