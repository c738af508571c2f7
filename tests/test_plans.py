"""Plan-shape assertions (SURVEY.md §4): pin the physical properties
that make these queries scale — pushdown, pruning, broadcast joins,
TakeOrderedAndProject, partial aggregation. A change that silently
regresses a plan (e.g. loses a broadcast) fails here even though
results stay correct."""

from __future__ import annotations

import pytest

from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.plans import (
    explain,
)
from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.queries import (
    QUERIES,
)

from tests.conftest import SF_DIR, build_jobs


def test_filter_pushdown_reaches_scan(spark):
    df = QUERIES["p1_project_filter"](spark, SF_DIR)
    assert explain.has_pushed_filters(df)


def test_column_pruning(spark):
    df = QUERIES["p1_project_filter"](spark, SF_DIR)
    cols = explain.read_schema_columns(df)
    # only the projected + filtered columns are read, not all 6
    assert set(cols) <= {"p_partkey", "p_name", "p_retailprice", "p_size"}
    assert len(cols) <= 4


def test_range_filter_pushdown(spark):
    df = QUERIES["p3_range_filter"](spark, SF_DIR)
    assert explain.has_pushed_filters(df)


def test_dim_join_broadcasts(spark):
    df = QUERIES["j1_broadcast_join"](spark, SF_DIR)
    assert explain.uses_broadcast_join(df)


def test_q5_star_join_broadcasts_all_dims(spark):
    df = QUERIES["tpch_q5_regional_revenue"](spark, SF_DIR)
    plan = explain.physical_plan(df)
    # customer/supplier/nation/region all broadcast; at most the
    # orders⋈lineitem join may shuffle
    assert plan.count("BroadcastHashJoin") >= 4


def test_global_topk_is_take_ordered(spark):
    df = QUERIES["o2_global_topk"](spark, SF_DIR)
    assert explain.uses_take_ordered(df)


def test_q1_has_partial_aggregation(spark):
    df = QUERIES["tpch_q1_pricing_summary"](spark, SF_DIR)
    assert explain.has_partial_aggregation(df)
    # one shuffle total: the partial→final agg exchange
    assert explain.count_shuffles(df) <= 1


def test_asof_join_single_shuffle(spark):
    """The union+window as-of join must cost one shuffle on the key
    (plus at most one for the right-side pre-dedup), never a join
    explosion."""
    df = QUERIES["j5_asof_join"](spark, SF_DIR)
    plan = explain.physical_plan(df)
    assert "Window" in plan
    assert explain.count_shuffles(df) <= 3


def test_q9_broadcasts_all_dims_single_agg_shuffle(spark):
    """Q9's 5-table join must broadcast every dim (part/supplier/
    nation; orders may broadcast or shuffle depending on stats) and
    keep partial aggregation — the fact table is scanned once and
    shuffled at most twice (join + final agg)."""
    df = QUERIES["tpch_q9_product_profit"](spark, SF_DIR)
    plan = explain.physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert explain.has_partial_aggregation(df)
    assert explain.count_shuffles(df) <= 2


def test_q11_total_is_broadcast_back(spark):
    """Q11's scalar-subquery threshold: the 1-row global total joins
    back via broadcast — a shuffle there would re-partition the whole
    per-part aggregate around one row."""
    df = QUERIES["tpch_q11_important_parts"](spark, SF_DIR)
    plan = explain.physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def _build_without_collect(monkeypatch, spark, name):
    """Build a registered query's DataFrame with DataFrame.collect
    forbidden — pins 'one lazy DAG, no driver materialization at
    plan-build time' (the old q15/q22 ran full scans eagerly)."""
    from pyspark.sql import DataFrame

    def _no_collect(self):  # pragma: no cover - only hit on regression
        raise AssertionError(f"{name} called .collect() at plan-build time")

    monkeypatch.setattr(DataFrame, "collect", _no_collect)
    return QUERIES[name](spark, SF_DIR)


def test_q15_scalar_max_is_broadcast_no_collect(spark, monkeypatch):
    """Q15's scalar max joins back via broadcast in ONE lazy DAG, and
    the max branch reuses the per-supplier aggregate exchange instead
    of re-scanning lineitem (ReusedExchange appears in the AQE final
    plan, so execute first)."""
    df = _build_without_collect(monkeypatch, spark, "tpch_q15_top_supplier")
    plan = explain.physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # lineitem is scanned once: the max branch reuses the rev exchange.
    # Exchange reuse is applied during AQE replanning, so inspect the
    # executed final plan, not the static one.
    monkeypatch.undo()
    df.collect()
    final = explain.physical_plan(df)
    assert "isFinalPlan=true" in final
    assert "ReusedExchange" in final or final.count("Scan parquet") <= 2


def test_q22_scalar_avg_is_broadcast_no_collect(spark, monkeypatch):
    """Q22's avg-balance scalar subquery: broadcast 1-row cross join,
    no driver-side collect at query-construction time."""
    df = _build_without_collect(monkeypatch, spark, "tpch_q22_idle_customers")
    plan = explain.physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_o1_global_sort_range_partitioned_offsets_broadcast(spark):
    """O1's global numbering must be the scale shape: a range-
    partitioned sort (not a single-partition global window over the
    fact table) with the tiny per-partition offsets joined back via
    broadcast."""
    df = QUERIES["o1_global_sort"](spark, SF_DIR)
    plan = explain.physical_plan(df)
    # the range-partitioned sort is inside the pinned (localCheckpoint)
    # lineage, so assert the visible shape: the big-side window is
    # PARTITIONED by the pinned partition id (no global-window funnel
    # over the fact) and the tiny offsets join back via broadcast.
    assert "windowspecdefinition(__rk_pid" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_headline_plans_pass_lint(spark):
    """No row-wise Python UDFs (BatchEvalPython) and no raw cartesian
    products anywhere in the headline set — the hard antipatterns
    tools/planlint.py checks repo-wide."""
    import bench
    from tools.planlint import EAGER, HARD

    for name in bench.HEADLINE:
        if name in EAGER:
            continue
        plan = explain.physical_plan(QUERIES[name](spark, SF_DIR))
        for label, rx in HARD.items():
            assert not rx.search(plan), f"{name}: {label}"


def test_q20_semi_join_no_distinct(spark):
    """Q20 decorrelates the IN-subquery as a left-semi join, which
    can't duplicate supplier rows — the plan must not pay a distinct
    aggregation on top."""
    df = QUERIES["tpch_q20_bulk_suppliers"](spark, SF_DIR)
    plan = explain.physical_plan(df)
    assert "LeftSemi" in plan


def test_cdc_merge_join_reuses_window_partitioning(spark):
    """j_cdc_merge: the full-outer join must consume the windows' hash
    partitioning on o_custkey — 2 exchanges total (one per branch),
    none for the join — and WindowGroupLimit must push the rank<=1
    cut map-side before each shuffle."""
    df = QUERIES["j_cdc_merge"](spark, SF_DIR)
    plan = explain.physical_plan(df)
    assert explain.count_shuffles(df) == 2, plan
    assert "WindowGroupLimit" in plan, plan


def test_bm25_df_table_broadcasts(spark):
    """text_bm25: the query-term df table is |terms| rows and must
    broadcast; corpus stats join as a broadcast 1-row cross join (no
    driver collect anywhere in the build)."""
    df = QUERIES["text_bm25"](spark, SF_DIR)
    plan = explain.physical_plan(df)
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 2, plan


def test_tfidf_no_cartesian_no_collect(spark):
    """text_tfidf_topk: corpus size joins in as a broadcast 1-row
    cross join; the rank window cuts per-doc groups map-side."""
    df = QUERIES["text_tfidf_topk"](spark, SF_DIR)
    plan = explain.physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "WindowGroupLimit" in plan, plan


def test_minhash_verify_never_broadcasts_or_builds_wide(spark):
    """dedup_minhash_pairs verify stage: the exact-Jaccard pass joins
    only NARROW rows — exploded (id, shingle, n) postings and (id_a,
    id_b) pairs. Catalyst's size underestimate of the cached/exploded
    sides repeatedly picked driver-OOM broadcasts here (measured at a
    10x corpus under a 2g heap), so pin: no broadcast join on any
    verify-stage key (id_a / id_b / shingle x) — the only broadcast
    allowed anywhere is the band-bucket self-join inside the cached
    candidate subtree, which Catalyst stats may legitimately broadcast
    at tiny SF; the pair⋈postings joins are spillable big-big SMJs
    (the pair list is superlinear in clone-cluster size — a
    shuffle_hash build on it OOM'd live at 100x/4GB, r11); the
    semi-prune is shuffled-hash built on the DISTINCT id set only."""
    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark import (
        catalog,
    )
    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.operators import (
        dedup,
    )

    docs = catalog.load(spark, SF_DIR, "documents").select("doc_id", "text")
    df = dedup.minhash_neardup_pairs(docs)
    plan = explain.physical_plan(df)
    for line in plan.splitlines():
        if "BroadcastHashJoin" in line or "BroadcastNestedLoop" in line:
            assert "[band#" in line, line
    assert "SortMergeJoin" in plan, plan
    assert "ShuffledHashJoin" in plan, plan


def test_scd2_two_windows_one_exchange(spark):
    """p_scd2_history: the change-detect window and the interval-ize
    window share the (user_id → ts, event_id) ordering, so the second
    window must reuse the first's hash partitioning and sort — one
    exchange and one sort in the whole plan."""
    df = QUERIES["p_scd2_history"](spark, SF_DIR)
    plan = explain.physical_plan(df)
    assert explain.count_shuffles(df) == 1, plan
    assert plan.count("Sort ") == 1, plan


def test_nullsafe_join_is_hash_not_bnlj(spark):
    """j3b_nullsafe_join: <=> must plan as a hash-family equi-join
    (null-safe comparators hash NULL into a regular bucket), never a
    nested-loop."""
    df = QUERIES["j3b_nullsafe_join"](spark, SF_DIR)
    plan = explain.physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_entropy_partial_aggregation(spark):
    """a_user_entropy: the (user, type) pre-aggregation must partial-
    merge map-side, and the whole query must run in <= 3 exchanges
    (pre-agg, window re-use, final agg)."""
    df = QUERIES["a_user_entropy"](spark, SF_DIR)
    assert explain.has_partial_aggregation(df)
    assert explain.count_shuffles(df) <= 3, explain.physical_plan(df)


def test_triangle_count_no_cartesian(spark):
    """g_triangle_count: the wedge-close joins are equi-joins on
    oriented edges — a cartesian anywhere here explodes at scale."""
    df = QUERIES["g_triangle_count"](spark, SF_DIR)
    plan = explain.physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_bitmap_distinct_partial_merges(spark):
    """a_bitmap_distinct: bitmap_construct_agg must partial-aggregate
    map-side (fixed-size bitmap state on the shuffle, not raw ids) —
    2 exchanges total for the two-level rollup."""
    df = QUERIES["a_bitmap_distinct"](spark, SF_DIR)
    assert explain.has_partial_aggregation(df)
    assert explain.count_shuffles(df) <= 2, explain.physical_plan(df)


def test_pq_adc_scan_broadcasts_queries_only(spark):
    """sim_topk_pq: the ADC scan joins the code table against
    BROADCAST queries+LUTs — the corpus must not shuffle before the
    rank window."""
    df = QUERIES["sim_topk_pq"](spark, SF_DIR)
    plan = explain.physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_banded_theta_setops_exact_side_broadcasts(spark):
    """a_theta_setops (banded): the 1-row exact-audience aggregate
    joins the 1-row sketch aggregate as a broadcast nested loop — a
    CartesianProduct here means the broadcast hint was lost."""
    df = QUERIES["a_theta_setops"](spark, SF_DIR)
    plan = explain.physical_plan(df)
    assert "CartesianProduct" not in plan, plan


def test_banded_a9_single_aggregation_pass(spark):
    """a9_approx_percentiles (banded): approx AND exact percentiles
    must come from ONE grouped aggregation (one shuffle), not two
    scans joined back."""
    df = QUERIES["a9_approx_percentiles"](spark, SF_DIR)
    assert explain.count_shuffles(df) <= 1, explain.physical_plan(df)


def test_banded_a2_split_aggs_with_broadcast(spark):
    """a2_approx_count_distinct (banded): approx and exact sides run
    as SEPARATE aggregations with the 3-row exact side BROADCAST onto
    the estimates. The previous single-agg pin was measured-wrong:
    mixing approx_count_distinct with countDistinct in one agg makes
    the multi-distinct planner Expand every fact row ×3, tripling the
    HLL partial work (5.4 s → 1.8 s at sf0.01 after the split)."""
    df = QUERIES["a2_approx_count_distinct"](spark, SF_DIR)
    plan = explain.physical_plan(df)
    assert explain.uses_broadcast_join(df), plan
    # the exact side still Expands (×2, two countDistinct columns —
    # cheap); the point is the HLL partials must NOT sit under one:
    # exactly one Expand, and it feeds plain count(), not HLL buffers
    assert plan.count("Expand ") <= 1, plan
    for line in plan.splitlines():
        if "partial_approx_count_distinct" in line:
            assert "gid#" not in line, line


def test_banded_sketch_rollup_exact_broadcasts(spark):
    """a_sketch_rollup (banded): the exact per-group stats table is a
    handful of rows and must BROADCAST onto the sketch estimates."""
    df = QUERIES["a_sketch_rollup"](spark, SF_DIR)
    assert explain.uses_broadcast_join(df), explain.physical_plan(df)


def test_cms_probe_broadcasts_sketch_and_topk_is_take_ordered(spark):
    """a_cms_heavy_hitters: the ≤192-cell sketch must broadcast to the
    probe side (losing it means shuffling the probe for a toy-sized
    build), and the heavy-hitter cut must be TakeOrderedAndProject,
    never a global sort."""
    df = QUERIES["a_cms_heavy_hitters"](spark, SF_DIR)
    plan = explain.physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert explain.uses_take_ordered(df)
    assert "Sort " not in plan or "TakeOrdered" in plan


def test_ols_multivariate_broadcasts_means_and_partial_aggs(spark):
    """a_ols_multivariate: the 3-row means join must broadcast and both
    aggregation passes must map-side combine."""
    df = QUERIES["a_ols_multivariate"](spark, SF_DIR)
    plan = explain.physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert explain.has_partial_aggregation(df)


def test_funnel_has_no_cartesian_or_global_sort(spark):
    """w_funnel_conversion: three user_id-keyed joins — no cartesian
    product, no global sort anywhere in the plan."""
    df = QUERIES["w_funnel_conversion"](spark, SF_DIR)
    plan = explain.physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_classifier_is_pure_jvm_aggregation(spark):
    """text_classifier_score: model inference must stay JVM-side — no
    Python evaluation nodes in the plan, partial aggregation on."""
    df = QUERIES["text_classifier_score"](spark, SF_DIR)
    plan = explain.physical_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert explain.has_partial_aggregation(df)


def test_sql_tpch_passthroughs_share_oracle_and_plan_family(spark):
    """VERDICT r06 item 7: the SQL front end claims zero execution-path
    overhead (sqlfront.py module docstring) — prove it on the TPC-H
    set. For each passthrough: (a) the oracle IS the DataFrame twin's
    oracle string by object identity, and (b) the SQL text compiles to
    the same physical STRATEGY MIX as the hand-built DataFrame program
    — identical multiset of join operators, identical shuffle
    (Exchange) count, identical aggregate count. Catalyst may associate
    the join tree differently than the hand-built order, so the pin is
    the strategy multiset, not operator order: an extra shuffle or a
    broadcast downgraded to a sort-merge join fails here."""
    import re

    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.queries import (
        ORACLES,
        QUERIES,
    )
    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.queries.sqlfront_tpch import (
        TPCH_PASSTHROUGHS,
    )

    assert len(TPCH_PASSTHROUGHS) >= 5

    def counts(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        ops = {}
        for kind in (
            "BroadcastHashJoin",
            "SortMergeJoin",
            "ShuffledHashJoin",
            "BroadcastNestedLoopJoin",
            "HashAggregate",
            "TakeOrderedAndProject",
        ):
            ops[kind] = len(re.findall(rf"\b{kind}\b", plan))
        # count shuffles, excluding the reused-exchange printouts
        ops["Exchange"] = len(
            re.findall(r"^\s*[:+\-* (\d)]*Exchange ", plan, flags=re.M)
        )
        return ops

    for name, twin in TPCH_PASSTHROUGHS.items():
        assert ORACLES[name] is ORACLES[twin]
        sql_ops = counts(QUERIES[name](spark, SF_DIR))
        df_ops = counts(QUERIES[twin](spark, SF_DIR))
        assert sql_ops == df_ops, f"{name} vs {twin}: {sql_ops} != {df_ops}"


def test_sql_tpch_divergent_passthroughs_pinned(spark):
    """q15/q22 compile to a different-but-no-worse strategy mix from
    SQL text than from the hand-built DataFrame program (sqlfront_tpch
    module docstring). Pin the DIVERGENCE itself: same oracle by
    identity, and the SQL side must stay free of nested-loop joins and
    within one exchange of the twin — a regression on either side
    (e.g. the SQL text suddenly planning a BroadcastNestedLoopJoin, or
    shuffle counts drifting apart) fails here."""
    import re

    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.queries import (
        ORACLES,
        QUERIES,
    )
    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.queries.sqlfront_tpch import (
        TPCH_PASSTHROUGHS_DIVERGENT,
    )

    def counts(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        ops = {}
        for kind in (
            "BroadcastHashJoin",
            "SortMergeJoin",
            "ShuffledHashJoin",
            "BroadcastNestedLoopJoin",
            "HashAggregate",
            "TakeOrderedAndProject",
        ):
            ops[kind] = len(re.findall(rf"\b{kind}\b", plan))
        ops["Exchange"] = len(
            re.findall(r"^\s*[:+\-* (\d)]*Exchange ", plan, flags=re.M)
        )
        return ops

    assert set(TPCH_PASSTHROUGHS_DIVERGENT) == {"sql_tpch_q15", "sql_tpch_q22"}
    for name, twin in TPCH_PASSTHROUGHS_DIVERGENT.items():
        assert ORACLES[name] is ORACLES[twin]
        sql_ops = counts(QUERIES[name](spark, SF_DIR))
        df_ops = counts(QUERIES[twin](spark, SF_DIR))
        # the SQL plan must never pick up a nested-loop join (q22's
        # twin carries one by construction; the SQL text avoids it)
        assert sql_ops["BroadcastNestedLoopJoin"] == 0, (name, sql_ops)
        assert abs(sql_ops["Exchange"] - df_ops["Exchange"]) <= 1, (
            name,
            sql_ops,
            df_ops,
        )
    # q3: the one RESTATED passthrough (different oracle string —
    # EPOCH() is DuckDB-only — same shape): full strategy-mix parity
    # with the DataFrame twin still holds.
    sql_ops = counts(QUERIES["sql_tpch_q3"](spark, SF_DIR))
    df_ops = counts(QUERIES["tpch_q3_shipping_priority"](spark, SF_DIR))
    assert sql_ops == df_ops, (sql_ops, df_ops)


def test_sessionize_single_exchange(spark):
    """w_sessionize: ONE hash exchange on user_id must serve both
    windows AND the (user_id, session_seq) aggregate — partitioning
    on a prefix of the group keys satisfies the clustering, so a
    second shuffle here is a regression."""
    df = QUERIES["w_sessionize"](spark, SF_DIR)
    assert explain.count_shuffles(df) <= 1, explain.physical_plan(df)


def test_rec_affinity_no_fact_fact_join(spark):
    """rec_item_affinity: pairs are generated NARROW from per-basket
    arrays (bounded by basket size), never by a fact-fact self-join
    on l_orderkey — a SortMergeJoin of lineitem with itself is the
    quadratic-shuffle formulation this query exists to avoid. The
    scoring joins on l_partkey are the only joins allowed."""
    df = QUERIES["rec_item_affinity"](spark, SF_DIR)
    plan = explain.physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "l_orderkey" not in plan.split("Join")[0] or True  # doc only
    # no join keyed on l_orderkey anywhere: pair generation is narrow
    import re

    for m in re.finditer(r"Join [^\n]*", plan):
        assert "l_orderkey" not in m.group(0), m.group(0)


def test_psi_drift_single_fact_scan_then_dimension_sized(spark):
    """a_psi_drift: one fact aggregation to (type, bin, period)
    counts; everything downstream is |types|x|bins|-sized. The
    events scan must appear at most twice (counts + the distinct
    type list for the grid)."""
    df = QUERIES["a_psi_drift"](spark, SF_DIR)
    plan = explain.physical_plan(df)
    assert plan.count("events.parquet") <= 2, plan


def test_eval_family_two_scans_no_cartesian(spark):
    """a_roc_auc / a_calibration_bins / a_gains_deciles: the centroid
    scorer is two embeddings scans (fit + score); the 1-row centroid
    table rides a broadcast nested-loop (intended), never a
    CartesianProduct; everything after scoring is a 1-row / 10-row
    aggregate or the documented distributed rank-attach."""
    for name in ("a_roc_auc", "a_calibration_bins", "a_gains_deciles"):
        df = QUERIES[name](spark, SF_DIR)
        plan = explain.physical_plan(df)
        assert plan.count("embeddings.parquet") <= 2, (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)


def test_pmi_two_token_aggs_take_ordered(spark):
    """text_pmi_collocations: the INITIAL plan references the
    documents scan once per branch (2 uni joins + tw + pc + tp = 5),
    but the uni/pc aggregation exchanges are byte-identical across
    branches, so AQE collapses them to ReusedExchange at runtime —
    asserted on the FINAL adaptive plan after execution. The top-k
    cut is TakeOrderedAndProject, never a global sort."""
    df = QUERIES["text_pmi_collocations"](spark, SF_DIR)
    plan = explain.physical_plan(df)
    assert plan.count("documents.parquet") <= 5, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    df.collect()
    final = explain.physical_plan(df)
    assert "isFinalPlan=true" in final, final
    assert final.count("ReusedExchange") >= 1, final


def test_hybrid_rrf_arms_take_ordered(spark):
    """text_hybrid_rrf: both retrieval arms end in
    TakeOrderedAndProject (per-partition heads + driver merge), the
    fusion joins two 50-row sets, and nothing plans a
    CartesianProduct. Scans stay bounded: bm25's documents branches
    (dl + tf, each referenced twice in the initial plan) + the sem
    arm's two embeddings scans (query row + candidates)."""
    df = QUERIES["text_hybrid_rrf"](spark, SF_DIR)
    plan = explain.physical_plan(df)
    assert plan.count("TakeOrderedAndProject") >= 2, plan
    assert plan.count("documents.parquet") <= 4, plan
    assert plan.count("embeddings.parquet") <= 2, plan
    assert "CartesianProduct" not in plan, plan

def test_label_propagation_lazy_linear_growth(spark):
    """g_label_propagation: the iterate is referenced once per round,
    so the logical plan must grow LINEARLY with iterations (an extra
    iterate reference doubles the plan per round — the lazy-fixpoint
    discipline). Also: no cartesian products."""
    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.operators.graph import (
        label_propagation,
    )

    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], ["src", "dst"])
    seeds = spark.createDataFrame([(0, 0)], ["vid", "lab"])

    def plan_len(k):
        df = label_propagation(edges, seeds, iterations=k)
        return len(df._jdf.queryExecution().logical().toString())

    p2, p4, p6 = plan_len(2), plan_len(4), plan_len(6)
    # Tree NODES grow linearly (iterate referenced once per round), so
    # the printed string grows at most QUADRATICALLY (round r's text
    # nests rounds 1..r-1). A second iterate reference would double
    # the tree per round: string ratio >= 4x for +2 rounds. Pin the
    # successive ratios well under that doubling signature.
    assert p4 / p2 < 3.0, (p2, p4)
    assert p6 / p4 < 2.6, (p4, p6)
    df = QUERIES["g_label_propagation"](spark, SF_DIR)
    assert "CartesianProduct" not in explain.physical_plan(df)


def test_woe_iv_single_fact_scan(spark):
    """a_woe_iv: ONE events scan to the 20-cell counts table;
    totals/IV ride constant-key windows over the bounded table."""
    df = QUERIES["a_woe_iv"](spark, SF_DIR)
    plan = explain.physical_plan(df)
    assert plan.count("events.parquet") <= 1, plan


def test_cms_checked_probe_broadcasts_cells(spark):
    """stream_cms_sink_checked: the probe joins the <=192-cell
    snapshot via broadcast; the events fact is scanned only for the
    exact side (<=2 references)."""
    df = QUERIES["stream_cms_sink_checked"](spark, SF_DIR)
    plan = explain.physical_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("events.parquet") <= 2, plan


def test_als_never_broadcasts(spark):
    """train_als_banded: every join is pinned shuffle-side — the
    ratings build (fact-fact, SMJ) and the factor joins
    (shuffle_hash). At the 100x/4GB stress point the unpinned plan
    broadcast the corpus-scaled orders projection 15x (one per plan
    reference) and OOM'd; at real scale the factor tables are
    |users|/|items|-sized and must not broadcast either."""
    df = QUERIES["train_als_banded"](spark, SF_DIR)
    plan = explain.physical_plan(df)
    assert plan.count("BroadcastHashJoin") == 0, plan
    assert plan.count("BroadcastNestedLoopJoin") == 0, plan
    assert "SortMergeJoin" in plan, plan
    assert "ShuffledHashJoin" in plan, plan


def test_bootstrap_partial_aggs_two_scans(spark):
    """a_bootstrap_ci: the B-replicate flat-map aggregates with
    map-side partials into B groups; events is scanned at most twice
    (replicates + point stats); the 100-row replicate table rides
    constant-key windows; no Python nodes."""
    df = QUERIES["a_bootstrap_ci"](spark, SF_DIR)
    plan = explain.physical_plan(df)
    # initial plan references the replicate subtree once per consumer
    # (se / ci_lo / ci_hi) + the point-stats scan; the three replicate
    # branches share one byte-identical B-group exchange, which AQE
    # collapses to ReusedExchange at runtime (asserted on the final
    # adaptive plan) — effective cost is TWO scans.
    assert plan.count("events.parquet") <= 4, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2, plan
    df.collect()
    final = explain.physical_plan(df)
    assert "isFinalPlan=true" in final, final
    assert final.count("ReusedExchange") >= 1, final


def test_conformal_broadcasts_thresholds_no_cartesian(spark):
    """a_conformal_sets: the sims pass is the emb_centroid_classify
    shape (two embeddings scans per branch + a |labels|-row
    broadcast); the calibration quantile is one distributed
    rank-attach; (n, qhat) ride 1-row broadcasts to the map-only test
    side. No CartesianProduct, no Python nodes."""
    df = QUERIES["a_conformal_sets"](spark, SF_DIR)
    plan = explain.physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("BroadcastNestedLoopJoin") >= 2, plan


def test_entity_resolution_no_cartesian_bounded_scans(spark):
    """j_entity_resolution: the fuzzy-quadratic step runs over the
    DISTINCT-names aggregate (vocabulary-sized), so the plan may
    reference the part scan per branch but must never plan a
    CartesianProduct; the CC loop references its iterate once per
    round (self-loop trick — no per-round doubling)."""
    df = QUERIES["j_entity_resolution"](spark, SF_DIR)
    plan = explain.physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tree_trainers_one_scan_per_level(spark):
    """The tree trainers' perf lesson (round-7): candidate splits
    EXPLODE off the single wide moment row — a per-candidate union
    re-derives the aggregate 27x (measured 4-8x slower). Pin the
    logical-plan scan counts: the stump reads the data exactly once;
    the depth-2 tree reads once per level plus the 1-row winner
    re-derivation (3 relation scans), with the only Union being the
    3-row root+children result assembly."""
    stump = QUERIES["train_stump_banded"](spark, SF_DIR)
    plan = stump._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Relation [") == 1
    assert plan.count("Union") == 0
    tree = QUERIES["train_tree2_banded"](spark, SF_DIR)
    plan = tree._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Relation [") <= 3
    assert plan.count("Union") <= 1


def test_capped_probe_window_is_probe_partitioned(spark, tmp_path):
    """embdedup_index_probe_topk (round 8): the top-k cap must run as
    a window PARTITIONED on new_id — never SinglePartition (the probe
    batch is the key domain) — and the probe pipeline must stay free
    of row-wise Python and cartesian products."""
    import os

    from pyspark.sql import functions as F

    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark import (
        catalog,
    )
    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.operators import (
        similarity,
    )

    e = catalog.load(spark, SF_DIR, "embeddings")
    base = os.path.join(str(tmp_path), "cap_plan_idx")
    similarity.embdedup_index_build(e.filter(F.col("vec_id") % 2 == 0), base)
    probe = e.filter(F.col("vec_id") % 2 == 1)
    df = similarity.embdedup_index_probe_topk(probe, base, k=1, threshold=0.35)
    plan = explain.physical_plan(df)
    assert "Window" in plan, plan
    import re

    for m in re.finditer(r"Exchange SinglePartition[^\n]*\n[^\n]*Window", plan):
        raise AssertionError(f"single-partition window in probe plan: {m.group(0)}")
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_graph_edge_builds_never_broadcast(spark):
    """g_triangle_count / g_clustering_coefficient: the fact-fact
    edge build (orders x lineitem on orderkey) is pinned merge-side.
    At the 100x/4GB stress point the unpinned join broadcast the
    2-column orders projection (under the static size estimate) and
    OOM'd building the hash side — the ALS broadcast-OOM lesson
    extended to graph edge builds."""
    for name in ("g_triangle_count", "g_clustering_coefficient"):
        plan = explain.physical_plan(QUERIES[name](spark, SF_DIR))
        assert plan.count("BroadcastHashJoin") == 0, (name, plan)
        assert "SortMergeJoin" in plan, (name, plan)


def test_matryoshka_broadcasts_the_sample_not_the_corpus(spark):
    """emb_matryoshka_truncate (ADVICE r08 medium): the broadcast
    side must be the <=50-row filtered sample, never the full
    embeddings table — the ALS/graph broadcast-OOM lesson. The pin:
    exactly one BroadcastHashJoin, and its build subtree (the text
    under BroadcastExchange) carries the vec_id < 100 sample
    filter."""
    plan = explain.physical_plan(
        QUERIES["emb_matryoshka_truncate"](spark, SF_DIR)
    )
    assert plan.count("BroadcastHashJoin") == 1, plan
    build = plan.split("BroadcastExchange", 1)[1]
    assert "< 100" in build, plan


#: Py4J commands one build of each query may send, between the current
#: count and the count before call-site capture was switched off and the
#: text / vector helpers became SQL expressions (sf0.001, local[8]):
#: now 61 / 323 / 273 / 315, before 791 / 1,223 / 1,105 / 1,015.
#: Call-site capture back on gives 91 / 1,223 / 743 / 1,015; the helpers
#: back to Python lambdas give 531 / 323 / 475 / 315.
_BUILD_TRIP_CEILINGS = {
    "text_quality": 200,
    "a_odds_ratio": 600,
    "a_brier_score": 400,
    "a_power_analysis": 600,
}


def _build_trips(spark, build) -> int:
    """Py4J commands sent while ``build()`` runs, excluding py4j's
    ``m\\nd\\n`` garbage-collection deletes (they fire at arbitrary
    times)."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = 0

    def counting(command, *args, **kwargs):
        nonlocal sent
        if not command.startswith("m\nd\n"):
            sent += 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        build()
    finally:
        del client.send_command
    return sent


def test_plan_build_round_trips_are_pinned(spark):
    """Plan building is Py4J-bound: each JVM round trip costs ~0.1 ms
    or more. get_spark sessions switch off PySpark's per-call call-site
    capture, and the higher-order text / vector helpers are one SQL
    expression each; undoing either raises a count above its ceiling."""
    import pyspark.errors.utils as pyspark_errors

    # is_debugging_enabled caches the first value it reads; re-read it
    # from this session's conf
    cached = pyspark_errors._enable_debugging_cache
    pyspark_errors._enable_debugging_cache = None
    try:
        debugging = pyspark_errors.is_debugging_enabled()
        for name in _BUILD_TRIP_CEILINGS:
            QUERIES[name](spark, SF_DIR)  # warm the catalog memo
        trips = {
            n: _build_trips(spark, lambda n=n: QUERIES[n](spark, SF_DIR))
            for n in _BUILD_TRIP_CEILINGS
        }
    finally:
        pyspark_errors._enable_debugging_cache = cached
    assert debugging is False
    over = {n: c for n, c in trips.items() if c > _BUILD_TRIP_CEILINGS[n]}
    assert not over, (over, trips)


#: Spark jobs one fixpoint query may launch while building (sf0.001,
#: local[8]): now 29 / 45 / 16. Connected components runs one job per
#: round, because its convergence count is an Observation on the eager
#: checkpoint, and k-core cuts its lineage every 3 rounds. A separate
#: count action per round plus a k-core cut every 2 rounds gave
#: 39 / 59 / 21.
_FIXPOINT_JOB_CEILINGS = {
    "g_connected_components": 29,
    "dedup_cluster_canonical": 45,
    "g_kcore": 16,
}


def test_fixpoint_build_jobs_are_pinned(spark):
    for name in _FIXPOINT_JOB_CEILINGS:
        QUERIES[name](spark, SF_DIR)  # warm the catalog memo
    jobs = {
        n: len(
            build_jobs(
                spark,
                lambda n=n: QUERIES[n](spark, SF_DIR),
                f"fixpoint-build-{n}",
            )
        )
        for n in _FIXPOINT_JOB_CEILINGS
    }
    over = {n: c for n, c in jobs.items() if c > _FIXPOINT_JOB_CEILINGS[n]}
    assert not over, (over, jobs)


@pytest.fixture(scope="module")
def hot_indexes(spark, tmp_path_factory):
    """A persisted MinHash and IVF index, each base + one committed
    delta, and the probe / search builders over them."""
    from pyspark.sql import functions as F

    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark import (
        catalog,
    )
    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.operators import (
        dedup,
        similarity,
    )

    root = tmp_path_factory.mktemp("hot_indexes")
    mh, ivf = str(root / "minhash"), str(root / "ivf")
    docs = catalog.load(spark, SF_DIR, "documents")
    vecs = catalog.load(spark, SF_DIR, "embeddings")
    dedup.minhash_index_build(docs.filter(F.col("doc_id") < 300), mh)
    dedup.minhash_index_append(mh)(docs.filter(F.col("doc_id").between(300, 349)), 0)
    similarity.ivf_index_build(
        vecs.filter(F.col("vec_id") < 400), ivf, n_centroids=8, max_iter=4
    )
    similarity.ivf_index_append(ivf)(
        vecs.filter(F.col("vec_id") >= 400).select(
            F.col("vec_id").alias("neighbor_id"),
            similarity._as_double(F.col("embedding")).alias("cv"),
        ),
        0,
    )
    builders = {
        "minhash_index_probe": lambda: dedup.minhash_index_probe(
            catalog.load(spark, SF_DIR, "documents").filter(
                F.col("doc_id") >= 400
            ),
            mh,
        ),
        "ivf_index_search": lambda: similarity.ivf_index_search(
            catalog.load(spark, SF_DIR, "embeddings").filter(
                F.col("vec_id") < 20
            ),
            ivf,
            k=5,
            n_probe=4,
        ),
    }
    for build in builders.values():
        assert build().collect()  # the first read memoizes the schemas
    return builders


def test_index_probe_and_search_builds_launch_no_jobs(spark, hot_indexes):
    """Once an index has been read, building a probe or a search plan
    over base + delta runs no footer-schema inference job: every index
    table is read through catalog.read_parquet's memo."""
    jobs = {
        name: len(build_jobs(spark, build, f"hot-build-{name}"))
        for name, build in hot_indexes.items()
    }
    assert jobs == {"minhash_index_probe": 0, "ivf_index_search": 0}


#: Py4J commands one probe / search build may send over base + one
#: delta (sf0.001, local[8]): now 478 / 236. The MinHash signature and
#: band-hash expressions and the vector helpers are SQL text; built as
#: Python column trees they cost 1,378 / 584.
_INDEX_TRIP_CEILINGS = {"minhash_index_probe": 700, "ivf_index_search": 350}


def test_index_probe_and_search_round_trips_are_pinned(spark, hot_indexes):
    trips = {
        name: _build_trips(spark, build) for name, build in hot_indexes.items()
    }
    over = {n: c for n, c in trips.items() if c > _INDEX_TRIP_CEILINGS[n]}
    assert not over, (over, trips)


#: Spark jobs of one whole IVF operation on a warm index (sf0.001,
#: local[8]); the same 2 / 4 / 1 before and after IVF moved onto the
#: shared delta ledger: an append collects the centroids and writes its
#: delta, a search collects in 4 jobs, a compaction is one write.
_IVF_OP_JOB_CEILINGS = {"append": 2, "search": 4, "compact": 1}


def test_ivf_whole_operation_jobs_are_pinned(spark, tmp_path):
    from pyspark.sql import functions as F

    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark import (
        catalog,
    )
    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.operators import (
        similarity,
    )

    ivf = str(tmp_path / "ivf")
    vecs = catalog.load(spark, SF_DIR, "embeddings")
    similarity.ivf_index_build(
        vecs.filter(F.col("vec_id") < 400), ivf, n_centroids=8, max_iter=4
    )

    def batch(i):
        lo = 400 + 50 * i
        return vecs.filter(F.col("vec_id").between(lo, lo + 49)).select(
            F.col("vec_id").alias("neighbor_id"),
            similarity._as_double(F.col("embedding")).alias("cv"),
        )

    ops = {
        "append": lambda i: similarity.ivf_index_append(ivf)(batch(i), i),
        "search": lambda i: similarity.ivf_index_search(
            vecs.filter(F.col("vec_id") < 20), ivf, k=5, n_probe=4
        ).collect(),
        "compact": lambda i: similarity.ivf_index_compact(spark, ivf),
    }
    for op in ops.values():
        op(0)  # the first reads memoize the schemas
    jobs = {
        name: len(build_jobs(spark, lambda op=op: op(1), f"ivf-{name}"))
        for name, op in ops.items()
    }
    over = {n: c for n, c in jobs.items() if c > _IVF_OP_JOB_CEILINGS[n]}
    assert not over, (over, jobs)


#: Spark jobs of one MinHash append on a warm index (sf0.001, local[8]):
#: the shingles write fills a cache of the batch's hashed shingles and
#: the postings write (shuffle map stage + write) reads it. Shingling
#: the batch once per subtable also took 3; writing postings first from
#: the cache takes 4 (AQE materializes the cache in a job of its own).
_MINHASH_APPEND_JOB_CEILING = 3


def test_minhash_append_jobs_are_pinned(spark, tmp_path):
    from pyspark.sql import functions as F

    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark import (
        catalog,
    )
    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.operators import (
        dedup,
    )

    mh = str(tmp_path / "minhash")
    docs = catalog.load(spark, SF_DIR, "documents")
    dedup.minhash_index_build(docs.filter(F.col("doc_id") < 300), mh)
    sink = dedup.minhash_index_append(mh)
    sink(docs.filter(F.col("doc_id").between(300, 349)), 0)
    jobs = len(
        build_jobs(
            spark,
            lambda: sink(docs.filter(F.col("doc_id").between(350, 399)), 1),
            "minhash-append",
        )
    )
    assert jobs <= _MINHASH_APPEND_JOB_CEILING, jobs


#: Spark jobs of each trips-DAG task on its second run in a session
#: (sf0.001 trips fixture, local[8]): validate infers the batch schema
#: and runs the exact-uniqueness aggregate; featurize reads the batch
#: through that schema and writes once; each vendor check is one
#: observed scan of the output, whose schema featurize recorded (every
#: other task: the vendor checks). Before: 4 / 2 / 3 for the first
#: check and 2 for the others.
_DAG_TASK_JOB_CEILINGS = {"validate_raw": 4, "featurize_split_write": 1}


def test_dag_task_jobs_are_pinned(spark, tmp_path):
    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.orchestration import (
        dag_factory,
    )
    from tests.test_reference_fidelity import VENDORS, make_trips

    raw = str(tmp_path / "trips_raw")
    make_trips(spark, n=400).write.parquet(raw)
    spec = dag_factory.trips_pipeline_spec(VENDORS, raw, str(tmp_path / "out"))
    spec.run_locally(spark)
    jobs = {
        t.task_id: len(
            build_jobs(spark, lambda t=t: t.fn(spark, t.conf), f"dag-{t.task_id}")
        )
        for t in spec.topo_order()
    }
    over = {n: c for n, c in jobs.items() if c > _DAG_TASK_JOB_CEILINGS.get(n, 1)}
    assert not over, (over, jobs)


def test_warm_plan_is_not_recompiled(spark):
    """A warm session reuses the whole-stage-codegen classes it has
    compiled: get_spark sizes Spark's generated-class cache
    (spark.sql.codegen.cache.maxEntries, default 100) above a session's
    working set, so a plan prepared again after 160 other plans compiles
    nothing. Each plan differs by a literal, which codegen inlines into
    the source, so each is a distinct class. Preparing a plan's RDD
    compiles its codegen stage without running a job."""
    compiles = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    )

    def prepare(i):
        df = spark.range(1).selectExpr(f"id + {i} AS x")
        df._jdf.queryExecution().executedPlan().execute()

    for i in range(161):
        prepare(i)
    before = compiles.getCount()
    prepare(0)
    assert compiles.getCount() == before


def test_index_rebuild_forgets_memoized_schema(spark, tmp_path):
    """A rebuild at the same base_dir with a new column type is read
    with the new type: *_index_build writes a new generation, whose
    tables are memoized under its own root, and the ledger forgets the
    retired generation's schemas."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark import (
        catalog,
    )
    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.operators import (
        dedup,
    )

    base = str(tmp_path / "minhash")
    docs = catalog.load(spark, SF_DIR, "documents").filter(F.col("doc_id") < 100)
    dedup.minhash_index_build(docs, base)
    postings, _ = dedup._minhash_resolve(spark, base)
    assert postings.schema["id"].dataType == T.LongType()
    dedup.minhash_index_build(
        docs.withColumn("doc_id", F.col("doc_id").cast("int")), base
    )
    postings, shingles = dedup._minhash_resolve(spark, base)
    assert postings.schema["id"].dataType == T.IntegerType()
    assert shingles.schema["id"].dataType == T.IntegerType()
    assert postings.count() > 0


def test_ewma_user_grouped_stage_keeps_full_width(spark):
    """a_ewma_user's grouped map runs per-group Python work: its keyed
    repartition (operators/udfs.grouped_ewma) keeps the grouped stage
    at least defaultParallelism tasks wide, where AQE's byte-based
    coalescing would squeeze it onto one or two."""
    sc = spark.sparkContext
    df = QUERIES["a_ewma_user"](spark, SF_DIR)
    tracker = sc.statusTracker()
    last_job = max(build_jobs(spark, df.collect, "ewma-width"))
    # the result stage is created after its parents: the largest id
    grouped = tracker.getStageInfo(max(tracker.getJobInfo(last_job).stageIds))
    assert grouped.numTasks >= sc.defaultParallelism, grouped


@pytest.mark.parametrize(
    "mpb, rows, spreads",
    [
        ("1g", 1000, True),
        ("64k", 1000, True),  # 8 KB of longs: one 64 KiB split
        ("64k", 600_000, False),  # 4.8 MB: ~73 splits, already wide
        ("1048576", 1000, True),
        ("0", 1000, False),  # invalid: left as is, no ZeroDivisionError
    ],
)
def test_spread_narrow_parses_max_partition_bytes(spark, mpb, rows, spreads):
    """catalog.spread_narrow reads spark.sql.files.maxPartitionBytes
    with Spark's byte-string parser, so unit suffixes and plain byte
    counts mean what the scan splitter takes them to mean."""
    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark import (
        catalog,
    )

    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    df = spark.range(rows)
    try:
        spark.conf.set(key, mpb)
        assert (catalog.spread_narrow(df) is not df) == spreads
    finally:
        spark.conf.set(key, old)
