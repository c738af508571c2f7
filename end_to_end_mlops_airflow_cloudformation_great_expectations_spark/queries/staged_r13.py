"""Round-8 additions (registered AFTER the pinned r8 window; rotation
slot in round 10 at the earliest — CLAUDE.md new-query discipline:
proven local-green at sf0.001 + sf0.01 incl. --plain before landing).

- ``dedup_embedding_probe_topk`` — the CAPPED semantic-dedup probe
  (VERDICT r07 item 4): serve near-dup lookups through the persisted
  hyperplane-LSH index with output capped to the k best corpus
  matches per probe vector (operators/similarity.
  embdedup_index_probe_topk). The uncapped probe's output is
  quadratic in duplicate-cluster size — at the 100x/4 GB stress
  point, 216 s of pure pair emission — while every dedup policy
  downstream consumes only the argmax pair; the cap makes emission
  O(k · probe). Driver-checked with the lifecycle queries' invariant
  pattern: per probe id, the capped result must equal the exact
  argmax (total (-sim, corpus_id) order on the 1e-6 grid) of the
  uncapped probe, and never exceed k rows — deterministic at fixed
  data, all-TRUE DuckDB twin (banded-oracle pattern, round 3).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load as _t
from .registry import query
from .staged_r07 import _scratch
from .staged_r12 import _KNN_COHORT, _KNN_K, _KNN_SPLIT_SQL


@query(
    "dedup_embedding_probe_topk",
    oracle="""
    SELECT CAST(vec_id AS BIGINT) AS new_id,
           TRUE AS cap_ok, TRUE AS argmax_ok
    FROM embeddings WHERE vec_id % 2 = 1 AND vec_id < 400
    """,
)
def dedup_embedding_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped (k=1) probe of the persisted embedding-dedup index vs
    the uncapped probe's exact argmax. Index over even vec_ids, probe
    slice = odd vec_ids < 400 (disjoint from the corpus, so every
    emitted pair is a genuine cross near-dup; the fixture's planted
    semantic near-dups make ~tens of pairs real at threshold 0.35 —
    the invariant is exercised, not vacuous). Checks per probe id:

      cap_ok    — the capped probe emitted ≤ 1 row for this id;
      argmax_ok — that row IS the uncapped probe's best pair under
                  the total (-cos_sim · 1e6, corpus_id) order (both
                  sides null when the id has no pair — eqNullSafe).

    Build-time index construction is the sanctioned lifecycle
    exception (build once, query many); both probes stay lazy.
    Scale: the capped probe is the production posture — candidate
    generation and verify are identical to the uncapped path, the
    cap is a probe-partitioned window (external spillable sort, no
    SinglePartition), output O(k · probe size)."""
    from ..operators import similarity

    base = _scratch("embdedup_topk")
    e = _t(spark, sf_dir, "embeddings")
    probe = e.filter((F.col("vec_id") % 2 == 1) & (F.col("vec_id") < 400))

    idx = os.path.join(base, "idx")
    similarity.embdedup_index_build(e.filter(F.col("vec_id") % 2 == 0), idx)

    kw = dict(threshold=0.35)
    full = similarity.embdedup_index_probe(probe, idx, **kw)
    cap = similarity.embdedup_index_probe_topk(probe, idx, k=1, **kw)

    def best(df: DataFrame, out: str) -> DataFrame:
        return df.groupBy("new_id").agg(
            F.min(
                F.struct(
                    (-F.round(F.col("cos_sim") * 1e6)).cast("long").alias(
                        "neg"
                    ),
                    F.col("corpus_id").alias("corpus_id"),
                )
            ).alias(out),
            F.count("*").alias(f"{out}_n"),
        )

    ids = probe.select(F.col("vec_id").cast("long").alias("new_id"))
    joined = (
        ids.join(best(full, "want"), "new_id", "left")
        .join(best(cap, "got"), "new_id", "left")
    )
    return joined.select(
        "new_id",
        F.coalesce(F.col("got_n") <= 1, F.lit(True)).alias("cap_ok"),
        F.col("got").eqNullSafe(F.col("want")).alias("argmax_ok"),
    )


# ---------------------------------------------------------------------------
# Hypothesis-battery post-hoc pair: Levene (variance homogeneity,
# ANOVA's precondition) + Tukey HSD (which means differ, ANOVA's
# follow-up) — both from bounded moment scans over order priorities.
# ---------------------------------------------------------------------------


@query(
    "a_levene_test",
    oracle="""
    WITH m AS (
      SELECT o_orderpriority AS grp, AVG(o_totalprice) AS mu
      FROM orders GROUP BY 1
    ), z AS (
      SELECT o.o_orderpriority AS grp,
             ABS(o.o_totalprice - m.mu) AS z
      FROM orders o JOIN m ON o.o_orderpriority = m.grp
    ), g AS (
      SELECT grp, COUNT(*) AS n, SUM(z) AS s, SUM(z * z) AS ss
      FROM z GROUP BY grp
    ), tot AS (
      SELECT SUM(n) AS n, SUM(s) AS s, SUM(ss) AS ss, COUNT(*) AS k,
             SUM(s * s / n) AS sgs
      FROM g
    )
    SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
           ROUND(((n - k) * (sgs - s * s / n))
                 / ((k - 1) * (ss - sgs)), 6) AS w_stat
    FROM tot
    """,
)
def a_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levene's test (mean-centered form) for homogeneity of
    variances across the 5 order priorities — the PRECONDITION check
    for a_anova_oneway (ANOVA's F assumes equal group variances;
    Levene is ANOVA applied to the absolute deviations z = |x − μ_g|,
    so W = ((N−k)/(k−1)) · SSB_z/SSW_z on the same moment identity).

    Two bounded scans: group means (k=5 rows, broadcast back), then
    the z-moment scan — both map-side partial. Float moment sums of
    money-grid values carry ~1e-12 relative cross-engine noise; W is
    O(1) and rounded at 1e-6 (the a_anova_oneway convention)."""
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.avg("o_totalprice").alias("mu")
    )
    z = o.join(
        F.broadcast(m), o.o_orderpriority == m.grp
    ).select("grp", F.abs(F.col("o_totalprice") - F.col("mu")).alias("z"))
    g = z.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sum("z").alias("s"),
        F.sum(F.col("z") * F.col("z")).alias("ss"),
    )
    tot = g.agg(
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.sum("ss").alias("ss"),
        F.count("*").alias("k"),
        F.sum(F.col("s") * F.col("s") / F.col("n")).alias("sgs"),
    )
    n, k, s, ss, sgs = (
        F.col("n"), F.col("k"), F.col("s"), F.col("ss"), F.col("sgs")
    )
    return tot.select(
        k.cast("long").alias("k"),
        n.cast("long").alias("n"),
        F.round(
            ((n - k) * (sgs - s * s / n)) / ((k - 1) * (ss - sgs)), 6
        ).alias("w_stat"),
    )


@query(
    "a_tukey_hsd",
    oracle="""
    WITH g AS (
      SELECT o_orderpriority AS grp, COUNT(*) AS n,
             SUM(o_totalprice) AS s,
             SUM(o_totalprice * o_totalprice) AS ss
      FROM orders GROUP BY 1
    ), tot AS (
      SELECT SUM(n) AS n, COUNT(*) AS k,
             (SELECT SUM(ss) FROM g) - SUM(s * s / n) AS ssw
      FROM g
    )
    SELECT a.grp AS grp_a, b.grp AS grp_b,
           ROUND(ABS(a.s / a.n - b.s / b.n)
                 / SQRT(tot.ssw / (tot.n - tot.k) / 2.0
                        * (1.0 / a.n + 1.0 / b.n)), 6) AS q_stat
    FROM g a JOIN g b ON a.grp < b.grp CROSS JOIN tot
    """,
)
def a_tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey's HSD studentized-range statistic for every priority
    pair — ANOVA's POST-HOC: a significant F says "some means
    differ"; q_ab = |μ_a − μ_b| / √(MSW/2 · (1/n_a + 1/n_b))
    (Tukey-Kramer for unequal n) says WHICH. Same one-moment-scan
    shape as a_anova_oneway: k=5 group moments, MSW from the within
    sum-of-squares, then a k(k−1)/2 = 10-row pair join over the
    5-row table (bounded — never a fact-fact pair join). Float
    moments of money-grid values, q rounded at 1e-6."""
    o = _t(spark, sf_dir, "orders")
    g = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count("*").alias("n"),
        F.sum("o_totalprice").alias("s"),
        F.sum(F.col("o_totalprice") * F.col("o_totalprice")).alias("ss"),
    )
    tot = g.agg(
        F.sum("n").alias("tn"),
        F.count("*").alias("k"),
        (F.sum("ss") - F.sum(F.col("s") * F.col("s") / F.col("n"))).alias(
            "ssw"
        ),
    )
    a = g.select(
        F.col("grp").alias("grp_a"), F.col("n").alias("na"),
        (F.col("s") / F.col("n")).alias("ma"),
    )
    b = g.select(
        F.col("grp").alias("grp_b"), F.col("n").alias("nb"),
        (F.col("s") / F.col("n")).alias("mb"),
    )
    pairs = a.join(b, a.grp_a < b.grp_b).join(F.broadcast(tot))
    msw = F.col("ssw") / (F.col("tn") - F.col("k"))
    return pairs.select(
        "grp_a",
        "grp_b",
        F.round(
            F.abs(F.col("ma") - F.col("mb"))
            / F.sqrt(msw / 2.0 * (1.0 / F.col("na") + 1.0 / F.col("nb"))),
            6,
        ).alias("q_stat"),
    )


# ---------------------------------------------------------------------------
# p_user_erasure — deletion-request cascade (right-to-be-forgotten)
# ---------------------------------------------------------------------------

_ERASE_SQL = "(c_custkey * 2654435761) % 4294967296 % 100 = 7"


@query(
    "p_user_erasure",
    oracle=f"""
    WITH del AS (
      SELECT c_custkey FROM customer WHERE {_ERASE_SQL}
    ), o_drop AS (
      SELECT o_orderkey FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM del)
    ), counts AS (
      SELECT
        (SELECT COUNT(*) FROM del) AS n_requests,
        (SELECT COUNT(*) FROM orders) AS orders_before,
        (SELECT COUNT(*) FROM o_drop) AS orders_dropped,
        (SELECT COUNT(*) FROM lineitem) AS lineitem_before,
        (SELECT COUNT(*) FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM o_drop))
          AS lineitem_dropped,
        (SELECT COUNT(*) FROM events) AS events_before,
        (SELECT COUNT(*) FROM events
         WHERE user_id IN (SELECT c_custkey FROM del)) AS events_dropped,
        (SELECT COUNT(*) FROM lineitem l
         WHERE l.l_orderkey NOT IN (SELECT o_orderkey FROM o_drop)
           AND l.l_orderkey IN (SELECT o_orderkey FROM o_drop))
          AS orphans
    )
    SELECT CAST(n_requests AS BIGINT) AS n_requests,
           CAST(orders_before AS BIGINT) AS orders_before,
           CAST(orders_dropped AS BIGINT) AS orders_dropped,
           CAST(orders_before - orders_dropped AS BIGINT) AS orders_after,
           CAST(lineitem_before AS BIGINT) AS lineitem_before,
           CAST(lineitem_dropped AS BIGINT) AS lineitem_dropped,
           CAST(lineitem_before - lineitem_dropped AS BIGINT)
             AS lineitem_after,
           CAST(events_before AS BIGINT) AS events_before,
           CAST(events_dropped AS BIGINT) AS events_dropped,
           CAST(events_before - events_dropped AS BIGINT) AS events_after,
           orphans = 0 AS no_orphans
    FROM counts
    """,
)
def p_user_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-request CASCADE audit (right-to-be-forgotten — the
    compliance twin of a_k_anonymity / p_dp_noised_counts): given a
    deletion list (a deterministic ~1% hash slice of customers,
    standing in for a DSAR batch), compute what a compliant erasure
    removes from every table that references the identity — orders
    directly, lineitems THROUGH their deleted orders (the cascade the
    FK graph demands), events by user id — and verify referential
    integrity of the surviving set (no lineitem may orphan: its order
    is either kept or the lineitem was dropped with it; emitted as
    the checked no_orphans verdict, trivially-true by construction in
    SQL but computed on the real survivor ANTI-JOIN on the Spark
    side, where a cascade bug WOULD flip it).

    All counts are exact BIGINTs — full exact oracle. Scale: the
    deletion list is request-sized (broadcast semi/anti joins against
    each fact exactly once); the lineitem cascade joins fact⋈dropped
    orders on the FK. One pass per table, no shuffles beyond the
    semi-join builds."""
    from ..functions.columns import portable_bucket

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    e = _t(spark, sf_dir, "events")
    dele = c.filter(portable_bucket(F.col("c_custkey"), 100) == 7).select(
        "c_custkey"
    )
    o_drop = o.join(
        F.broadcast(dele), o.o_custkey == dele.c_custkey, "left_semi"
    )
    o_keep = o.join(
        F.broadcast(dele), o.o_custkey == dele.c_custkey, "left_anti"
    )
    li_drop = li.join(
        o_drop.select("o_orderkey"),
        li.l_orderkey == F.col("o_orderkey"),
        "left_semi",
    )
    li_keep = li.join(
        o_drop.select("o_orderkey"),
        li.l_orderkey == F.col("o_orderkey"),
        "left_anti",
    )
    # survivor integrity, computed for real: kept lineitems whose
    # order is NOT in the kept order set
    orphans = li_keep.join(
        o_keep.select("o_orderkey"),
        li_keep.l_orderkey == F.col("o_orderkey"),
        "left_anti",
    )
    e_drop = e.join(
        F.broadcast(dele), e.user_id == dele.c_custkey, "left_semi"
    )

    def cnt(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count("*").cast("long").alias(name))

    row = (
        cnt(dele, "n_requests")
        .join(cnt(o, "orders_before"))
        .join(cnt(o_drop, "orders_dropped"))
        .join(cnt(li, "lineitem_before"))
        .join(cnt(li_drop, "lineitem_dropped"))
        .join(cnt(e, "events_before"))
        .join(cnt(e_drop, "events_dropped"))
        .join(cnt(orphans, "orphans"))
    )
    return row.select(
        "n_requests",
        "orders_before",
        "orders_dropped",
        (F.col("orders_before") - F.col("orders_dropped")).alias(
            "orders_after"
        ),
        "lineitem_before",
        "lineitem_dropped",
        (F.col("lineitem_before") - F.col("lineitem_dropped")).alias(
            "lineitem_after"
        ),
        "events_before",
        "events_dropped",
        (F.col("events_before") - F.col("events_dropped")).alias(
            "events_after"
        ),
        (F.col("orphans") == 0).alias("no_orphans"),
    )


# ---------------------------------------------------------------------------
# p_skew_profile — join-key skew diagnostics
# ---------------------------------------------------------------------------


@query(
    "p_skew_profile",
    oracle="""
    WITH kc AS (
      SELECT o_custkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n_total,
             CAST(COUNT(*) AS BIGINT) AS n_keys
      FROM kc
    ), top AS (
      SELECT key, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, key) AS rnk
      FROM kc
    )
    SELECT CAST(rnk AS BIGINT) AS rnk, key, cnt, n_total, n_keys,
           cnt * n_keys > 2 * n_total AS hot
    FROM top CROSS JOIN tot
    WHERE rnk <= 10
    """,
)
def p_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key SKEW profiler — the diagnostic a pipeline operator
    runs before choosing a join strategy (the precondition check for
    operators/skew.py's salted paths): per candidate key, its row
    count; globally, the top-10 hottest keys with an integer-exact
    'hot' verdict (cnt · n_keys > 2 · n_total ⇔ the key carries more
    than 2x the mean key load — the cross-multiplied form never
    touches a float). At 100 TB this one cheap aggregate decides
    between a plain shuffle join, AQE skew handling, or explicit
    salting — measured, not guessed.

    Scale: one map-side-partial groupBy to |keys| rows; top-10 via
    orderBy+limit — Spark plans TakeOrderedAndProject, a DISTRIBUTED
    partial top-k (each task keeps 10, the driver merges 10·tasks
    rows), never a single-task sort over the key table (|keys| is
    corpus-sized at 100 TB — a constant-key ranking window here would
    be exactly the antipattern this profiler exists to prevent);
    the rank is then attached on the 10-row result. Totals are a
    1-row broadcast. Full exact oracle (counts, ranks with total
    tie-break, integer verdict)."""
    from pyspark.sql import Window

    from ..operators.ranks import constant_partition_key as _ck

    o = _t(spark, sf_dir, "orders")
    kc = o.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count("*").cast("long").alias("cnt")
    )
    tot = kc.agg(
        F.sum("cnt").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("n_keys"),
    )
    top10 = kc.orderBy(F.col("cnt").desc(), F.col("key")).limit(10)
    w = Window.partitionBy(_ck(F.col("key"))).orderBy(
        F.col("cnt").desc(), F.col("key")
    )
    top = top10.withColumn("rnk", F.row_number().over(w))
    return top.join(F.broadcast(tot)).select(
        F.col("rnk").cast("long").alias("rnk"),
        "key",
        "cnt",
        "n_total",
        "n_keys",
        (F.col("cnt") * F.col("n_keys") > 2 * F.col("n_total")).alias(
            "hot"
        ),
    )


# ---------------------------------------------------------------------------
# p_profile_drift — GX-role batch-over-batch profile drift gate
# ---------------------------------------------------------------------------


@query(
    "p_profile_drift",
    oracle="""
    WITH cut AS (
      SELECT CAST(epoch_us(MIN(ts)) AS BIGINT)
             + CAST(epoch_us(MAX(ts)) AS BIGINT) AS mid2 FROM events
    ), lab AS (
      SELECT e.event_type, e.user_id, e.props,
             2 * CAST(epoch_us(e.ts) AS BIGINT) < cut.mid2 AS is_a
      FROM events e CROSS JOIN cut
    ), prof AS (
      SELECT event_type,
             CAST(COUNT(*) FILTER (is_a) AS BIGINT) AS rows_a,
             CAST(COUNT(*) FILTER (NOT is_a) AS BIGINT) AS rows_b,
             CAST(COUNT(DISTINCT user_id) FILTER (is_a) AS BIGINT)
               AS users_a,
             CAST(COUNT(DISTINCT user_id) FILTER (NOT is_a) AS BIGINT)
               AS users_b,
             CAST(COUNT(*) FILTER (is_a AND props IS NULL) AS BIGINT)
               AS null_a,
             CAST(COUNT(*) FILTER (NOT is_a AND props IS NULL) AS BIGINT)
               AS null_b
      FROM lab GROUP BY event_type
    )
    SELECT event_type, rows_a, rows_b, users_a, users_b, null_a, null_b,
           rows_b * 10 >= rows_a * 5 AND rows_b * 5 <= rows_a * 10
             AS volume_ok,
           users_b * 10 >= users_a * 5 AND users_b * 5 <= users_a * 10
             AS reach_ok,
           null_b * rows_a * 10 <= null_a * rows_b * 20 + rows_a * rows_b
             AS nullrate_ok
    FROM prof
    """,
)
def p_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-over-batch PROFILE DRIFT gate — the Great-Expectations
    role applied between corpus batches rather than within one (the
    reference's checkpoint validates each load in isolation,
    airflow-setup.py:457; production pipelines also need "this load
    looks like the LAST load"): split events at the time midpoint,
    profile each half per event_type (row volume, distinct-user
    reach, props null rate), and emit integer-exact verdicts —

      volume_ok   — batch-B rows within 2x either way of batch-A
      reach_ok    — distinct users within 2x either way
      nullrate_ok — null rate grew by less than 2x + 10pp slack
                    (cross-multiplied: null_b/rows_b ≤ 2·null_a/rows_a
                    + 0.1, all in exact integers)

    Every profile stat is an exact BIGINT and every verdict an
    integer cross-multiplication — full exact oracle, no bands, and
    the thresholds are deterministic at any SF. Scale: one fact scan
    with FILTER-conditional aggregates into |event_types| rows; the
    midpoint is a 1-row broadcast; distinct-user counts are the only
    expand (2 per row), partial-aggregated map-side."""
    e = _t(spark, sf_dir, "events")
    # midpoint as EXACT integer microseconds: 2·epoch(ts) < epoch(min)
    # + epoch(max) — no interval arithmetic, no float boundary
    # ts loads as TIMESTAMP_NTZ on the current fixtures; the session
    # is pinned UTC (catalog.load), so the cast is the identity and
    # matches DuckDB's epoch_us on the same parquet values
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    cut = e.agg((us(F.min("ts")) + us(F.max("ts"))).alias("mid2"))
    lab = e.crossJoin(F.broadcast(cut)).select(
        "event_type",
        "user_id",
        "props",
        (us(F.col("ts")) * 2 < F.col("mid2")).alias("is_a"),
    )
    isa = F.col("is_a")
    prof = lab.groupBy("event_type").agg(
        F.count_if(isa).alias("rows_a"),
        F.count_if(~isa).alias("rows_b"),
        F.count_distinct(F.when(isa, F.col("user_id"))).alias("users_a"),
        F.count_distinct(F.when(~isa, F.col("user_id"))).alias("users_b"),
        F.count_if(isa & F.col("props").isNull()).alias("null_a"),
        F.count_if((~isa) & F.col("props").isNull()).alias("null_b"),
    )
    ra, rb = F.col("rows_a"), F.col("rows_b")
    ua, ub = F.col("users_a"), F.col("users_b")
    na, nb = F.col("null_a"), F.col("null_b")
    return prof.select(
        "event_type",
        ra, rb, ua, ub, na, nb,
        ((rb * 10 >= ra * 5) & (rb * 5 <= ra * 10)).alias("volume_ok"),
        ((ub * 10 >= ua * 5) & (ub * 5 <= ua * 10)).alias("reach_ok"),
        (nb * ra * 10 <= na * rb * 20 + ra * rb).alias("nullrate_ok"),
    )


# ---------------------------------------------------------------------------
# stream_pca_checked — incremental PCA from streamed moment snapshots
# ---------------------------------------------------------------------------


@query(
    "stream_pca_checked",
    oracle="""
    SELECT CAST(unnest(generate_series(0, LEN(embedding) - 1)) AS BIGINT)
             AS dim,
           TRUE AS ok
    FROM (SELECT embedding FROM embeddings LIMIT 1)
    """,
)
def stream_pca_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL PCA made driver-checkable — the composition the
    moment-sink family exists for: push the embedding corpus through
    streaming/jobs.moment_stats_sink in THREE micro-batches, read the
    final (i, j, s) sufficient-statistics snapshot, and run the SAME
    centered-gram + lazy power-iteration fixpoint the batch PCA
    (emb_pca_power_banded) runs — then assert per dimension that the
    streamed-and-merged component equals the one-shot batch component
    within 1e-6 (the merge is an associative SUM: the two paths
    differ only by float summation order, ~1e-15, nine orders inside
    the band; deterministic at fixed data → all-TRUE DuckDB twin).

    This closes the trainer-maintenance loop: models whose sufficient
    statistics are additive (PCA/covariance here, the moment tables
    generally) can be maintained INCREMENTALLY by a streaming sink
    and re-solved fit-free at read time — no retraining scan over a
    100 TB corpus; the nightly job reads d²+d+1 cells.

    Eager at build time (three availableNow sink writes into scratch
    — the documented bounded-lint-execution class); both PCA
    fixpoints and the comparison stay lazy."""
    from ..operators import linalg
    from ..streaming import jobs

    base = _scratch("pca_inc")
    e = _t(spark, sf_dir, "embeddings")
    sink = jobs.moment_stats_sink(base)
    for b in range(3):
        sink(e.filter(F.col("vec_id") % 3 == b), b)

    inc = spark.read.parquet(os.path.join(base, "v2")).select("i", "j", "s")
    v_inc = linalg.power_iteration(linalg.centered_gram(inc), 6)
    v_bat = linalg.power_iteration(
        linalg.centered_gram(linalg.moment_partials(e)), 6
    )
    return (
        v_inc.select(F.col("j").alias("dim"), F.col("vj").alias("v_inc"))
        .join(
            v_bat.select(
                F.col("j").alias("dim"), F.col("vj").alias("v_bat")
            ),
            "dim",
            "full_outer",
        )
        .select(
            F.col("dim").cast("long").alias("dim"),
            (
                F.col("v_inc").isNotNull()
                & F.col("v_bat").isNotNull()
                & (F.abs(F.col("v_inc") - F.col("v_bat")) <= 1e-6)
            ).alias("ok"),
        )
    )


# ---------------------------------------------------------------------------
# g_sssp_bounded — weighted shortest paths (Bellman-Ford rounds)
# ---------------------------------------------------------------------------

_SSSP_SOURCES = 5
_SSSP_ROUNDS = 4


def _sssp_round_sql(r: int) -> str:
    """One unrolled weighted relaxation round (operators/graph.
    sssp_bounded recurrence — min over in-edges of dist + w, sources
    clamped to 0; iterate referenced once per round on both
    engines)."""
    return f"""
    , c{r} AS (
      SELECT e.dst AS vid, MIN(d.dist + e.w) AS nd
      FROM edges e JOIN d{r - 1} d ON d.vid = e.src
      WHERE d.dist IS NOT NULL
      GROUP BY e.dst
    ), d{r} AS (
      SELECT v.vid,
             CASE WHEN v.vid < {_SSSP_SOURCES} THEN 0 ELSE c.nd END AS dist
      FROM verts v LEFT JOIN c{r} c ON c.vid = v.vid
    )
    """


@query(
    "g_sssp_bounded",
    oracle=(
        f"""
    WITH edges0 AS (
      SELECT DISTINCT o_orderkey % 200 AS src,
                      200 + o_orderkey % 190 AS dst
      FROM orders
    ), edges AS (
      SELECT src, dst, 1 + (src + dst) % 5 AS w FROM edges0
      UNION ALL
      SELECT dst AS src, src AS dst, 1 + (src + dst) % 5 AS w FROM edges0
    ), verts AS (
      SELECT DISTINCT src AS vid FROM edges
      UNION
      SELECT DISTINCT dst AS vid FROM edges
    ), d0 AS (
      SELECT vid, CASE WHEN vid < {_SSSP_SOURCES} THEN 0 END AS dist
      FROM verts
    )"""
        + "".join(_sssp_round_sql(r) for r in range(1, _SSSP_ROUNDS + 1))
        + f"""
    SELECT CAST(vid AS BIGINT) AS id, CAST(dist AS BIGINT) AS dist
    FROM d{_SSSP_ROUNDS}
    """
    ),
)
def g_sssp_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED single-source-set shortest paths on the derived order
    graph (same topology as g_bfs_hops; integer edge weights
    1 + (src+dst) % 5, symmetric by construction) — Bellman-Ford as 4
    synchronous relaxation rounds (operators/graph.sssp_bounded, the
    weighted generalization of bfs_distances: cost-aware routing /
    weighted proximity where BFS gives only hops).

    Exact cross-engine oracle: the DuckDB twin unrolls the SAME 4
    rounds over the SAME derived weighted graph; weights and
    distances are integers and MIN is order-insensitive — no bands.
    Contract: dist = optimum among paths of ≤ 4 edges, NULL beyond
    the horizon (monotone non-increasing in rounds).

    Scale: iterate referenced once per round (linear plan growth);
    each round is one edges⋈frontier shuffle + map-side-partial MIN —
    the Pregel message pattern relationally."""
    from ..operators.graph import sssp_bounded

    o = _t(spark, sf_dir, "orders")
    edges0 = o.select(
        (F.col("o_orderkey") % 200).alias("src"),
        (F.lit(200) + F.col("o_orderkey") % 190).alias("dst"),
    ).distinct()
    w = (F.lit(1) + (F.col("src") + F.col("dst")) % 5).alias("w")
    edges = edges0.select("src", "dst", w).unionByName(
        edges0.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), w
        )
    )
    sources = spark.range(_SSSP_SOURCES).select(F.col("id").alias("vid"))
    return sssp_bounded(edges, sources, iterations=_SSSP_ROUNDS)


# ---------------------------------------------------------------------------
# Round-8 analytics batch: rank correlation, association strength,
# cumulative hazard, readability, and temperature-scaled mixing.
# ---------------------------------------------------------------------------


@query(
    "a_spearman_corr",
    oracle="""
    WITH h AS (
      SELECT CAST(FLOOR(EPOCH(ts) / 3600) AS BIGINT) AS hr,
             CAST(COUNT(*) AS BIGINT) AS x,
             CAST(ROUND(SUM(value) * 100, 0) AS BIGINT) AS y
      FROM events GROUP BY 1
    ), r AS (
      SELECT x, y,
             RANK() OVER (ORDER BY x)
               + (COUNT(*) OVER (PARTITION BY x) - 1) / 2.0 AS mx,
             RANK() OVER (ORDER BY y)
               + (COUNT(*) OVER (PARTITION BY y) - 1) / 2.0 AS my
      FROM h
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(mx) AS sx, SUM(my) AS sy, SUM(mx * my) AS sxy,
             SUM(mx * mx) AS sxx, SUM(my * my) AS syy
      FROM r
    )
    SELECT n,
           ROUND((n * sxy - sx * sy)
                 / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)),
                 6) AS rho
    FROM m
    """,
)
def a_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between hourly event VOLUME and
    hourly REVENUE (monotone-association monitor — the robust
    companion to the Pearson-based a_crosscorrelation): textbook
    midranks (RANK + (ties−1)/2) over the bounded hourly table, then
    Pearson on the ranks.

    Determinism: x is an integer count, y the money-grid integer
    (ROUND(Σvalue·100)), so tie DETECTION is exact in both engines —
    never on float equality; midranks are exact dyadic halves and
    every moment sum stays < 2⁵³, so Σmx, Σmxmy … are EXACT doubles
    regardless of summation order; the only irrational step is the
    final SQRT/division (IEEE-identical), rounded at 1e-6.

    Scale: one map-side-partial scan to ≤ |corpus hours| rows; ranks
    are windows over that bounded aggregate (constant partition key —
    never a corpus window); the correlation is a 1-row reduce."""
    from pyspark.sql import Window

    from ..operators.ranks import constant_partition_key as _ck

    e = _t(spark, sf_dir, "events")
    h = e.groupBy(
        F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("hr")
    ).agg(
        F.count("*").cast("long").alias("x"),
        F.round(F.sum("value") * 100, 0).cast("long").alias("y"),
    )
    k = _ck(F.col("hr"))

    def midrank(col: str):
        r = F.rank().over(Window.partitionBy(k).orderBy(col))
        c = F.count("*").over(Window.partitionBy(k, F.col(col)))
        return r + (c - 1) / 2.0

    r = h.select(
        midrank("x").alias("mx"), midrank("y").alias("my")
    )
    m = r.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("mx").alias("sx"),
        F.sum("my").alias("sy"),
        F.sum(F.col("mx") * F.col("my")).alias("sxy"),
        F.sum(F.col("mx") * F.col("mx")).alias("sxx"),
        F.sum(F.col("my") * F.col("my")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    return m.select(
        "n",
        F.round(
            (n * F.col("sxy") - sx * sy)
            / F.sqrt(
                (n * F.col("sxx") - sx * sx) * (n * F.col("syy") - sy * sy)
            ),
            6,
        ).alias("rho"),
    )


@query(
    "a_cramers_v",
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
      SELECT obs.o, CAST(ro AS DOUBLE) * co / n AS e
      FROM obs JOIN rows_ USING (event_type)
               JOIN cols_ USING (hod)
               CROSS JOIN tot
    ), chi AS (
      SELECT SUM((o - e) * (o - e) / e) AS chi2,
             (SELECT n FROM tot) AS n,
             (SELECT COUNT(*) FROM rows_) AS r,
             (SELECT COUNT(*) FROM cols_) AS c
      FROM cells
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(chi2, 4) AS chi2,
           ROUND(SQRT(chi2 / (n * LEAST(r - 1, c - 1))), 6) AS cramers_v
    FROM chi
    """,
)
def a_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V — the EFFECT-SIZE reading of a_chi2_independence's
    contingency table (χ² says "dependent?", V says "how strongly" on
    [0,1] — the association member of the a_effect_sizes family):
    V = √(χ² / (n·min(r−1, c−1))) over the same event_type ×
    hour-of-day table. Same bounded shape: one map-side-partial scan
    to ≤ types×24 cells, broadcast margins, a ≤120-cell reduce.
    χ² rounded at 1e-4 (the chi2 query's grid — the cell sum is the
    one order-sensitive float reduce, noise ~1e-10 of magnitude); V's
    sqrt is IEEE-identical on the same double."""
    e = _t(spark, sf_dir, "events")
    obs = (
        e.select(
            "event_type",
            (F.floor(F.unix_timestamp("ts") / 3600) % 24)
            .cast("long")
            .alias("hod"),
        )
        .groupBy("event_type", "hod")
        .agg(F.count("*").alias("o"))
    )
    rows_ = obs.groupBy("event_type").agg(F.sum("o").alias("ro"))
    cols_ = obs.groupBy("hod").agg(F.sum("o").alias("co"))
    tot = obs.agg(
        F.sum("o").alias("n"),
        F.countDistinct("event_type").alias("r"),
        F.countDistinct("hod").alias("c"),
    )
    # r/c recomputed in tot from obs (same source — equal to the
    # margin-table counts, one fewer broadcast)
    cells = (
        obs.join(F.broadcast(rows_), "event_type")
        .join(F.broadcast(cols_), "hod")
        .join(F.broadcast(tot))
        .select(
            "o",
            (F.col("ro").cast("double") * F.col("co") / F.col("n")).alias(
                "e"
            ),
            "n",
            "r",
            "c",
        )
    )
    return cells.groupBy("n", "r", "c").agg(
        F.sum(
            (F.col("o") - F.col("e")) * (F.col("o") - F.col("e"))
            / F.col("e")
        ).alias("chi2_raw")
    ).select(
        F.col("n").cast("long").alias("n"),
        F.round("chi2_raw", 4).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2_raw")
                / (F.col("n") * F.least(F.col("r") - 1, F.col("c") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


@query(
    "a_nelson_aalen",
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
    ), alldur AS (
      SELECT dur, COUNT(*) AS c FROM lab GROUP BY dur
    ), riskbase AS (
      SELECT dur,
             SUM(c) OVER (ORDER BY dur
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS before_cnt,
             SUM(c) OVER () AS n_total
      FROM alldur
    ), death AS (
      SELECT dur, CAST(COUNT(*) AS BIGINT) AS d
      FROM lab WHERE observed GROUP BY dur
    ), steps AS (
      SELECT death.dur,
             CAST(riskbase.n_total - COALESCE(riskbase.before_cnt, 0)
                  AS BIGINT) AS n_risk,
             death.d
      FROM death JOIN riskbase USING (dur)
    )
    SELECT dur AS dur_h, n_risk AS n_at_risk, d AS n_deaths,
           ROUND(SUM(CAST(d AS DOUBLE) / n_risk) OVER w, 6) AS cum_hazard,
           ROUND(EXP(-SUM(CAST(d AS DOUBLE) / n_risk) OVER w), 6)
             AS fh_survival
    FROM steps
    WINDOW w AS (ORDER BY dur
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def a_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative hazard (+ the Fleming–Harrington
    survival exp(−H)) over the SAME censored-lifetime table as
    a_survival_km — the hazard-scale reading of the retention curve
    (H's increments d/n are the per-hour churn intensities a
    capacity/alerting model consumes directly; KM's product form
    answers "what fraction survives", this answers "how fast are we
    losing them"). Identical derivation: integer d and n_risk per
    distinct lifetime, an ORDER-sequenced running sum (deterministic
    — never a float reduce across unordered rows), 1-ulp exp drift
    absorbed by the 1e-6 grid. Scale: one fact scan to per-user
    spans; everything after is windows over the bounded
    distinct-lifetime table with a constant partition key."""
    from pyspark.sql import Window

    from ..operators.ranks import constant_partition_key as _ck

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
    alldur = lab.groupBy("dur").agg(F.count("*").alias("c"))
    k = _ck(F.col("dur"))
    w_before = (
        Window.partitionBy(k)
        .orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_tot = Window.partitionBy(k).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    riskbase = alldur.select(
        "dur",
        F.coalesce(F.sum("c").over(w_before), F.lit(0)).alias("before_cnt"),
        F.sum("c").over(w_tot).alias("n_total"),
    )
    death = (
        lab.filter("observed").groupBy("dur").agg(F.count("*").alias("d"))
    )
    steps = death.join(riskbase, "dur").select(
        "dur",
        (F.col("n_total") - F.col("before_cnt")).cast("long").alias(
            "n_risk"
        ),
        F.col("d").cast("long").alias("d"),
    )
    w_cum = (
        Window.partitionBy(_ck(F.col("dur")))
        .orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    hz = F.sum(F.col("d").cast("double") / F.col("n_risk")).over(w_cum)
    return steps.select(
        F.col("dur").alias("dur_h"),
        F.col("n_risk").alias("n_at_risk"),
        F.col("d").alias("n_deaths"),
        F.round(hz, 6).alias("cum_hazard"),
        F.round(F.exp(-hz), 6).alias("fh_survival"),
    )


@query(
    "text_readability",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             CAST(LEN(list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> len(x) > 0)) AS BIGINT) AS n_words,
             CAST(LEN(list_filter(string_split_regex(text, '[.!?]+'),
                                  x -> len(trim(x)) > 0)) AS BIGINT)
               AS n_sents,
             CAST(LEN(regexp_extract_all(lower(text), '[aeiouy]+'))
                  AS BIGINT) AS n_syll
      FROM documents
    )
    SELECT doc_id, n_words, n_sents, n_syll,
           CASE WHEN n_words > 0 AND n_sents > 0
                THEN 206835 * n_sents * n_words
                     - 1015 * n_words * n_words
                     - 84600 * n_syll * n_sents
                ELSE NULL END AS flesch_e3_num,
           CASE WHEN n_words > 0 AND n_sents > 0
                THEN 1000 * n_sents * n_words ELSE NULL END AS flesch_den
    FROM t
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease readability per document — a standard text
    QUALITY feature alongside the Gopher/C4 heuristics (curation
    pipelines bucket documents by readability before mixing):
    F = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words),
    with whitespace words (the text family's expression), [.!?]+
    sentence segments, and vowel-group syllable approximation.

    Shipped as the EXACT INTEGER fraction flesch_e3_num/flesch_den
    (= F·1000 — multiply the definition by 1000·S·W: the band-grid
    lesson's ship-the-integers endgame; a ROUND of the rational F can
    land on a cross-engine half-grid point). NULL for empty docs, per
    CASE — no try_divide band. The fixture's synthetic text has no
    sentence punctuation, so n_sents = 1 throughout (documented;
    the sentence term degenerates to W, the syllable term still
    varies — production text exercises both). Map-only scan, zero
    shuffle, zero UDF (codegen regex + HOF filters)."""
    d = _t(spark, sf_dir, "documents")
    words = F.size(
        F.filter(
            F.split(F.lower("text"), r"\s+"), lambda w: F.length(w) > 0
        )
    ).cast("long")
    sents = F.size(
        F.filter(
            F.split(F.col("text"), r"[.!?]+"),
            lambda s: F.length(F.trim(s)) > 0,
        )
    ).cast("long")
    syll = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit("[aeiouy]+"), F.lit(0))
    ).cast("long")
    t = d.select(
        "doc_id",
        words.alias("n_words"),
        sents.alias("n_sents"),
        syll.alias("n_syll"),
    )
    ok = (F.col("n_words") > 0) & (F.col("n_sents") > 0)
    return t.select(
        "doc_id",
        "n_words",
        "n_sents",
        "n_syll",
        F.when(
            ok,
            F.lit(206835) * F.col("n_sents") * F.col("n_words")
            - F.lit(1015) * F.col("n_words") * F.col("n_words")
            - F.lit(84600) * F.col("n_syll") * F.col("n_sents"),
        ).alias("flesch_e3_num"),
        F.when(ok, F.lit(1000) * F.col("n_sents") * F.col("n_words")).alias(
            "flesch_den"
        ),
    )


@query(
    "p_mixture_temperature",
    oracle=r"""
    WITH tok AS (
      SELECT source,
             LEN(list_filter(string_split_regex(lower(text), '\s+'),
                             x -> len(x) > 0)) AS n_tok
      FROM documents
    ), tot AS (
      SELECT source, CAST(SUM(n_tok) AS BIGINT) AS src_tokens
      FROM tok GROUP BY 1
    ), w AS (
      SELECT source, src_tokens,
             SQRT(CAST(src_tokens AS DOUBLE)
                  / (SELECT SUM(src_tokens) FROM tot)) AS wr
      FROM tot
    )
    SELECT source, src_tokens,
           CAST(FLOOR(wr / (SELECT SUM(wr) FROM w) * 1000000) AS BIGINT)
             AS weight_e6
    FROM w
    """,
)
def p_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixing (the multilingual-sampling
    rule of mBERT/XLM-R and the Pile's upweighting, T=2 ⇒ α=1/2):
    sampling weight ∝ share^(1/T), renormalized — boosts small
    sources without letting any dominate, the smooth alternative to
    p_domain_reweight's hard uniform target. α=1/2 is computed as
    SQRT (IEEE-correctly-rounded in both engines — deliberately NOT
    POW, whose libm rounding may differ), weights FLOOR-banded at
    1e-6 (genuinely irrational — FLOOR is the stable choice per the
    band-grid lesson; src_tokens stays the exact integer). One corpus
    scan → |sources| rows; the two normalizers are 1-row
    broadcasts."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "source",
        F.size(
            F.filter(
                F.split(F.lower("text"), r"\s+"), lambda w: F.length(w) > 0
            )
        ).alias("n_tok"),
    )
    tot = tok.groupBy("source").agg(
        F.sum("n_tok").cast("long").alias("src_tokens")
    )
    grand = tot.agg(F.sum("src_tokens").alias("grand"))
    w = tot.join(F.broadcast(grand)).select(
        "source",
        "src_tokens",
        F.sqrt(F.col("src_tokens").cast("double") / F.col("grand")).alias(
            "wr"
        ),
    )
    z = w.agg(F.sum("wr").alias("z"))
    return w.join(F.broadcast(z)).select(
        "source",
        "src_tokens",
        F.floor(F.col("wr") / F.col("z") * 1000000)
        .cast("long")
        .alias("weight_e6"),
    )


_KNN_IVF_NPROBE = 12
_KNN_IVF_AGREE_FLOOR = 0.75


@query(
    "sim_knn_classify_ivf",
    oracle=f"""
    SELECT (SELECT COUNT(*) FROM embeddings
            WHERE {_KNN_SPLIT_SQL} >= 80 AND vec_id < {_KNN_COHORT})
             AS n_queries,
           TRUE AS agree_ok
    """,
)
def sim_knn_classify_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classification SERVED FROM THE PERSISTED IVF INDEX
    (VERDICT r07 item 8 — closes the loop between the index lifecycle
    and a consumer query): identical cohort, voting rule and
    tie-breaks as sim_knn_classify, but neighbors come from
    ivf_index_search over the cell-partitioned postings (partition-
    pruned probes) instead of the brute-force corpus scan — the
    production serving path at 100 TB, where scanning the corpus per
    query batch is not an option.

    Banded check (the _register_ann_recall convention): the IVF
    classifier's predictions must AGREE with the exact brute-force
    classifier on ≥ {_KNN_IVF_AGREE_FLOOR} of the cohort. Measured
    agreement at n_probe={_KNN_IVF_NPROBE}/16 cells: 0.913 (sf0.001)
    / 0.870 (sf0.01) — the floor sits under the measured minimum, so
    the check is deterministic at fixed data (quantizer sample and
    Lloyd rounds are seeded; all-TRUE DuckDB twin). n_queries is a
    real cross-engine integer: every cohort member must receive a
    prediction from BOTH paths (full-outer join + coalesced count),
    so dropped queries can't hide inside the band.

    Scale gating (VERDICT r08 item 6, the a_sketch_rollup pattern):
    the brute-force agreement arm is VERIFICATION cost, not serving
    cost — it runs only at the oracle scales (sf ≤ 0.01, the driver's
    correctness gate; the CORRECTNESS row is unchanged). At bench and
    production scale the same projection is filled by a same-scan
    COVERAGE check — every cohort member must receive a prediction
    from the pruned search (catches pruning bugs that silently drop
    queries) — so the demonstrated plan is index build + ONE pruned
    probe pass + vote, the true serving shape. Measured cost split at
    sf0.1 (local[32]) while making this choice: index build 10.3 s,
    pruned search 3.3 s, brute-force arm 1.5 s — the bf arm was NOT
    the dominant cost (the eager lifecycle build is, as for the other
    persisted-index queries), and a probe-stability twin (second
    search at n_probe-2, agreement 0.891) would have cost MORE than
    the arm it replaced, so coverage is the honest bench-scale check.

    Eager at build time (index build — the sanctioned lifecycle
    exception); both search paths and the vote stay lazy. The
    16-cell/12-probe geometry is fixture-sized; production geometry
    is thousands of cells with n_probe ≈ √cells — the plumbing
    (build → persisted postings → pruned search → vote) is what this
    query pins."""
    from .relational import _oracle_scale
    from ..functions.columns import portable_bucket
    from ..operators import similarity

    e = _t(spark, sf_dir, "embeddings")
    split = portable_bucket(F.col("vec_id"), 100)
    train = e.filter(split < 80)
    test = e.filter(
        (split >= 80) & (F.col("vec_id") < _KNN_COHORT)
    ).withColumnRenamed("vec_id", "query_id")

    base = os.path.join(_scratch("knn_ivf"), "idx")
    similarity.ivf_index_build(train, base, n_centroids=16)

    def pred_of(nbrs: DataFrame) -> DataFrame:
        votes = (
            nbrs.join(
                train.select(
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("label").alias("nlabel"),
                ),
                "neighbor_id",
            )
            .groupBy("query_id", "nlabel")
            .agg(F.count("*").alias("c"))
        )
        return votes.groupBy("query_id").agg(
            F.max(
                F.struct(
                    F.col("c"), (-F.col("nlabel")).cast("long").alias("nl")
                )
            ).alias("m")
        ).select("query_id", (-F.col("m.nl")).alias("pred"))

    iv = pred_of(
        similarity.ivf_index_search(
            test, base, k=_KNN_K, n_probe=_KNN_IVF_NPROBE,
            query_id="query_id",
        )
    ).withColumnRenamed("pred", "p_ivf")
    if _oracle_scale(sf_dir):
        bf = pred_of(
            similarity.brute_force_topk(test, train, k=_KNN_K)
        ).withColumnRenamed("pred", "p_bf")
        j = bf.join(iv, "query_id", "full_outer")
        return j.agg(
            F.count("*").cast("long").alias("n_queries"),
            (
                F.sum(
                    (F.col("p_bf") == F.col("p_ivf")).cast("long")
                )
                >= F.count("*") * F.lit(_KNN_IVF_AGREE_FLOOR)
            ).alias("agree_ok"),
        )
    j = test.select("query_id").join(iv, "query_id", "full_outer")
    return j.agg(
        F.count("*").cast("long").alias("n_queries"),
        (
            F.sum(F.col("p_ivf").isNotNull().cast("long"))
            == F.count("*")
        ).alias("agree_ok"),
    )
