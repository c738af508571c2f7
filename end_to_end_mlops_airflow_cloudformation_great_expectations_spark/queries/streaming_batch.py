"""Batch-mode twins of the streaming operators (SURVEY.md §2.9).

The driver's oracle is batch SQL, so T1-T3/T5/T7 register here as
batch DataFrame queries using the SAME transformation functions as the
streaming jobs (streaming/jobs.py) — ``window`` / ``session_window`` /
dedup / stream-static join run identically on a static DataFrame.
The genuinely streaming-only behaviors (watermark late-data drop,
``applyInPandasWithState``, the foreachBatch gate) are driven by real
``readStream`` queries in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog
from ..streaming import jobs
from .registry import query


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return catalog.load(spark, sf_dir, "events")


@query(
    "t1_tumbling_window",
    oracle="""
    SELECT CAST(FLOOR(EPOCH(ts) / 600) AS BIGINT) * 600 AS wstart,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def t1_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: 10-minute tumbling event-time windows per event type."""
    return jobs.tumbling_agg(_events(spark, sf_dir), "10 minutes")


@query(
    "t2_sliding_window",
    oracle="""
    WITH assigned AS (
      SELECT CAST(FLOOR(EPOCH(ts) / 300) AS BIGINT) * 300 AS wstart, value
      FROM events
      UNION ALL
      SELECT CAST(FLOOR(EPOCH(ts) / 300) AS BIGINT) * 300 - 300 AS wstart, value
      FROM events
    )
    SELECT wstart, COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
    FROM assigned GROUP BY wstart
    """,
)
def t2_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: 10-minute windows sliding every 5 — each event contributes
    to exactly 2 windows (oracle assigns both starts explicitly)."""
    return jobs.sliding_agg(_events(spark, sf_dir), "10 minutes", "5 minutes")


@query(
    "t3_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts - LAG(ts) OVER w >= INTERVAL 6 HOUR
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
      SELECT user_id, ts, value,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged
    )
    SELECT user_id,
           CAST(FLOOR(EPOCH(MIN(ts))) AS BIGINT) AS session_start,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM numbered GROUP BY user_id, sess_id
    """,
)
def t3_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: 6-hour-gap sessionization — ``session_window`` in Spark,
    gaps-and-islands SQL in the oracle (identical semantics: a gap of
    exactly the threshold starts a new session)."""
    return jobs.session_agg(_events(spark, sf_dir), "6 hours")


@query(
    "t5_dedup_keyed",
    oracle="""
    SELECT user_id, event_type,
           MIN(event_id) AS first_event_id,
           COUNT(*) AS n_dupes
    FROM events GROUP BY user_id, event_type
    """,
)
def t5_dedup_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 batch twin: deterministic dedup on a composite key with a
    min-keeper (streaming ``dropDuplicates`` keeps the first arrival,
    which isn't cross-engine reproducible; the keeper rule is)."""
    return (
        _events(spark, sf_dir)
        .groupBy("user_id", "event_type")
        .agg(
            F.min("event_id").alias("first_event_id"),
            F.count("*").alias("n_dupes"),
        )
    )


@query(
    "t7_stream_static_join",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
)
def t7_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7: stream⋈static-dim enrichment, aggregated per segment (the
    join itself is jobs.stream_static_join; broadcast per micro-batch)."""
    enriched = jobs.stream_static_join(
        _events(spark, sf_dir), catalog.load(spark, sf_dir, "customer")
    )
    return (
        enriched.filter(F.col("c_mktsegment").isNotNull())
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@query(
    "t9_stream_stream_join",
    oracle="""
    SELECT CAST(v.user_id AS BIGINT) AS user_id,
           CAST(v.event_id AS BIGINT) AS view_id,
           CAST(p.event_id AS BIGINT) AS purchase_id,
           CAST(FLOOR(EPOCH(v.ts)) AS BIGINT) AS view_epoch,
           CAST(FLOOR(EPOCH(p.ts)) AS BIGINT) AS purchase_epoch
    FROM events v
    JOIN events p
      ON p.user_id = v.user_id
     AND p.event_type = 'purchase'
     AND v.ts <= p.ts
     AND v.ts >= p.ts - INTERVAL 30 MINUTE
    WHERE v.event_type = 'view'
    """,
)
def t9_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9 batch twin: stream-STREAM interval join (purchase attribution
    to same-user views within the preceding 30 minutes). The exact
    transformation function the streaming job runs
    (jobs.stream_stream_join — withWatermark is a no-op on batch
    inputs); the real two-stream watermarked join is driven in
    tests/test_streaming_advanced.py and must equal this result."""
    e = _events(spark, sf_dir)
    return jobs.stream_stream_join(
        e.filter(F.col("event_type") == "view"),
        e.filter(F.col("event_type") == "purchase"),
    )


@query(
    "t10_stream_asof_join",
    oracle="""
    WITH pairs AS (
      SELECT v.user_id, v.event_id AS view_id, v.ts AS v_ts,
             p.event_id AS purchase_id, p.ts AS p_ts
      FROM events v
      JOIN events p
        ON p.user_id = v.user_id
       AND p.event_type = 'purchase'
       AND v.ts <= p.ts
       AND v.ts >= p.ts - INTERVAL 30 MINUTE
      WHERE v.event_type = 'view'
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(purchase_id AS BIGINT) AS purchase_id,
           CAST(view_id AS BIGINT) AS asof_view_id,
           CAST(FLOOR(EPOCH(v_ts)) AS BIGINT) AS view_epoch,
           CAST(FLOOR(EPOCH(p_ts)) AS BIGINT) AS purchase_epoch
    FROM pairs
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY purchase_id ORDER BY v_ts DESC, view_id DESC
    ) = 1
    """,
)
def t10_stream_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T10 batch twin: stream-STREAM AS-OF join — the latest same-user
    view within 30 minutes before each purchase, one row per purchase
    (jobs.stream_asof_join: watermarked interval join chained into a
    time-window aggregation, Spark's composable substitute for a
    native streaming as-of operator). The oracle ranks the T9 pair set
    with the identical (v_ts, view_id) tie-break; the real two-stream
    watermarked run is driven in tests/test_streaming_advanced.py and
    must equal this result."""
    e = _events(spark, sf_dir)
    return jobs.stream_asof_join(
        e.filter(F.col("event_type") == "view"),
        e.filter(F.col("event_type") == "purchase"),
    )


@query(
    "t10b_stream_asof_left",
    oracle="""
    WITH pairs AS (
      SELECT p.user_id, p.event_id AS purchase_id, p.ts AS p_ts,
             v.event_id AS view_id, v.ts AS v_ts
      FROM events p
      LEFT JOIN events v
        ON v.user_id = p.user_id
       AND v.event_type = 'view'
       AND v.ts <= p.ts
       AND v.ts >= p.ts - INTERVAL 30 MINUTE
      WHERE p.event_type = 'purchase'
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(purchase_id AS BIGINT) AS purchase_id,
           CAST(view_id AS BIGINT) AS asof_view_id,
           CAST(FLOOR(EPOCH(v_ts)) AS BIGINT) AS view_epoch,
           CAST(FLOOR(EPOCH(p_ts)) AS BIGINT) AS purchase_epoch
    FROM pairs
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY purchase_id
      ORDER BY v_ts DESC NULLS LAST, view_id DESC NULLS LAST
    ) = 1
    """,
)
def t10b_stream_asof_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T10 LEFT variant: every purchase keeps a row — the attribution
    report's interesting rows are exactly the NULL-view ones (organic
    purchases with no preceding view). Same composed pipeline with the
    outer interval join; the aggregation needs no change because the
    outer join emits one all-null match row per unmatched purchase and
    max(struct) carries its null fields through."""
    e = _events(spark, sf_dir)
    return jobs.stream_asof_join(
        e.filter(F.col("event_type") == "view"),
        e.filter(F.col("event_type") == "purchase"),
        how="left_outer",
    )


@query(
    "t_doc_intake",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, source, text,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> len(x) > 0) AS ws,
             md5(trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS fingerprint
      FROM documents
    ), m AS (
      SELECT doc_id, source, fingerprint,
             LEN(ws) AS n_words,
             list_aggregate(list_transform(ws, x -> CAST(LEN(x) AS DOUBLE)),
                            'sum') / LEN(ws) AS mwl,
             CAST(LEN(list_filter(ws, x -> list_contains(
                 ['the','and','of','to','in','is','a','that','it','for',
                  'on','with','as','at','by','an'], x))) AS DOUBLE)
               / LEN(ws) AS swr,
             CAST(LENGTH(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g'))
                  AS DOUBLE) / LENGTH(text) AS pr
      FROM t
    ), q AS (
      SELECT doc_id, source, fingerprint,
             ROUND((CASE WHEN n_words BETWEEN 5 AND 10000 THEN 1.0 ELSE 0.0 END
                  + CASE WHEN mwl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END
                  + CASE WHEN swr >= 0.05 THEN 1.0 ELSE 0.0 END
                  + CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.0 END) / 4.0, 2)
               AS quality
      FROM m
    )
    SELECT doc_id, source, fingerprint, quality
    FROM q
    WHERE quality >= 0.5
    QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY fingerprint)
    """,
)
def t_doc_intake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM training-data intake, batch twin: profile → quality gate →
    canonical dedup. Same profiling expressions as the streaming
    ``jobs.doc_intake_pipeline``; the dedup keeper differs
    deterministically (min doc_id here vs first-arrival in the stream)
    so the DuckDB oracle can pin exact rows — the streaming test
    checks fingerprint-set equivalence instead."""
    from ..operators import text as text_ops
    from ..operators.dedup import exact_dedup

    d = catalog.load(spark, sf_dir, "documents")
    t = F.col("text")
    profiled = d.select(
        "doc_id",
        "source",
        text_ops.fingerprint(t).alias("fingerprint"),
        F.round(text_ops.quality_score("text"), 2).alias("quality"),
    ).filter(F.col("quality") >= 0.5)
    return exact_dedup(profiled, ["fingerprint"], "doc_id")


@query(
    "j_funnel_click_purchase",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 1 HOUR
    """,
)
def j_funnel_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel: click→purchase by the same user within 1 h —
    the batch twin of a watermarked stream-stream interval join
    (tests/test_streaming_advanced.py drives the streaming form). Plans
    as an equi-join on user_id with the time-range residual."""
    e = _events(spark, sf_dir)
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("c_ts")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    return (
        c.join(
            p,
            (c.user_id == p.p_user)
            & (p.p_ts >= c.c_ts)
            & (p.p_ts < c.c_ts + F.expr("INTERVAL 1 HOUR")),
        )
        .select("click_id", "purchase_id", "user_id")
    )


@query(
    "j_funnel_3step",
    oracle="""
    WITH s AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s.t1
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
      GROUP BY e.user_id
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM s) AS n_signup,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_click_after,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_purchase_after
    """,
)
def j_funnel_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential 3-step funnel (signup → first click AFTER signup →
    first purchase AFTER that click): stage times chain through
    conditional MIN aggregations, so ordering is enforced — a global
    min-per-type would overcount users whose purchase preceded their
    click. Each stage is one agg + one equi-join on user_id; all three
    stage tables share the user_id partitioning so the chain adds no
    extra exchanges at scale."""
    e = _events(spark, sf_dir)
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        e.join(s, "user_id")
        .filter((F.col("event_type") == "click") & (F.col("ts") > F.col("t1")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.join(c, "user_id")
        .filter(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    counts = [
        df.agg(F.count("*").alias(name))
        for df, name in [(s, "n_signup"), (c, "n_click_after"), (p, "n_purchase_after")]
    ]
    return counts[0].crossJoin(counts[1]).crossJoin(counts[2])
