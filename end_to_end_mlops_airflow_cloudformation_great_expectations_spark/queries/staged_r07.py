"""Round-7 queries: the streaming/index MAINTENANCE operators made
driver-visible (VERDICT r05 "Next round" item 3), plus the fit-free
PCA apply (item 7).

The maintenance sinks (ivf_index_append/compact, moment_stats_sink)
are foreachBatch side-effect operators, so a pure SELECT can't drive
them — instead each query here EXERCISES the lifecycle against a
throwaway on-disk index/rollup at build time and returns a lazy
comparison against the one-shot computation, with an all-TRUE DuckDB
twin (the banded-oracle pattern from round 3, in the GX-gate role the
reference applies to data quality — airflow-setup.py:457 — here
applied to index freshness). Deterministic at fixed data, so a local
pass at sf0.01 guarantees the driver pass.

LAZINESS NOTE (CLAUDE.md discipline): index build/append/compact and
the 1-row artifact write are inherently SIDE-EFFECTFUL lifecycle
steps — they run eagerly at query-build time against a fresh temp
dir, like the documented quantizer-training exception. Everything
data-sized stays lazy: the final searches, the moment comparison, and
the corpus-wide projection are unexecuted plans when the query
returns.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog
from ..catalog import load as _t
from .registry import ORACLES, query


_SCRATCH_ROOT = None


def _scratch(name: str) -> str:
    """Process-scoped scratch dir for the lifecycle queries' throwaway
    indexes/artifacts. ADVICE r06: a per-call ``tempfile.mkdtemp`` that
    is never removed leaks a full on-disk index per invocation — the
    driver runs each query twice and bench three times, every round.
    Instead: ONE root per process, removed at interpreter exit; each
    query clears and reuses its own named subdirectory, so repeated
    invocations occupy a single bounded footprint. (The subdir cannot
    be removed at query-build return — the returned lazy plans still
    read from it; clearing on the NEXT invocation + atexit on the root
    covers both the rebuild and the end-of-process cases.)"""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="sg_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    d = os.path.join(_SCRATCH_ROOT, name)
    if os.path.isdir(d):
        shutil.rmtree(d)
    os.makedirs(d)
    return d


def _search_sig(df: DataFrame) -> DataFrame:
    """Order-insensitive per-query signature of a top-k search result:
    the sorted (rnk, neighbor_id, cos_sim) array. cos_sim is already
    rounded to the 1e-6 grid inside ivf_index_search and every
    lifecycle path runs the identical arithmetic on the identical
    vectors, so signature equality is exact, not banded."""
    return df.groupBy("query_id").agg(
        F.array_sort(
            F.collect_list(F.struct("rnk", "neighbor_id", "cos_sim"))
        ).alias("sig")
    )


@query(
    "ivf_lifecycle_checked",
    oracle="""
    SELECT CAST(vec_id AS BIGINT) AS query_id,
           TRUE AS append_ok, TRUE AS compact_ok
    FROM embeddings WHERE vec_id < 20
    """,
)
def ivf_lifecycle_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF index LIFECYCLE as a driver-checkable invariant: build
    the index on half the corpus, stream the other half through
    ivf_index_append in two micro-batches, and assert per query that

      search(base + deltas)      == search(one-shot index)   (append_ok)
      search(compacted base)     == search(one-shot index)   (compact_ok)

    — i.e. incremental maintenance changes WHERE the postings live
    (unpartitioned ``delta/b{id}/postings`` dirs, then the folded
    cell-partitioned base) but never a single search row. The one-shot
    twin appends the same rows as one batch, so both sides share
    centroids and assignment arithmetic. The two pre-compaction
    searches are collected at build time (bounded: 20 queries × k
    rows) because compaction DELETES the delta dirs their lazy plans
    would re-list; the post-compaction search stays lazy and reads the
    compacted layout (``ledger.compact_delta_index``, which runs
    ``ledger.recover_delta_index`` first) at driver collect time.
    All-TRUE oracle (banded-oracle discipline): deterministic at fixed
    data."""
    from ..operators import similarity

    base = _scratch("ivf_life")
    e = _t(spark, sf_dir, "embeddings")
    first = e.filter(F.col("vec_id") % 2 == 0)
    rest = e.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("neighbor_id"),
        similarity._as_double(F.col("embedding")).alias("cv"),
    )
    q = e.filter(F.col("vec_id") < 20).withColumnRenamed("vec_id", "query_id")

    inc = os.path.join(base, "inc")
    similarity.ivf_index_build(first, inc, n_centroids=16)
    sink = similarity.ivf_index_append(inc)
    sink(rest.filter(F.col("neighbor_id") % 4 == 1), 0)
    sink(rest.filter(F.col("neighbor_id") % 4 == 3), 1)

    one = os.path.join(base, "one")
    similarity.ivf_index_build(first, one, n_centroids=16)
    similarity.ivf_index_append(one)(rest, 0)

    k = dict(k=5, n_probe=6, query_id="query_id")
    inc_rows = _search_sig(
        similarity.ivf_index_search(q, inc, **k)
    ).collect()
    one_rows = _search_sig(
        similarity.ivf_index_search(q, one, **k)
    ).collect()
    sig_schema = (
        "query_id long, "
        "sig array<struct<rnk: long, neighbor_id: long, cos_sim: double>>"
    )
    inc_df = catalog.local_df(spark, inc_rows, sig_schema)
    one_df = catalog.local_df(spark, one_rows, sig_schema)

    similarity.ivf_index_compact(spark, inc)
    cpt_df = _search_sig(similarity.ivf_index_search(q, inc, **k))

    o = one_df.select(
        "query_id",
        F.col("sig").alias("one_sig"),
    )
    return (
        o.join(inc_df.withColumnRenamed("sig", "inc_sig"), "query_id")
        .join(cpt_df.withColumnRenamed("sig", "cpt_sig"), "query_id")
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            (F.col("inc_sig") == F.col("one_sig")).alias("append_ok"),
            (F.col("cpt_sig") == F.col("one_sig")).alias("compact_ok"),
        )
    )


@query(
    "stream_moment_sink_checked",
    oracle="""
    SELECT CAST(d * d + d + 1 AS BIGINT) AS n_cells, TRUE AS ok
    FROM (SELECT LEN(embedding) AS d FROM embeddings LIMIT 1)
    """,
)
def stream_moment_sink_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The checkpointed moment rollup made driver-checkable: push the
    embedding corpus through moment_stats_sink in THREE micro-batches
    (exactly the at-least-once foreachBatch shape the _snapshot_guard
    protects), then compare the final snapshot's (i, j, s) sufficient
    statistics against the one-shot moment_partials of the whole
    corpus. The merge is an associative/commutative SUM, so the two
    differ only by float summation order — |Δ| ≤ 1e-6·(1+|s|) is
    orders of magnitude above reorder noise and deterministic at
    fixed data. Output: the full d²+d+1 cell count and an all-TRUE
    conjunction (banded-oracle / GX-gate pattern — this is the
    'index freshness expectation' the reference's quality gate
    applies to tables, airflow-setup.py:457)."""
    from ..operators import linalg
    from ..streaming import jobs

    base = _scratch("moments")
    e = _t(spark, sf_dir, "embeddings")
    sink = jobs.moment_stats_sink(base)
    for b in range(3):
        sink(e.filter(F.col("vec_id") % 3 == b), b)

    inc = spark.read.parquet(os.path.join(base, "v2")).select(
        "i", "j", F.col("s").alias("s_inc")
    )
    one = linalg.moment_partials(e).select("i", "j", F.col("s").alias("s_one"))
    cells = one.join(inc, ["i", "j"], "full_outer").select(
        (
            F.col("s_inc").isNotNull()
            & F.col("s_one").isNotNull()
            & (
                F.abs(F.col("s_inc") - F.col("s_one"))
                <= 1e-6 * (F.abs(F.col("s_one")) + 1.0)
            )
        ).alias("cell_ok")
    )
    return cells.agg(
        F.count("*").cast("long").alias("n_cells"),
        F.bool_and("cell_ok").alias("ok"),
    )


@query("emb_pca_apply_artifact", oracle=ORACLES["emb_pca_project"])
def emb_pca_apply_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION shape of PCA apply (VERDICT r05 item 7):
    emb_pca_project re-derives the fit in-plan on every run; at 100 TB
    the fit is computed once, persisted as a model ARTIFACT, and every
    later projection pass is fit-free — load the 1-row
    (component, means) table from parquet and run a zero-shuffle
    map-only scan (ivf_index_search's fit-free discipline applied to
    linear models). This query does exactly that: fit → write the
    bounded 1-row artifact → lazy projection that broadcasts the
    artifact read. Output is REQUIRED to equal emb_pca_project exactly
    (same oracle SQL, same 1e-4 banding), pinning that artifact
    round-tripping loses nothing."""
    from ..operators import linalg
    from .staged_r06 import _PCA_GRID, _PCA_ROUNDS

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
    artifact_dir = os.path.join(_scratch("pca_artifact"), "components")
    # the ARTIFACT write: a bounded 1-row table (component + means) —
    # the only eager step; everything corpus-sized below stays lazy
    v_arr.crossJoin(m_arr).coalesce(1).write.mode("overwrite").parquet(
        artifact_dir
    )

    comps = spark.read.parquet(artifact_dir)
    return e.crossJoin(F.broadcast(comps)).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.floor(
            F.aggregate(
                F.zip_with(
                    F.zip_with(
                        F.col("embedding"),
                        F.col("marr"),
                        lambda a, b: a.cast("double") - b,
                    ),
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


# ---------------------------------------------------------------------------
# Round-7 breadth: behavioral analytics (Markov transitions, CUSUM
# changepoint), robust regression (Theil–Sen), a corpus bigram LM, and
# nearest-centroid pseudo-labeling — each with an exact/gridded DuckDB
# twin per the registry's rounding conventions.
# ---------------------------------------------------------------------------


@query(
    "w_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_type
      FROM events
    )
    SELECT event_type AS prev_type, next_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / SUM(COUNT(*)) OVER (PARTITION BY event_type), 6) AS prob
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
)
def w_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event streams —
    the behavioral-analytics primitive under session clustering and
    next-action prediction. One pass: LEAD per user (ts, event_id
    tie-break makes the sequence deterministic), count each
    (prev, next) edge, normalize per source state with a window over
    the BOUNDED |types|² transition table. Scale: the only wide
    exchange is the per-user window (the natural partitioning events
    already have); the matrix itself is dimension-table sized."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select("user_id", "ts", "event_id", "event_type")
        .withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
    )
    trans = pairs.groupBy(
        F.col("event_type").alias("prev_type"), "next_type"
    ).agg(F.count("*").alias("n"))
    wp = Window.partitionBy("prev_type")
    return trans.select(
        "prev_type",
        "next_type",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(wp), 6
        ).alias("prob"),
    )


@query(
    "a_theil_sen",
    oracle="""
    WITH hourly AS (
      SELECT event_type, CAST(FLOOR(EPOCH(ts) / 3600) AS BIGINT) AS h,
             ROUND(SUM(value), 6) AS y
      FROM events GROUP BY 1, 2
    ), pairs AS (
      SELECT a.event_type,
             (b.y - a.y) / (b.h - a.h) AS slope
      FROM hourly a JOIN hourly b USING (event_type)
      WHERE b.h > a.h
    ), sl AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             ROUND(median(slope), 6) AS ts_slope
      FROM pairs GROUP BY 1
    )
    SELECT sl.event_type, sl.n_pairs, sl.ts_slope,
           ROUND(median(h.y - sl.ts_slope * h.h), 6) AS ts_intercept
    FROM hourly h JOIN sl USING (event_type)
    GROUP BY 1, 2, 3
    """,
)
def a_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per event_type: median of all pairwise
    slopes over the HOURLY revenue series, then the median-residual
    intercept — the breakdown-point-0.29 alternative to the OLS trend
    (a_grouped_ols family), immune to the value outliers MAD flags.

    Determinism: hourly y is ROUND(SUM,6)-gridded first, so every
    pairwise slope is identical double arithmetic cross-engine;
    medians interpolate identically (Spark exact `percentile` /
    DuckDB DOUBLE `median`) and land on the 1e-6 output grid.

    Scale: the pair join is quadratic in SERIES LENGTH, not corpus
    size — hours are bounded by the calendar window (H ≈ 720/month ⇒
    ≤ ~260k pairs/group·month), and the hourly table it self-joins is
    dimension-sized after the one fact-scan aggregate. For multi-year
    windows, coarsen the grain (daily ⇒ 365²/2 pairs/year) or switch
    to the repeated-median variant; the fact scan stays single-pass
    either way."""
    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("h"),
    ).agg(F.round(F.sum("value"), 6).alias("y"))
    # Salted pair build (r12, §2.5): the join key alone has ~5
    # distinct event_types, so pair generation AND the percentile's
    # partial buffers ran on <=5 post-shuffle partitions (measured:
    # one 2.5 s two-task stage). Salt the a side deterministically by
    # h and replicate the dimension-sized b side across the 8 salts —
    # the matched pair set is IDENTICAL (each a-row meets every b-row
    # exactly once, at a's salt), and exact percentile sorts its
    # buffer, so partial-merge order cannot change the result.
    _S = 8
    a = hourly.withColumn("s", F.pmod(F.col("h"), F.lit(_S))).alias("a")
    b = hourly.withColumn(
        "s", F.explode(F.array(*[F.lit(i) for i in range(_S)]))
    ).alias("b")
    pairs = a.join(b, ["event_type", "s"]).where(
        F.col("b.h") > F.col("a.h")
    ).select(
        "event_type",
        (
            (F.col("b.y") - F.col("a.y")) / (F.col("b.h") - F.col("a.h"))
        ).alias("slope"),
    )
    sl = pairs.groupBy("event_type").agg(
        F.count("*").alias("n_pairs"),
        F.round(F.percentile("slope", F.lit(0.5)), 6).alias("ts_slope"),
    )
    return (
        hourly.join(F.broadcast(sl), "event_type")
        .groupBy("event_type", "n_pairs", "ts_slope")
        .agg(
            F.round(
                F.percentile(
                    F.col("y") - F.col("ts_slope") * F.col("h"), F.lit(0.5)
                ),
                6,
            ).alias("ts_intercept")
        )
    )


@query(
    "a_cusum_changepoint",
    oracle="""
    WITH hourly AS (
      SELECT event_type, CAST(FLOOR(EPOCH(ts) / 3600) AS BIGINT) AS h,
             ROUND(AVG(value), 6) AS m
      FROM events GROUP BY 1, 2
    ), mu AS (
      SELECT event_type, ROUND(AVG(m), 6) AS mu FROM hourly GROUP BY 1
    ), cs AS (
      SELECT hourly.event_type, hourly.h,
             SUM(hourly.m - mu.mu) OVER (
               PARTITION BY hourly.event_type ORDER BY hourly.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS s
      FROM hourly JOIN mu USING (event_type)
    ), rk AS (
      SELECT event_type, h, s,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY ABS(s) DESC, h ASC
             ) AS r
      FROM cs
    )
    SELECT event_type, CAST(h * 3600 AS BIGINT) AS change_epoch,
           ROUND(ABS(s), 6) AS cusum_peak
    FROM rk WHERE r = 1
    """,
)
def a_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM mean-shift changepoint per event_type: running sum of
    (hourly mean − series mean); the |peak| hour is the classic
    single-changepoint estimate (where the level shifted), its height
    the shift evidence. Completes the series-diagnostics family (ACF /
    CCF / seasonal residuals / Holt) with the detection step.

    Determinism: both the hourly means and the series mean are
    1e-6-gridded BEFORE the cumsum, and a running window sum is
    evaluated in ORDER BY sequence on both engines — identical double
    trajectories, so the argmax can't flip on reorder noise (ties
    break to the earliest hour). Scale: one fact scan; everything
    after is windows over the bounded hourly table, partitioned by
    type."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("h"),
    ).agg(F.round(F.avg("value"), 6).alias("m"))
    mu = hourly.groupBy("event_type").agg(
        F.round(F.avg("m"), 6).alias("mu")
    )
    wcs = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cs = (
        hourly.join(F.broadcast(mu), "event_type")
        .select(
            "event_type",
            "h",
            F.sum(F.col("m") - F.col("mu")).over(wcs).alias("s"),
        )
    )
    wrk = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("s")).desc(), F.col("h").asc()
    )
    return (
        cs.withColumn("r", F.row_number().over(wrk))
        .filter(F.col("r") == 1)
        .select(
            "event_type",
            (F.col("h") * 3600).cast("long").alias("change_epoch"),
            F.round(F.abs("s"), 6).alias("cusum_peak"),
        )
    )


@query(
    "text_bigram_ppl",
    oracle=r"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> len(x) > 0) AS ws
      FROM documents
    ), b AS (
      SELECT doc_id,
             unnest([ws[i] || ' ' || ws[i+1]
                     for i in generate_series(1, GREATEST(len(ws) - 1, 0))])
               AS bg
      FROM w
    ), uni AS (
      SELECT COUNT(DISTINCT t.u) AS v
      FROM (SELECT unnest(ws) AS u FROM w) t
    ), cnt AS (
      SELECT bg, COUNT(*) AS c FROM b GROUP BY bg
    ), ctx AS (
      SELECT string_split(bg, ' ')[1] AS w1, SUM(c) AS cw
      FROM cnt GROUP BY 1
    )
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(-log2((cnt.c + 0.5) / (ctx.cw + 0.5 * uni.v))), 4)
             AS cross_entropy
    FROM b
    JOIN cnt USING (bg)
    JOIN ctx ON string_split(b.bg, ' ')[1] = ctx.w1
    CROSS JOIN uni
    GROUP BY b.doc_id
    """,
)
def text_bigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity scoring — the second-order upgrade of
    text_unigram_ppl (the CCNet filtering recipe): per-doc cross-
    entropy −mean log2 P(w2|w1) under corpus bigram statistics with
    add-½ smoothing, P = (c(w1,w2)+½)/(ctx(w1)+½V). Context counts
    ctx(w1)=Σ_w2 c(w1,w2) (doc-final tokens excluded by construction)
    and V = corpus distinct unigrams.

    Scale shape: bigrams come from one map-only zip of each doc's
    token array with its own tail (no window, no per-doc shuffle);
    counts partial-merge map-side; V and the smoothing constant ride
    along as a broadcast 1-row cross join; the bigram⋈count join
    shuffles on the bigram key (Zipf-hot bigrams are AQE skew-join
    territory, same as the unigram twin). Docs with <2 tokens have no
    bigrams and drop out of the inner join on both engines."""
    d = _t(spark, sf_dir, "documents")
    w = d.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), r"\s+"),
            lambda x: F.length(x) > 0,
        ).alias("ws"),
    )
    b = w.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(ws) >= 2 THEN "
                "  zip_with(slice(ws, 1, size(ws) - 1),"
                "           slice(ws, 2, size(ws) - 1),"
                "           (a, b) -> concat(a, ' ', b)) "
                "ELSE array() END"
            )
        ).alias("bg"),
    )
    uni = w.select(F.explode("ws").alias("u")).agg(
        F.countDistinct("u").alias("v")
    )
    cnt = b.groupBy("bg").agg(F.count("*").alias("c"))
    ctx = cnt.groupBy(
        F.split(F.col("bg"), " ")[0].alias("w1")
    ).agg(F.sum("c").alias("cw"))
    return (
        b.join(cnt, "bg")
        .join(ctx, F.split(F.col("bg"), " ")[0] == F.col("w1"))
        .crossJoin(F.broadcast(uni))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.avg(
                    -F.log2(
                        (F.col("c") + 0.5)
                        / (F.col("cw") + 0.5 * F.col("v"))
                    )
                ),
                4,
            ).alias("cross_entropy"),
        )
    )


#: Max label cardinality for the centroid broadcast: |labels|×d doubles
#: must stay a comfortable broadcast (4096 labels × 1024 dims × 8 B ≈
#: 32 MB); past that nearest-centroid is the wrong tool (use the IVF
#: index over per-label centroids instead).
_MAX_CENTROID_LABELS = 4096


def _guard_label_cardinality(
    e: DataFrame, col: str, max_labels: int = _MAX_CENTROID_LABELS
) -> None:
    """LIMIT-probe cardinality guard (the encode.vocabulary pattern,
    encode.py:29): reads at most max_labels+1 distinct values before
    deciding, so the guard is cheap even on a 100 TB column — it never
    runs a full distinct-count."""
    d = e.select(col).distinct()
    if d.limit(max_labels + 1).count() > max_labels:
        raise ValueError(
            f"emb_centroid_classify({col!r}): more than {max_labels} "
            "distinct labels — not a bounded label column; a centroid "
            "table this large must not broadcast (index the centroids "
            "with ivf_index_build and search instead)"
        )


@query(
    "emb_centroid_classify",
    oracle="""
    WITH ex AS (
      SELECT clabel, i, CAST(x AS DOUBLE) AS x FROM (
        SELECT CAST(label AS BIGINT) AS clabel,
               unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings) t
    ), cent AS (
      SELECT clabel, i, ROUND(AVG(x), 6) AS c
      FROM ex GROUP BY 1, 2
    ), vex AS (
      SELECT vec_id, label, i, CAST(x AS DOUBLE) AS x FROM (
        SELECT vec_id, CAST(label AS BIGINT) AS label,
               unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings) t
    ), sims AS (
      SELECT vex.vec_id, vex.label, cent.clabel,
             ROUND(SUM(vex.x * cent.c)
                   / NULLIF(SQRT(SUM(vex.x * vex.x))
                            * SQRT(SUM(cent.c * cent.c)), 0.0),
                   6) AS sim
      FROM vex JOIN cent USING (i)
      GROUP BY 1, 2, 3
    ), rk AS (
      SELECT vec_id, label, clabel,
             ROW_NUMBER() OVER (
               PARTITION BY vec_id ORDER BY sim DESC, clabel ASC
             ) AS r
      FROM sims
    )
    SELECT vec_id, label, clabel AS pred_label, (label = clabel) AS correct
    FROM rk WHERE r = 1
    """,
)
def emb_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid pseudo-labeling (Rocchio classification) — the
    weak-labeling / label-noise-audit primitive of a training-data
    pipeline: fit one centroid per label (1e-6-gridded coordinate
    means), assign every vector to its max-cosine centroid, report
    prediction vs stored label. The 'correct' column doubles as a
    label-noise detector (FALSE rows are candidate mislabels).

    Scale shape: centroids are a |labels|×d aggregate of one corpus
    scan, re-assembled into a |labels|-row array table that BROADCASTS
    to the classification pass — one more corpus scan, map-only math,
    and a per-vector window over |labels| candidate rows. Nothing
    quadratic, nothing collected; the same fit-free discipline as
    ivf_index_search / emb_pca_apply_artifact (the centroid table
    could persist as an artifact identically). The broadcast is
    cardinality-GUARDED (VERDICT r06 item 5): nearest-centroid only
    makes sense at bounded |labels|, and an accidental run against a
    high-cardinality column (ids, hashes) would silently build a huge
    broadcast — same failure mode, same LIMIT-probe guard as
    encode.vocabulary (encode.py:29)."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "embeddings")
    _guard_label_cardinality(e, "label")
    ex = e.select(
        F.col("label").cast("long").alias("clabel"),
        F.posexplode("embedding").alias("i", "x"),
    )
    cent = ex.groupBy("clabel", "i").agg(
        F.round(F.avg(F.col("x").cast("double")), 6).alias("c")
    )
    cent_arr = cent.groupBy("clabel").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "c"))),
            lambda p: p["c"],
        ).alias("carr")
    )
    dot = F.aggregate(
        F.zip_with(
            "embedding", "carr", lambda a, b: a.cast("double") * b
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sqn = lambda col: F.aggregate(  # noqa: E731
        F.transform(col, lambda a: a.cast("double") * a.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sims = (
        e.select("vec_id", F.col("label").cast("long").alias("label"), "embedding")
        .crossJoin(F.broadcast(cent_arr))
        .select(
            "vec_id",
            "label",
            "clabel",
            F.round(
                F.try_divide(dot, F.sqrt(sqn("embedding")) * F.sqrt(sqn("carr"))),
                6,
            ).alias("sim"),
        )
    )
    wrk = Window.partitionBy("vec_id").orderBy(
        F.col("sim").desc(), F.col("clabel").asc()
    )
    return (
        sims.withColumn("r", F.row_number().over(wrk))
        .filter(F.col("r") == 1)
        .select(
            "vec_id",
            "label",
            F.col("clabel").alias("pred_label"),
            (F.col("label") == F.col("clabel")).alias("correct"),
        )
    )


@query(
    "a_survival_km",
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
           ROUND(CASE WHEN MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
                        OVER w = 1
                 THEN 0.0
                 ELSE EXP(SUM(LN(1.0 - CAST(d AS DOUBLE) / n_risk)) OVER w)
                 END, 6) AS km_survival
    FROM steps
    WINDOW w AS (ORDER BY dur
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def a_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival over user lifetimes — the retention
    curve done right (a_cohort_retention counts fixed windows; KM
    handles CENSORING): lifetime = hours between a user's first and
    last event; users still active in the corpus's final 6 hours are
    censored (they're not churned, just truncated; the fixture's
    30-day window has a max inactivity gap of ~31 h, so a 6 h horizon
    splits observed vs censored — production would use its own churn
    horizon). S(t) steps down by
    (1 − d_t/n_t) at each observed churn time, with censored users
    leaving the risk set silently.

    Determinism: d and n are integers, the factors are identical
    rationals, and the cumulative product runs as an ORDER-sequenced
    log-sum window — exp/ln 1-ulp libm drift is absorbed by the 1e-6
    output grid. The d == n exhaustion step is special-cased to 0
    explicitly (Spark's log(0) is NULL, DuckDB's is −inf; both hide
    the true limit). Scale: one fact scan to per-user spans, then
    everything is windows over the bounded distinct-lifetime table;
    the cutoff is a broadcast 1-row cross join."""
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
        (F.col("n_total") - F.col("before_cnt")).cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("d"),
    )
    w_cum = (
        Window.partitionBy(_ck(F.col("dur")))
        .orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    exhausted = F.max(
        F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0)
    ).over(w_cum)
    logsum = F.sum(
        F.log(1.0 - F.col("d").cast("double") / F.col("n_risk"))
    ).over(w_cum)
    return steps.select(
        F.col("dur").alias("dur_h"),
        F.col("n_risk").alias("n_at_risk"),
        F.col("d").alias("n_deaths"),
        F.round(
            F.when(exhausted == 1, F.lit(0.0)).otherwise(F.exp(logsum)), 6
        ).alias("km_survival"),
    )


@query(
    "a_benford_law",
    oracle="""
    WITH digits AS (
      SELECT CAST(SUBSTR(CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                          AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice > 0
    ), cnt AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY digit
    ), tot AS (
      SELECT SUM(n) AS t FROM cnt
    )
    SELECT digit, n,
           ROUND(CAST(n AS DOUBLE) / t, 6) AS obs_freq,
           ROUND(LOG10(1 + 1.0 / digit), 6) AS exp_freq,
           ROUND(ABS(CAST(n AS DOUBLE) / t - LOG10(1 + 1.0 / digit)), 6)
             AS abs_dev
    FROM cnt CROSS JOIN tot
    """,
)
def a_benford_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformance profile of order amounts — the
    fraud/integrity screen from the data-quality family (a13 / p8 /
    table-checksum): leading-digit frequencies vs log10(1+1/d), with
    per-digit absolute deviation. TPC-H synthetic prices are roughly
    uniform-ish, so the deviations themselves are the signal the gate
    would alert on — the query's contract is the measurement, not
    conformance.

    Engine parity: the leading digit comes from the BIGINT cents
    string (ROUND(x·100) is ≥1e-9 away from any .5, so both engines'
    tie modes agree, and integer-to-string never switches to
    scientific notation the way double-to-string does). Scale: one
    scan, 9-row output, broadcast total."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digits = o.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("long")
            .cast("string"),
            1,
            1,
        )
        .cast("long")
        .alias("digit")
    )
    cnt = digits.groupBy("digit").agg(F.count("*").alias("n"))
    tot = cnt.agg(F.sum("n").alias("t"))
    return cnt.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        F.round(F.col("n").cast("double") / F.col("t"), 6).alias("obs_freq"),
        F.round(F.log10(1 + 1.0 / F.col("digit")), 6).alias("exp_freq"),
        F.round(
            F.abs(
                F.col("n").cast("double") / F.col("t")
                - F.log10(1 + 1.0 / F.col("digit"))
            ),
            6,
        ).alias("abs_dev"),
    )


def _probe_sig(df: DataFrame) -> DataFrame:
    """Order-insensitive per-probe-doc signature of an incremental
    dedup result: the sorted (corpus_id, jaccard) array. jaccard is
    already rounded to the 1e-4 grid inside minhash_dedup_incremental
    and every lifecycle path runs the identical arithmetic on the
    identical shingle arrays, so signature equality is exact."""
    return df.groupBy("new_id").agg(
        F.array_sort(F.collect_list(F.struct("corpus_id", "jaccard"))).alias(
            "sig"
        )
    )


@query(
    "dedup_minhash_lifecycle",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS new_id,
           TRUE AS append_ok, TRUE AS compact_ok
    FROM documents WHERE doc_id >= 250 AND doc_id < 350
    """,
)
def dedup_minhash_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted MinHash dedup index LIFECYCLE as a driver-checkable
    invariant (VERDICT r06 item 6 — the ivf_lifecycle_checked pattern
    applied to dedup): build the index on doc_id<150, stream 150–250
    through minhash_index_append in two delta batches, and assert per
    probe document (250≤doc_id<350) that

      probe(base + deltas)    == probe(one-shot index)   (append_ok)
      probe(compacted base)   == probe(one-shot index)   (compact_ok)

    — i.e. incremental maintenance and compaction change WHERE the
    postings/shingle tables live (delta dirs, then the folded base),
    never a single emitted near-dup pair. The one-shot twin indexes
    doc_id<250 in one build, so both sides share shingle/signature
    arithmetic exactly. The two pre-compaction probes are collected at
    build time (bounded: ≤100 probe docs × a handful of pairs) because
    compaction swaps the directories their lazy plans would re-list;
    the post-compaction probe stays lazy and exercises the compacted
    layout — including the read-only snapshot resolution — at driver
    collect time. All-TRUE oracle (banded-oracle discipline):
    deterministic at fixed data. Probes at threshold 0.3 on word
    trigrams find real cross-delta pairs at both oracle scales (1 at
    sf0.001 — its corpus_id lands in delta batch b1 — and 5 at
    sf0.01), so the invariant is exercised, not vacuous."""
    from ..operators import dedup

    base = _scratch("minhash_life")
    d = _t(spark, sf_dir, "documents")
    tri = lambda c: dedup.word_ngrams(c, 3)  # noqa: E731
    kw = dict(threshold=0.3, shingle_fn=tri)
    probe = d.filter((F.col("doc_id") >= 250) & (F.col("doc_id") < 350))

    inc = os.path.join(base, "inc")
    dedup.minhash_index_build(d.filter(F.col("doc_id") < 150), inc, shingle_fn=tri)
    sink = dedup.minhash_index_append(inc, shingle_fn=tri)
    sink(d.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 200)), 0)
    sink(d.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 250)), 1)

    one = os.path.join(base, "one")
    dedup.minhash_index_build(d.filter(F.col("doc_id") < 250), one, shingle_fn=tri)

    sig_schema = (
        "new_id long, sig array<struct<corpus_id: long, jaccard: double>>"
    )
    inc_df = catalog.local_df(
        spark,
        _probe_sig(dedup.minhash_index_probe(probe, inc, **kw)).collect(),
        sig_schema,
    )
    one_df = catalog.local_df(
        spark,
        _probe_sig(dedup.minhash_index_probe(probe, one, **kw)).collect(),
        sig_schema,
    )

    dedup.minhash_index_compact(spark, inc)
    cpt_df = _probe_sig(dedup.minhash_index_probe(probe, inc, **kw))

    ids = probe.select(F.col("doc_id").cast("long").alias("new_id"))
    joined = (
        ids.join(one_df.withColumnRenamed("sig", "one_sig"), "new_id", "left")
        .join(inc_df.withColumnRenamed("sig", "inc_sig"), "new_id", "left")
        .join(cpt_df.withColumnRenamed("sig", "cpt_sig"), "new_id", "left")
    )
    return joined.select(
        "new_id",
        F.col("inc_sig").eqNullSafe(F.col("one_sig")).alias("append_ok"),
        F.col("cpt_sig").eqNullSafe(F.col("one_sig")).alias("compact_ok"),
    )


@query(
    "stream_quantile_sink_checked",
    oracle="""
    SELECT q, TRUE AS n_ok, TRUE AS accuracy_ok
    FROM (VALUES (0.25), (0.5), (0.75), (0.9), (0.99)) t(q)
    """,
)
def stream_quantile_sink_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental QUANTILE sketch made driver-checkable (VERDICT
    r06 item 8 — the percentile family's maintenance story, the
    stream_moment_sink_checked pattern): push orders.o_totalprice
    through quantile_sketch_sink in THREE micro-batches (the
    at-least-once foreachBatch shape _snapshot_guard protects), then
    check the final 1-row KLL snapshot two ways per probe quantile q:

      n_ok        — kll_sketch_get_n == exact COUNT(*): the sketch's
                    row count is EXACT, so this is the integer
                    exactly-once witness (a dropped or double-applied
                    batch cannot hide inside a band);
      accuracy_ok — the snapshot's quantile estimate lies between the
                    exact percentiles at q±0.05 — 3x KLL's ±1.65%
                    rank-error bound at k=200, the generous-band
                    discipline a_sketch_rollup banked for randomized
                    compaction.

    State is one ~KB sketch however long the stream runs — this plus
    HLL (distinct), moment tables (covariance/PCA), band postings
    (dedup) and IVF cells (ANN) completes incremental maintenance for
    every approximate family the engine ships."""
    from ..streaming import jobs

    base = _scratch("kll")
    o = _t(spark, sf_dir, "orders")
    sink = jobs.quantile_sketch_sink(base, "o_totalprice")
    for b in range(3):
        sink(o.filter(F.pmod(F.col("o_orderkey"), F.lit(3)) == b), b)

    snap = spark.read.parquet(os.path.join(base, "v2"))
    # kll_sketch_get_quantile_double needs a FOLDABLE rank, so the
    # probe quantiles are literal columns on the 1-row snapshot,
    # exploded to (q, est) rows afterwards
    probes = snap.select(
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("q"),
                        F.kll_sketch_get_quantile_double(
                            "kll", F.lit(q)
                        ).alias("est"),
                    )
                    for q in (0.25, 0.5, 0.75, 0.9, 0.99)
                ]
            )
        ).alias("p"),
    ).select(F.col("p.q").alias("q"), "n", F.col("p.est").alias("est"))
    exact = o.agg(
        F.count("*").alias("n_exact"),
        *[
            F.percentile("o_totalprice", F.lit(max(q - 0.05, 0.0))).alias(
                f"lo_{int(q * 100)}"
            )
            for q in (0.25, 0.5, 0.75, 0.9, 0.99)
        ],
        *[
            F.percentile("o_totalprice", F.lit(min(q + 0.05, 1.0))).alias(
                f"hi_{int(q * 100)}"
            )
            for q in (0.25, 0.5, 0.75, 0.9, 0.99)
        ],
    )
    lo = F.element_at(
        F.create_map(
            *[
                x
                for q in (0.25, 0.5, 0.75, 0.9, 0.99)
                for x in (F.lit(q), F.col(f"lo_{int(q * 100)}"))
            ]
        ),
        F.col("q"),
    )
    hi = F.element_at(
        F.create_map(
            *[
                x
                for q in (0.25, 0.5, 0.75, 0.9, 0.99)
                for x in (F.lit(q), F.col(f"hi_{int(q * 100)}"))
            ]
        ),
        F.col("q"),
    )
    return probes.crossJoin(F.broadcast(exact)).select(
        "q",
        (F.col("n").cast("long") == F.col("n_exact")).alias("n_ok"),
        F.col("est").between(lo, hi).alias("accuracy_ok"),
    )


@query(
    "text_decontaminate",
    oracle=r"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> len(x) > 0) AS ws
      FROM documents
    ), g AS (
      SELECT doc_id,
             list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                            || ws[i+3] || ' ' || ws[i+4]
                            for i in generate_series(1, GREATEST(LEN(ws) - 4, 0))]) AS ng
      FROM w
    ), probe AS (
      SELECT DISTINCT unnest(ng) AS gram FROM g WHERE doc_id >= 400
    ), corpus AS (
      SELECT doc_id, LEN(ng) AS n_grams, unnest(ng) AS gram
      FROM g WHERE doc_id < 400
    )
    SELECT doc_id AS id,
           CAST(COUNT(*) AS BIGINT) AS n_gram_hits,
           CAST(n_grams AS BIGINT) AS n_grams,
           ROUND(CAST(COUNT(*) AS DOUBLE) / n_grams, 6) AS hit_frac
    FROM corpus JOIN probe USING (gram)
    GROUP BY doc_id, n_grams
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination over the documents table: doc_id≥400
    plays the held-out benchmark, doc_id<400 the training corpus;
    every training doc sharing a word 5-gram with the benchmark is
    flagged with its distinct-hit count and hit fraction
    (operators/dedup.decontaminate — the GPT-3 eval-leakage discipline,
    distinct from near-dup dedup: exact, asymmetric, zero-tolerance).
    The planted near-dup chains in the fixture cross the 400 boundary,
    so real hits exist at both oracle scales. Probe gram set
    broadcasts; one corpus scan; zero UDFs."""
    from ..operators import dedup

    d = _t(spark, sf_dir, "documents")
    return dedup.decontaminate(
        d.filter(F.col("doc_id") < 400), d.filter(F.col("doc_id") >= 400), n=5
    )


@query(
    "p_domain_reweight",
    oracle=r"""
    WITH tok AS (
      SELECT source,
             LEN(list_filter(string_split_regex(lower(text), '\s+'),
                             x -> len(x) > 0)) AS n_tok
      FROM documents
    ), tot AS (
      SELECT source, CAST(SUM(n_tok) AS BIGINT) AS src_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM tok GROUP BY 1
    )
    SELECT source, src_tokens, n_docs,
           ROUND(CAST(src_tokens AS DOUBLE)
                 / (SELECT SUM(src_tokens) FROM tot), 6) AS corpus_share,
           ROUND((1.0 / (SELECT COUNT(*) FROM tot))
                 / (CAST(src_tokens AS DOUBLE)
                    / (SELECT SUM(src_tokens) FROM tot)), 6) AS weight
    FROM tot
    """,
)
def p_domain_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture reweighting (the static data-mixing step of a
    pretraining pipeline, DoReMi's baseline): measure each source's
    token share of the corpus and emit the per-source sampling weight
    that equalizes the mix to the UNIFORM target — weight =
    target_share / corpus_share, the multiplier a sampler applies per
    document of that source (compose with p_weighted_sample /
    p_token_budget_sample to materialize the re-mixed corpus). One
    corpus scan → a |sources|-row aggregate; the global totals are a
    1-row broadcast. Token counting shares the whitespace-token
    expression the text family uses; everything on the 1e-6 grid."""
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
        F.sum("n_tok").cast("long").alias("src_tokens"),
        F.count("*").cast("long").alias("n_docs"),
    )
    g = tot.agg(
        F.sum("src_tokens").cast("double").alias("all_tokens"),
        F.count("*").cast("double").alias("n_sources"),
    )
    return tot.crossJoin(F.broadcast(g)).select(
        "source",
        "src_tokens",
        "n_docs",
        F.round(F.col("src_tokens") / F.col("all_tokens"), 6).alias(
            "corpus_share"
        ),
        F.round(
            (F.lit(1.0) / F.col("n_sources"))
            / (F.col("src_tokens") / F.col("all_tokens")),
            6,
        ).alias("weight"),
    )


@query("text_bm25_indexed", oracle=ORACLES["text_bm25"])
def text_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served from the PERSISTED retrieval index
    (operators/textindex.py — the third instantiation of the shared
    delta-index maintenance protocol): build the term-clustered
    postings + doclens tables once at query-build time (the sanctioned
    lifecycle exception; a production pipeline builds once and queries
    many), then score the same fixed keyword query as text_bm25. The
    oracle IS text_bm25's oracle string, so the driver hash-checks
    that indexing changes WHERE tokens are counted (one build-time
    shuffle + a term-pruned postings read per query), never a score.
    Global stats (N, avgdl, df) derive lazily from the resolved
    tables, so the index has no stored-stats staleness."""
    from ..operators import textindex

    base = _scratch("bm25")
    d = _t(spark, sf_dir, "documents")
    textindex.bm25_index_build(d, base)
    return textindex.bm25_index_query(spark, base, ["data", "table", "fast"])


@query(
    "dedup_embedding_lifecycle",
    oracle="""
    SELECT CAST(vec_id AS BIGINT) AS new_id,
           TRUE AS append_ok, TRUE AS compact_ok
    FROM embeddings WHERE vec_id < 100
    """,
)
def dedup_embedding_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted SEMANTIC-dedup index lifecycle as a
    driver-checkable invariant — closes the lexical/semantic
    incremental-maintenance asymmetry (minhash_index had the
    build/append/probe/compact story; embeddings now do too, fourth
    instantiation of the shared ledger protocol,
    operators/similarity.py embdedup_index_*): build the hyperplane-LSH
    index on even vec_ids, stream the odds through
    embdedup_index_append in two delta batches, and assert per probe
    vector (vec_id<100) that

      probe(base + deltas)   == probe(one-shot index)   (append_ok)
      probe(compacted base)  == probe(one-shot index)   (compact_ok)

    Signatures come from the index's persisted _PARAMS (same planes on
    every path), candidates from identical bucket content, and the
    verify cosine is the same 6-dp expression — so signature equality
    is exact, not banded. ~100 real pairs at threshold 0.35 at both
    oracle scales (the fixture's planted semantic near-dups), so the
    invariant is exercised, not vacuous. Pre-compaction probes are
    collected at build time (bounded: probe slice × a few pairs);
    the post-compaction probe stays lazy."""
    from ..operators import similarity

    base = _scratch("embdedup_life")
    e = _t(spark, sf_dir, "embeddings")
    probe = e.filter(F.col("vec_id") < 100)
    rest = e.filter(F.col("vec_id") % 2 == 1)

    inc = os.path.join(base, "inc")
    similarity.embdedup_index_build(e.filter(F.col("vec_id") % 2 == 0), inc)
    sink = similarity.embdedup_index_append(inc)
    sink(rest.filter(F.col("vec_id") % 4 == 1), 0)
    sink(rest.filter(F.col("vec_id") % 4 == 3), 1)

    one = os.path.join(base, "one")
    similarity.embdedup_index_build(e.filter(F.col("vec_id") % 2 == 0), one)
    similarity.embdedup_index_append(one)(rest, 0)

    def sig(df: DataFrame) -> DataFrame:
        return df.groupBy("new_id").agg(
            F.array_sort(
                F.collect_list(F.struct("corpus_id", "cos_sim"))
            ).alias("sig")
        )

    kw = dict(threshold=0.35)
    sig_schema = (
        "new_id long, sig array<struct<corpus_id: long, cos_sim: double>>"
    )
    inc_df = catalog.local_df(
        spark,
        sig(similarity.embdedup_index_probe(probe, inc, **kw)).collect(),
        sig_schema,
    )
    one_df = catalog.local_df(
        spark,
        sig(similarity.embdedup_index_probe(probe, one, **kw)).collect(),
        sig_schema,
    )
    similarity.embdedup_index_compact(spark, inc)
    cpt_df = sig(similarity.embdedup_index_probe(probe, inc, **kw))

    ids = probe.select(F.col("vec_id").cast("long").alias("new_id"))
    joined = (
        ids.join(one_df.withColumnRenamed("sig", "one_sig"), "new_id", "left")
        .join(inc_df.withColumnRenamed("sig", "inc_sig"), "new_id", "left")
        .join(cpt_df.withColumnRenamed("sig", "cpt_sig"), "new_id", "left")
    )
    return joined.select(
        "new_id",
        F.col("inc_sig").eqNullSafe(F.col("one_sig")).alias("append_ok"),
        F.col("cpt_sig").eqNullSafe(F.col("one_sig")).alias("compact_ok"),
    )


@query(
    "text_chunk_windows",
    oracle=r"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> len(x) > 0) AS ws
      FROM documents
    ), n AS (
      SELECT doc_id, ws, LEN(ws) AS n,
             CASE WHEN LEN(ws) <= 0 THEN 0
                  ELSE CAST(FLOOR((GREATEST(LEN(ws) - 64, 0) + 47) / 48)
                            AS BIGINT) + 1 END AS n_chunks
      FROM w
    )
    , e AS (
      SELECT doc_id, ws, n,
             unnest(generate_series(0, CAST(n_chunks AS BIGINT) - 1)) AS i
      FROM n
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_id,
           CAST(LEAST(n - i * 48, 64) AS BIGINT) AS n_tokens,
           array_to_string(ws[i * 48 + 1 : i * 48 + 64], ' ') AS chunk_text
    FROM e
    """,
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document CHUNKING (operators/text.chunk_tokens): fixed 64-token
    windows at stride 48 (25% overlap), final partial window kept —
    the step every retrieval / pretraining pipeline applies before
    embedding or packing. Pure expressions (sequence + slice +
    array_join), zero UDF, zero shuffle: the plan is a map-only scan
    whose explode fans out inside the same stage. Hash-checked
    chunk-for-chunk (ids, token counts, AND the reconstructed chunk
    text) against the independent DuckDB list-slicing twin."""
    from ..operators import text as text_ops

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.explode(text_ops.chunk_tokens("text", 64, 48)).alias("c"),
    ).select(
        "doc_id",
        F.col("c.chunk_id").alias("chunk_id"),
        F.col("c.n_tokens").alias("n_tokens"),
        F.col("c.chunk_text").alias("chunk_text"),
    )


@query(
    "p_curation_verdict",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> len(x) > 0) AS ws,
             md5(trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS fp
      FROM documents
    ), m AS (
      SELECT doc_id, fp,
             LEN(ws) AS n_words,
             list_aggregate(list_transform(ws, x -> CAST(LEN(x) AS DOUBLE)),
                            'sum') / LEN(ws) AS mwl,
             CAST(LEN(list_filter(ws, x -> list_contains(
                 ['the','and','of','to','in','is','a','that','it','for',
                  'on','with','as','at','by','an'], x))) AS DOUBLE)
               / LEN(ws) AS swr,
             CAST(LENGTH(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g'))
                  AS DOUBLE) / LENGTH(text) AS pr,
             CAST(LEN(list_filter(ws, x -> list_contains(
               ['the','and','of','to','in','is','a','that','it','for'], x))) AS DOUBLE) / LEN(ws) AS s_en,
             CAST(LEN(list_filter(ws, x -> list_contains(
               ['der','die','und','das','ist','nicht','ein','mit','zu','den'], x))) AS DOUBLE) / LEN(ws) AS s_de,
             CAST(LEN(list_filter(ws, x -> list_contains(
               ['le','la','et','les','des','est','un','une','que','pour'], x))) AS DOUBLE) / LEN(ws) AS s_fr,
             CAST(LEN(list_filter(ws, x -> list_contains(
               ['el','la','de','que','y','los','es','un','una','por'], x))) AS DOUBLE) / LEN(ws) AS s_es,
             CAST(LEN(list_filter(ws, x -> list_contains(
               ['的','是','了','在','我','有','和','不','人','这'], x))) AS DOUBLE) / LEN(ws) AS s_zh
      FROM t
    ), v AS (
      SELECT doc_id,
             CAST(n_words AS BIGINT) AS n_words,
             ROUND((CASE WHEN n_words BETWEEN 5 AND 10000 THEN 1.0 ELSE 0.0 END
                  + CASE WHEN mwl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END
                  + CASE WHEN swr >= 0.05 THEN 1.0 ELSE 0.0 END
                  + CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.0 END) / 4.0, 2) AS quality,
             CASE WHEN GREATEST(s_en, s_de, s_fr, s_es, s_zh) > 0
                       AND s_en = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
                  WHEN GREATEST(s_en, s_de, s_fr, s_es, s_zh) > 0
                       AND s_de = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'de'
                  WHEN GREATEST(s_en, s_de, s_fr, s_es, s_zh) > 0
                       AND s_fr = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'fr'
                  WHEN GREATEST(s_en, s_de, s_fr, s_es, s_zh) > 0
                       AND s_es = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'es'
                  WHEN GREATEST(s_en, s_de, s_fr, s_es, s_zh) > 0
                       AND s_zh = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'zh'
                  ELSE 'und' END AS pred_lang,
             doc_id <> MIN(doc_id) OVER (PARTITION BY fp) AS duplicate
      FROM m
    )
    SELECT doc_id, n_words, quality, pred_lang, duplicate,
           (quality >= 0.75 AND pred_lang = 'en' AND NOT duplicate
            AND n_words >= 20) AS keep
    FROM v
    """,
)
def p_curation_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4-style curation chain as ONE driver-checkable verdict per
    document — the composition a pretraining intake actually runs:
    quality heuristics (length band, word shape, stopword mass,
    punctuation), language gate, canonical-fingerprint dedup (min
    doc_id keeps), and a minimum-length rule, folded into a single
    keep/drop with the contributing signals exposed. One corpus scan +
    ONE shuffle (the fingerprint window); every rule is the same
    expression the standalone queries check individually
    (text_quality / text_lang_id / dedup_exact), so this pins that
    the composition loses nothing."""
    from pyspark.sql import Window

    from ..operators import text as text_ops

    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    base = d.select(
        "doc_id",
        F.size(text_ops.words("text")).cast("long").alias("n_words"),
        F.round(text_ops.quality_score("text"), 2).alias("quality"),
        text_ops.lang_id("text").alias("pred_lang"),
        text_ops.fingerprint(t).alias("fp"),
    )
    w = Window.partitionBy("fp")
    v = base.withColumn(
        "duplicate", F.col("doc_id") != F.min("doc_id").over(w)
    )
    return v.select(
        "doc_id",
        "n_words",
        "quality",
        "pred_lang",
        "duplicate",
        (
            (F.col("quality") >= 0.75)
            & (F.col("pred_lang") == "en")
            & ~F.col("duplicate")
            & (F.col("n_words") >= 20)
        ).alias("keep"),
    )
