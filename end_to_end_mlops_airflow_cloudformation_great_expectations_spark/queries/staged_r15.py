"""Round-9 additions (build-notes new-query discipline: each proven
local-green at sf0.001 + sf0.01 incl. --plain before landing).

- ``dedup_image_phash`` — perceptual image near-dedup (VERDICT r08
  item 7): the IMAGE rung of the dedup ladder, next to text
  MinHash/SimHash and embedding cosine. Real BMP synth → real
  container decode (bottom-up rows + stride padding) → integer
  luminance → 9×8 grid → 64-bit dHash as four 16-bit bands →
  Hamming-band candidate join → Hamming ≤ 3 cut. EXACT cross-engine
  twin (the dedup_simhash_portable convention): every stage is
  integer arithmetic, and at max_hamming = 3 < 4 bands the banded
  pair set EQUALS the all-pairs thresholded set by pigeonhole, so
  the oracle replays the simple all-pairs form over the bounded
  slice while the engine runs the banded production shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load as _t
from ..operators import multimodal as mm
from .registry import query
from .staged_r06 import _cms_oracle_bucket_sql


_PH_SLICE = 400  # doc_id < 400: bounds the oracle's all-pairs replay
_PH_MAXHAM = 3  # < 4 bands => pigeonhole makes banding lossless


def _dhash_oracle_sql() -> str:
    """DuckDB replay of the full dHash pipeline: the same portable
    byte fill (base on the GROUP key + sparse per-doc +128 flips, all
    on the prime 251 grid), the same bottom-up/stride byte addressing
    of the sampled 9×8 luminance grid, the same integer luminance and
    gradient-sign bits, the same four 16-bit band integers, and the
    all-pairs Hamming ≤ 3 cut (== the banded engine result by
    pigeonhole: ≤ 3 differing bits across 4 bands always leave one
    band identical, and both sides emit only pairs ≤ 3)."""
    base = _cms_oracle_bucket_sql(
        f"(doc_id % {mm.DHASH_GROUPS}) * 1024 + jj",
        mm.DHASH_SEED_BASE,
        mm.DHASH_BYTE_MOD,
    )
    flip = _cms_oracle_bucket_sql(
        "doc_id * 1024 + jj", mm.DHASH_SEED_FLIP, mm.DHASH_FLIPMOD
    )
    return f"""
    WITH d AS (
      SELECT doc_id FROM documents WHERE doc_id < {_PH_SLICE}
    ), grid AS (
      SELECT d.doc_id, yy.i AS yy, xx.i AS xx, ch.i AS ch,
             ({mm.DHASH_H - 1} - 2 * yy.i) * {mm.DHASH_STRIDE}
               + 6 * xx.i + ch.i AS jj
      FROM d,
           LATERAL unnest(range(8)) AS yy(i),
           LATERAL unnest(range(9)) AS xx(i),
           LATERAL unnest(range(3)) AS ch(i)
    ), byte AS (
      SELECT doc_id, yy, xx, ch,
             (({base})
              + CASE WHEN ({flip}) = 0 THEN 128 ELSE 0 END)
             % {mm.DHASH_BYTE_MOD} AS v
      FROM grid
    ), lum AS (
      -- BMP byte order is B,G,R: luminance (r + 2g + b) >> 2
      SELECT doc_id, yy, xx,
             CAST(SUM(CASE ch WHEN 0 THEN v WHEN 1 THEN 2 * v
                      ELSE v END) // 4 AS BIGINT) AS gv
      FROM byte GROUP BY doc_id, yy, xx
    ), bits AS (
      SELECT doc_id, yy, xx,
             CASE WHEN LEAD(gv) OVER (
               PARTITION BY doc_id, yy ORDER BY xx) > gv
             THEN 1 ELSE 0 END AS bit
      FROM lum
    ), sigs AS (
      SELECT doc_id,
             SUM(CASE WHEN (yy * 8 + xx) // 16 = 0
                 THEN bit << ((yy * 8 + xx) % 16) ELSE 0 END) AS b0,
             SUM(CASE WHEN (yy * 8 + xx) // 16 = 1
                 THEN bit << ((yy * 8 + xx) % 16) ELSE 0 END) AS b1,
             SUM(CASE WHEN (yy * 8 + xx) // 16 = 2
                 THEN bit << ((yy * 8 + xx) % 16) ELSE 0 END) AS b2,
             SUM(CASE WHEN (yy * 8 + xx) // 16 = 3
                 THEN bit << ((yy * 8 + xx) % 16) ELSE 0 END) AS b3
      FROM bits WHERE xx < 8 GROUP BY doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
              + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
              AS INT) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
        + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
        <= {_PH_MAXHAM}
    """


@query("dedup_image_phash", oracle=_dhash_oracle_sql())
def dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dedup via dHash + Hamming-band bucketing
    (VERDICT r08 item 7): each doc's 24-bit BMP is synthesized with a
    GROUP-keyed fill + sparse per-doc perturbation (planted
    near-duplicates), decoded back through the real container parse
    (bottom-up row order + 4-byte stride, operators/multimodal.py),
    reduced to the 9×8 integer-luminance grid, and hashed to 64
    gradient-sign bits held as four 16-bit band integers. Candidates
    come from the SimHash-style band join (pairs agreeing on ≥1 band
    — Hamming ≤ 3 is GUARANTEED caught by pigeonhole over 4 bands),
    then the exact Hamming cut verifies. dHash over DCT-pHash is
    deliberate: integer end-to-end, so the oracle replays every stage
    exactly (a DCT's float cosines would put sign bits on libm ULPs);
    fixture geometry: within-group Hamming ≤ 5 (1729/1800 pairs ≤ 3),
    cross-group minimum 6 — an integer gap above the cut, test-pinned.

    Scale: signatures are one Arrow mapInPandas scan (production
    would decode real bytes the same way); the band join shards by
    16-bit band value exactly like MinHash LSH band buckets — never
    all-pairs. The all-pairs form exists only as the oracle spec over
    the bounded slice."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < _PH_SLICE)
    sigs = mm.image_dhash_signatures(d)
    chunks = sigs.select(
        "doc_id",
        "b0",
        "b1",
        "b2",
        "b3",
        F.posexplode(F.array("b0", "b1", "b2", "b3")).alias("chunk", "cval"),
    )
    a = chunks.select(
        "chunk",
        "cval",
        F.col("doc_id").alias("id_a"),
        *[F.col(f"b{c}").alias(f"a{c}") for c in range(4)],
    )
    b = chunks.select(
        "chunk",
        "cval",
        F.col("doc_id").alias("id_b"),
        *[F.col(f"b{c}").alias(f"bb{c}") for c in range(4)],
    )
    ham = sum(
        F.bit_count(F.col(f"a{c}").bitwiseXOR(F.col(f"bb{c}")))
        for c in range(4)
    )
    return (
        a.join(b, ["chunk", "cval"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= _PH_MAXHAM)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Round-9 analytics batch: the remaining classical paired/repeated-
# measures tests + ranking metric + sequential drift detector. Shared
# discipline: integerize ONCE at the cent grid, ship exact integers,
# ROUND 6 only for genuinely irrational outputs (sqrt).
# ---------------------------------------------------------------------------

_WSR_DAILY_CTE = """
    daily AS (
      SELECT l_shipdate AS day,
             SUM(CASE WHEN l_returnflag = 'N'
                 THEN CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                 ELSE 0 END) AS xn,
             SUM(CASE WHEN l_returnflag <> 'N'
                 THEN CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                 ELSE 0 END) AS xr
      FROM lineitem GROUP BY 1
    )
"""


@query(
    "a_wilcoxon_signed_rank",
    oracle=f"""
    WITH {_WSR_DAILY_CTE},
    d AS (
      SELECT day, xn - xr AS dd, ABS(xn - xr) AS ad
      FROM daily WHERE xn - xr <> 0
    ), rk AS (
      SELECT dd,
             2 * CAST(RANK() OVER (ORDER BY ad) AS BIGINT)
               + CAST(COUNT(*) OVER (PARTITION BY ad) AS BIGINT) - 1
               AS two_r,
             ad
      FROM d
    ), ties AS (
      SELECT SUM(t * t * t - t) AS tcorr FROM (
        SELECT COUNT(*) AS t FROM rk GROUP BY ad
      )
    ), agg AS (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN dd > 0 THEN two_r ELSE 0 END) AS w2p
      FROM rk
    )
    SELECT CAST(n AS BIGINT) AS n_nonzero,
           CAST(w2p AS BIGINT) AS w2_plus,
           CAST(2 * w2p - n * (n + 1) AS BIGINT) AS z_num,
           CAST(2 * n * (n + 1) * (2 * n + 1) - tcorr AS BIGINT) AS var3,
           ROUND((2 * w2p - n * (n + 1))
                 / SQRT((2.0 * n * (n + 1) * (2 * n + 1) - tcorr) / 3.0),
                 6) AS z
    FROM agg CROSS JOIN ties
    """,
)
def a_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon SIGNED-RANK test — the paired companion to
    a_mannwhitney_u (independent) and a_friedman_test (k treatments):
    per day, the paired difference d = cents(returnflag N) − cents
    (other flags); zero differences drop; |d| gets doubled midranks
    (2·RANK + ties − 1 — the Friedman convention, exact integers);
    W2+ sums doubled ranks over positive d. Shipped integers: n,
    W2+, the z numerator 2·W2+ − n(n+1), and the tie-corrected
    variance numerator var3 = 2n(n+1)(2n+1) − Σ(t³−t); z itself is
    num / sqrt(var3/3) — sqrt of a non-square ⇒ irrational ⇒ ROUND 6
    is never grid-resident (the a_runs_test convention).

    Scale: one fact scan → the bounded daily table; ranks are windows
    over the calendar-bounded series."""
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    daily = li.groupBy(F.col("l_shipdate").alias("day")).agg(
        F.sum(F.when(F.col("l_returnflag") == "N", cents).otherwise(0)).alias(
            "xn"
        ),
        F.sum(F.when(F.col("l_returnflag") != "N", cents).otherwise(0)).alias(
            "xr"
        ),
    )
    from pyspark.sql import Window

    from ..operators.ranks import constant_partition_key

    d = daily.select(
        (F.col("xn") - F.col("xr")).alias("dd"),
        F.abs(F.col("xn") - F.col("xr")).alias("ad"),
    ).filter(F.col("dd") != 0)
    # bounded post-aggregation table (calendar days): the constant
    # partition key is the repo's blessed single-task-window form
    w_rank = Window.partitionBy(
        constant_partition_key(F.col("ad"))
    ).orderBy("ad")
    w_tie = Window.partitionBy("ad")
    rk = d.select(
        "dd",
        "ad",
        (
            2 * F.rank().over(w_rank).cast("long")
            + F.count("*").over(w_tie).cast("long")
            - 1
        ).alias("two_r"),
    )
    ties = (
        rk.groupBy("ad")
        .agg(F.count("*").alias("t"))
        .agg(F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tcorr"))
    )
    agg = rk.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("dd") > 0, F.col("two_r")).otherwise(0)).alias(
            "w2p"
        ),
    )
    j = agg.crossJoin(F.broadcast(ties))
    n, w2p, tc = F.col("n"), F.col("w2p"), F.col("tcorr")
    var3 = 2 * n * (n + 1) * (2 * n + 1) - tc
    return j.select(
        n.cast("long").alias("n_nonzero"),
        w2p.cast("long").alias("w2_plus"),
        (2 * w2p - n * (n + 1)).cast("long").alias("z_num"),
        var3.cast("long").alias("var3"),
        F.round(
            (2 * w2p - n * (n + 1)) / F.sqrt(var3.cast("double") / 3.0), 6
        ).alias("z"),
    )


# ---------------------------------------------------------------------------
# a_mrr_at_k — Mean Reciprocal Rank @ 10 as EXACT integers
# ---------------------------------------------------------------------------

_MRR_K = 10
_MRR_LCM = 2520  # lcm(1..10): 2520/r is an exact integer for r <= 10


@query(
    "a_mrr_at_k",
    oracle=f"""
    WITH ranked AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY value DESC, event_id
             ) AS rn
      FROM events
    ), firsts AS (
      SELECT user_id, MIN(rn) AS fr
      FROM ranked
      WHERE event_type = 'purchase' AND rn <= {_MRR_K}
      GROUP BY user_id
    ), users AS (
      SELECT COUNT(DISTINCT user_id) AS n_users FROM events
    )
    SELECT CAST(n_users AS BIGINT) AS n_users,
           CAST(COUNT(fr) AS BIGINT) AS n_hits,
           CAST(COALESCE(SUM({_MRR_LCM} // fr), 0) AS BIGINT) AS mrr_num,
           CAST(n_users * {_MRR_LCM} AS BIGINT) AS mrr_den
    FROM users LEFT JOIN firsts ON TRUE
    GROUP BY n_users
    """,
)
def a_mrr_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean Reciprocal Rank @ {k} — the retrieval-eval metric the
    ranking family lacked (nDCG measures graded position quality,
    PR-AUC threshold quality; MRR measures "how fast do I hit the
    first relevant item"): per user, events ranked by (value DESC,
    event_id) — a cross-engine TOTAL order — and the first 'purchase'
    within the top {k} contributes 1/rank. Band-grid endgame: 1/rank
    sums are shipped as EXACT integers on the lcm(1..{k}) = {lcm}
    grid (mrr_num / mrr_den IS the MRR, no float column to disagree
    on).

    Scale: one scan + one per-user window (user-partitioned, never
    global) + one bounded aggregate."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("value"), F.col("event_id")
    )
    ranked = e.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    )
    firsts = (
        ranked.filter(
            (F.col("event_type") == "purchase") & (F.col("rn") <= _MRR_K)
        )
        .groupBy("user_id")
        .agg(F.min("rn").alias("fr"))
    )
    users = e.agg(F.countDistinct("user_id").alias("n_users"))
    hits = firsts.agg(
        F.count("*").alias("n_hits"),
        F.sum(F.floor(F.lit(_MRR_LCM) / F.col("fr"))).alias("mrr_num"),
    )
    return users.crossJoin(F.broadcast(hits)).select(
        F.col("n_users").cast("long").alias("n_users"),
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        F.coalesce(F.col("mrr_num"), F.lit(0)).cast("long").alias("mrr_num"),
        (F.col("n_users") * _MRR_LCM).cast("long").alias("mrr_den"),
    )


a_mrr_at_k.__doc__ = a_mrr_at_k.__doc__.replace("{k}", str(_MRR_K)).replace(
    "{lcm}", str(_MRR_LCM)
)


# ---------------------------------------------------------------------------
# a_cochran_q — Cochran's Q (binary repeated measures), exact integers
# ---------------------------------------------------------------------------


@query(
    "a_cochran_q",
    oracle="""
    WITH m AS (
      SELECT DISTINCT user_id, event_type FROM events
    ), k_ AS (
      SELECT COUNT(DISTINCT event_type) AS k FROM events
    ), rows_ AS (
      SELECT user_id, COUNT(*) AS r FROM m GROUP BY user_id
    ), cols_ AS (
      SELECT event_type, COUNT(*) AS c FROM m GROUP BY event_type
    ), rs AS (
      SELECT SUM(r) AS sr, SUM(r * r) AS sr2 FROM rows_
    ), cs AS (
      SELECT SUM(c) AS sc, SUM(c * c) AS sc2 FROM cols_
    )
    SELECT CAST(k AS BIGINT) AS k_treatments,
           CAST((SELECT COUNT(*) FROM rows_) AS BIGINT) AS n_blocks,
           CAST((k - 1) * (k * sc2 - sc * sc) AS BIGINT) AS q_num,
           CAST(k * sr - sr2 AS BIGINT) AS q_den
    FROM k_ CROSS JOIN rs CROSS JOIN cs
    """,
)
def a_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q — the BINARY repeated-measures test completing the
    blocked-design ladder (Friedman ranks ordinal outcomes across
    blocks; Q tests binary ones): blocks = users, treatments = the k
    event types, x_ub = 1 iff user u ever fired type b. Q =
    (k−1)·[k·ΣC_j² − (ΣC_j)²] / [k·ΣR_u − ΣR_u²] over the row/column
    totals of the binary matrix — every term an exact integer, so
    the statistic ships as the BIGINT pair (q_num, q_den).

    Scale: one DISTINCT scan (map-side partial) + two bounded
    aggregates; nothing corpus-wide after the first shuffle."""
    e = _t(spark, sf_dir, "events")
    m = e.select("user_id", "event_type").distinct()
    k_ = e.agg(F.countDistinct("event_type").alias("k"))
    rows_ = m.groupBy("user_id").agg(F.count("*").alias("r"))
    rs = rows_.agg(
        F.count("*").alias("n_blocks"),
        F.sum("r").alias("sr"),
        F.sum(F.col("r") * F.col("r")).alias("sr2"),
    )
    cs = m.groupBy("event_type").agg(F.count("*").alias("c")).agg(
        F.sum("c").alias("sc"),
        F.sum(F.col("c") * F.col("c")).alias("sc2"),
    )
    j = k_.crossJoin(F.broadcast(rs)).crossJoin(F.broadcast(cs))
    k = F.col("k")
    return j.select(
        k.cast("long").alias("k_treatments"),
        F.col("n_blocks").cast("long").alias("n_blocks"),
        ((k - 1) * (k * F.col("sc2") - F.col("sc") * F.col("sc")))
        .cast("long")
        .alias("q_num"),
        (k * F.col("sr") - F.col("sr2")).cast("long").alias("q_den"),
    )


# ---------------------------------------------------------------------------
# a_page_hinkley — sequential drift detector over the daily series
# ---------------------------------------------------------------------------

_PH_CALIB_DAYS = 30
_PH_DELTA_CENTS = 50_000  # drift allowance per day, cents
_PH_LAMBDA_X30 = 2_000_000_000  # alarm threshold on the x30 grid


@query(
    "a_page_hinkley",
    oracle=f"""
    WITH daily AS (
      SELECT l_shipdate AS day,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS xc
      FROM lineitem GROUP BY 1
    ), ord AS (
      SELECT day, xc, ROW_NUMBER() OVER (ORDER BY day) AS t
      FROM daily
    ), ref AS (
      SELECT SUM(xc) AS refsum FROM ord WHERE t <= {_PH_CALIB_DAYS}
    ), m AS (
      SELECT day, t,
             SUM({_PH_CALIB_DAYS} * xc - refsum
                 - {_PH_CALIB_DAYS} * {_PH_DELTA_CENTS})
               OVER (ORDER BY t) AS m30
      FROM ord CROSS JOIN ref
      WHERE t > {_PH_CALIB_DAYS}
    ), ph AS (
      SELECT day, t,
             m30 - MIN(m30) OVER (
               ORDER BY t ROWS UNBOUNDED PRECEDING) AS ph30
      FROM m
    )
    SELECT CAST((SELECT COUNT(*) FROM ord) AS BIGINT) AS n_days,
           CAST(MAX(ph30) AS BIGINT) AS ph_max_x30,
           STRFTIME(CAST(MIN(CASE WHEN ph30 = (SELECT MAX(ph30) FROM ph)
                    THEN day END) AS DATE), '%Y-%m-%d') AS peak_day,
           MAX(ph30) > {_PH_LAMBDA_X30} AS alarm
    FROM ph
    """,
)
def a_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page–Hinkley sequential drift detector — the online
    changepoint monitor completing the drift family (PSI compares
    two snapshots, CUSUM/binary-segmentation are offline; PH is the
    streaming-shaped cumulative test): calibrate the reference mean
    on the first {c} days, then track m_t = Σ(x_i − x̄_ref − δ) and
    PH_t = m_t − min_{{i≤t}} m_i; alarm when PH exceeds λ. Everything
    rides the ×{c} integer grid (x̄_ref enters only as the
    calibration SUM), so the statistic, the peak day, and the alarm
    are exact integers — no float recursion.

    Scale: one fact scan → the bounded daily series; the sequential
    scan is two cumulative windows over the calendar-bounded table
    (at true streaming scale the same recurrence runs in the
    moment-sink pattern of stream_*_checked)."""
    from pyspark.sql import Window

    from ..operators.ranks import constant_partition_key

    li = _t(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").alias("day")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "xc"
        )
    )
    k = constant_partition_key(F.col("day"))
    w_t = Window.partitionBy(k).orderBy("day")
    ord_ = daily.select("day", "xc", F.row_number().over(w_t).alias("t"))
    ref = ord_.filter(F.col("t") <= _PH_CALIB_DAYS).agg(
        F.sum("xc").alias("refsum")
    )
    n_days = ord_.agg(F.count("*").alias("n_days"))
    w_cum = (
        Window.partitionBy(constant_partition_key(F.col("t")))
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    m = (
        ord_.filter(F.col("t") > _PH_CALIB_DAYS)
        .crossJoin(F.broadcast(ref))
        .select(
            "day",
            "t",
            F.sum(
                _PH_CALIB_DAYS * F.col("xc")
                - F.col("refsum")
                - F.lit(_PH_CALIB_DAYS * _PH_DELTA_CENTS)
            )
            .over(w_cum)
            .alias("m30"),
        )
    )
    ph = m.select(
        "day",
        "t",
        (F.col("m30") - F.min("m30").over(w_cum)).alias("ph30"),
    )
    # max PH with the EARLIEST peak day: min over (-ph30, day) structs
    agg = ph.agg(
        F.min(
            F.struct(
                (-F.col("ph30")).alias("nph"), F.col("day").alias("d")
            )
        ).alias("b")
    )
    return agg.crossJoin(F.broadcast(n_days)).select(
        F.col("n_days").cast("long").alias("n_days"),
        (-F.col("b.nph")).cast("long").alias("ph_max_x30"),
        F.date_format("b.d", "yyyy-MM-dd").alias("peak_day"),
        (-F.col("b.nph") > F.lit(_PH_LAMBDA_X30)).alias("alarm"),
    )


a_page_hinkley.__doc__ = a_page_hinkley.__doc__.replace(
    "{c}", str(_PH_CALIB_DAYS)
)


# ---------------------------------------------------------------------------
# p_t_closeness — completes the anonymity audit family (k-anonymity,
# l-diversity, t-closeness)
# ---------------------------------------------------------------------------

_TC_T_NUM, _TC_T_DEN = 1, 5  # t = 0.2


@query(
    "p_t_closeness",
    oracle=f"""
    WITH j AS (
      SELECT c.c_mktsegment AS grp,
             CAST(substr(o.o_orderpriority, 1, 1) AS BIGINT) AS cls
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), cell AS (
      SELECT grp, cls, COUNT(*) AS c FROM j GROUP BY 1, 2
    ), grps AS (
      SELECT DISTINCT grp FROM j
    ), clss AS (
      SELECT DISTINCT cls FROM j
    ), grid AS (
      SELECT g.grp, s.cls, COALESCE(c.c, 0) AS c
      FROM grps g CROSS JOIN clss s
      LEFT JOIN cell c ON c.grp = g.grp AND c.cls = s.cls
    ), ng AS (
      SELECT grp, SUM(c) AS n_g FROM grid GROUP BY 1
    ), gcls AS (
      SELECT cls, SUM(c) AS cj FROM grid GROUP BY 1
    ), tot AS (
      SELECT SUM(c) AS n, COUNT(DISTINCT cls) AS m FROM grid
    ), cum AS (
      SELECT grid.grp, grid.cls,
             SUM(grid.c * tot.n - gcls.cj * ng.n_g) OVER (
               PARTITION BY grid.grp ORDER BY grid.cls
             ) AS d_i
      FROM grid
      JOIN ng ON ng.grp = grid.grp
      JOIN gcls ON gcls.cls = grid.cls
      CROSS JOIN tot
    )
    SELECT cum.grp AS qi_group,
           CAST(MAX(ng.n_g) AS BIGINT) AS n_g,
           CAST(SUM(ABS(d_i)) AS BIGINT) AS emd_num,
           CAST(MAX(ng.n_g) * MAX(tot.n) * (MAX(tot.m) - 1) AS BIGINT)
             AS emd_den,
           SUM(ABS(d_i)) * {_TC_T_DEN}
             <= MAX(ng.n_g) * MAX(tot.n) * (MAX(tot.m) - 1) * {_TC_T_NUM}
             AS t_ok
    FROM cum JOIN ng ON ng.grp = cum.grp CROSS JOIN tot
    GROUP BY cum.grp
    """,
)
def p_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — completes the anonymity ladder
    (a_k_anonymity: group sizes; p_l_diversity: within-group sensitive
    variety; t-closeness: within-group sensitive DISTRIBUTION must
    stay close to the global one, or group membership leaks the
    attribute). Quasi-identifier = market segment; sensitive = order
    priority, an ORDERED attribute, so the distance is the ordered
    Earth-Mover's Distance EMD = (1/(m−1))·Σ_i |Σ_{{j≤i}}(p_g(j) −
    p(j))|. Band-grid endgame: clear denominators ONCE — D_i =
    Σ_{{j≤i}}(c_gj·N − C_j·n_g) is an exact integer, EMD =
    Σ|D_i| / (n_g·N·(m−1)) ships as the BIGINT pair, and the t ≤ 0.2
    verdict is the integer cross-multiplication (the a_pareto_coverage
    convention) — no float distribution math anywhere.

    Scale: one join + one groupBy to the m×G cell grid; everything
    after runs on the bounded grid."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = o.join(
        F.broadcast(c.select("c_custkey", "c_mktsegment")),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select(
        F.col("c_mktsegment").alias("grp"),
        F.substring("o_orderpriority", 1, 1).cast("long").alias("cls"),
    )
    cell = j.groupBy("grp", "cls").agg(F.count("*").alias("c"))
    grps = j.select("grp").distinct()
    clss = j.select("cls").distinct()
    grid = (
        grps.crossJoin(F.broadcast(clss))
        .join(cell, ["grp", "cls"], "left")
        .select("grp", "cls", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    ng = grid.groupBy("grp").agg(F.sum("c").alias("n_g"))
    glob = grid.groupBy("cls").agg(F.sum("c").alias("cj"))
    tot = grid.agg(
        F.sum("c").alias("n"), F.countDistinct("cls").alias("m")
    )
    w = Window.partitionBy("grp").orderBy("cls")
    cum = (
        grid.join(F.broadcast(ng), "grp")
        .join(F.broadcast(glob), "cls")
        .crossJoin(F.broadcast(tot))
        .select(
            "grp",
            "cls",
            "n_g",
            "n",
            "m",
            F.sum(
                F.col("c") * F.col("n") - F.col("cj") * F.col("n_g")
            )
            .over(w)
            .alias("d_i"),
        )
    )
    agg = cum.groupBy("grp").agg(
        F.max("n_g").alias("n_g"),
        F.sum(F.abs(F.col("d_i"))).alias("emd_num"),
        (F.max("n_g") * F.max("n") * (F.max("m") - 1)).alias("emd_den"),
    )
    return agg.select(
        F.col("grp").alias("qi_group"),
        F.col("n_g").cast("long").alias("n_g"),
        F.col("emd_num").cast("long").alias("emd_num"),
        F.col("emd_den").cast("long").alias("emd_den"),
        (
            F.col("emd_num") * _TC_T_DEN <= F.col("emd_den") * _TC_T_NUM
        ).alias("t_ok"),
    )


# ---------------------------------------------------------------------------
# g_closeness_bounded — per-seed harmonic closeness from bounded BFS
# ---------------------------------------------------------------------------

_CLO_TAGS = 6
_CLO_ROUNDS = 4
_CLO_ENC = 1000  # vid' = tag*1000 + vid (vid < 390)


def _clo_seed(tag: str | int) -> str:
    return f"(13 + 31 * {tag}) % 200"


def _clo_round_sql(r: int) -> str:
    return f"""
    , c{r} AS (
      SELECT e.dst AS vid, MIN(d.dist) + 1 AS nd
      FROM tedges e JOIN d{r - 1} d ON d.vid = e.src
      WHERE d.dist IS NOT NULL
      GROUP BY e.dst
    ), d{r} AS (
      SELECT v.vid,
             CASE WHEN v.vid % {_CLO_ENC} = {_clo_seed(f'(v.vid // {_CLO_ENC})')}
                  THEN 0 ELSE c.nd END AS dist
      FROM tverts v LEFT JOIN c{r} c ON c.vid = v.vid
    )
    """


@query(
    "g_closeness_bounded",
    oracle=(
        f"""
    WITH edges0 AS (
      SELECT DISTINCT o_orderkey % 200 AS src,
                      200 + o_orderkey % 190 AS dst
      FROM orders
    ), edges1 AS (
      SELECT src, dst FROM edges0
      UNION ALL
      SELECT dst AS src, src AS dst FROM edges0
    ), tags AS (
      SELECT CAST(unnest(range({_CLO_TAGS})) AS BIGINT) AS tag
    ), tedges AS (
      SELECT tag * {_CLO_ENC} + src AS src, tag * {_CLO_ENC} + dst AS dst
      FROM edges1 CROSS JOIN tags
    ), tverts AS (
      SELECT DISTINCT src AS vid FROM tedges
      UNION
      SELECT DISTINCT dst AS vid FROM tedges
    ), d0 AS (
      SELECT vid,
             CASE WHEN vid % {_CLO_ENC} = {_clo_seed(f'(vid // {_CLO_ENC})')}
                  THEN 0 END AS dist
      FROM tverts
    )"""
        + "".join(_clo_round_sql(r) for r in range(1, _CLO_ROUNDS + 1))
        + f"""
    SELECT CAST({_clo_seed(f'(vid // {_CLO_ENC})')} AS BIGINT) AS seed,
           CAST(SUM(CASE WHEN dist BETWEEN 1 AND {_CLO_ROUNDS}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_reached,
           CAST(SUM(CASE dist WHEN 1 THEN 12 WHEN 2 THEN 6
                    WHEN 3 THEN 4 WHEN 4 THEN 3 ELSE 0 END) AS BIGINT)
             AS h12
    FROM d{_CLO_ROUNDS}
    GROUP BY vid // {_CLO_ENC}
    """
    ),
)
def g_closeness_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-seed HARMONIC closeness centrality within a bounded
    horizon — the centrality readout the graph family lacked
    (pagerank = flow centrality, BFS = raw distance; closeness ranks
    seeds by how quickly they reach the graph). Per-seed distances
    come from ONE multi-source BFS over the TAGGED PRODUCT graph
    (vid' = tag·1000 + vid, one tag per seed, disjoint components) —
    the operators/graph.bfs_distances fixpoint unchanged, K seeds for
    the price of one traversal over K× the bounded edge list.
    Harmonic sums ride the lcm(1..4) = 12 integer grid (the a_mrr_at_k
    convention): h12 = Σ 12/dist is exact, and unreached vertices
    contribute 0 (the harmonic form's whole point — no infinite
    distances to patch).

    Scale: the tag product multiplies the EDGE LIST, not the fixpoint
    depth; each round stays one edges⋈frontier shuffle + map-side
    MIN. At production scale tags shard the same way any replicated
    dimension does."""
    from ..operators.graph import bfs_distances

    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        (F.col("o_orderkey") % 200).alias("src"),
        (F.lit(200) + F.col("o_orderkey") % 190).alias("dst"),
    ).distinct()
    both = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    tags = spark.range(_CLO_TAGS).select(F.col("id").alias("tag"))
    tedges = both.crossJoin(F.broadcast(tags)).select(
        (F.col("tag") * _CLO_ENC + F.col("src")).alias("src"),
        (F.col("tag") * _CLO_ENC + F.col("dst")).alias("dst"),
    )
    sources = tags.select(
        (
            F.col("tag") * _CLO_ENC + (13 + 31 * F.col("tag")) % 200
        ).alias("vid")
    )
    out = bfs_distances(tedges, sources, iterations=_CLO_ROUNDS)
    tag = (F.col("id") / _CLO_ENC).cast("long")
    return (
        out.groupBy(tag.alias("tg"))
        .agg(
            F.sum(
                F.when(F.col("dist").between(1, _CLO_ROUNDS), 1).otherwise(0)
            ).alias("n_reached"),
            F.sum(
                F.when(F.col("dist") >= 1, F.floor(12 / F.col("dist")))
                .otherwise(0)
            ).alias("h12"),
        )
        .select(
            ((13 + 31 * F.col("tg")) % 200).cast("long").alias("seed"),
            F.col("n_reached").cast("long").alias("n_reached"),
            F.col("h12").cast("long").alias("h12"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_video_framehash — frame-sampled perceptual video dedup
# ---------------------------------------------------------------------------

_VID_SLICE = 200
_VID_MIN_FRAMES = 4  # majority: >= 4 of 6 frames within Hamming <= 3


def _video_oracle_sql() -> str:
    """DuckDB replay of the per-frame dHash signatures (same
    construction as dedup_image_phash with the (group·6 + frame) /
    (doc·6 + frame) key extension) + the all-pairs majority rule —
    equal to the banded engine result: a pair with ≥ 4 qualifying
    frames has, for EACH such frame, Hamming ≤ 3 < 4 bands, so
    pigeonhole guarantees a shared (frame, band) bucket and the
    candidate is generated; emission then applies the identical
    majority condition on both sides."""
    base = _cms_oracle_bucket_sql(
        f"((doc_id % {mm.VIDEO_GROUPS}) * {mm.VIDEO_FRAMES} + f) * 1024 + jj",
        mm.DHASH_SEED_BASE,
        mm.DHASH_BYTE_MOD,
    )
    flip = _cms_oracle_bucket_sql(
        f"(doc_id * {mm.VIDEO_FRAMES} + f) * 1024 + jj",
        mm.DHASH_SEED_FLIP,
        mm.DHASH_FLIPMOD,
    )
    return f"""
    WITH d AS (
      SELECT doc_id FROM documents WHERE doc_id < {_VID_SLICE}
    ), grid AS (
      SELECT d.doc_id, fr.i AS f, yy.i AS yy, xx.i AS xx, ch.i AS ch,
             ({mm.DHASH_H - 1} - 2 * yy.i) * {mm.DHASH_STRIDE}
               + 6 * xx.i + ch.i AS jj
      FROM d,
           LATERAL unnest(range({mm.VIDEO_FRAMES})) AS fr(i),
           LATERAL unnest(range(8)) AS yy(i),
           LATERAL unnest(range(9)) AS xx(i),
           LATERAL unnest(range(3)) AS ch(i)
    ), byte AS (
      SELECT doc_id, f, yy, xx, ch,
             (({base})
              + CASE WHEN ({flip}) = 0 THEN 128 ELSE 0 END)
             % {mm.DHASH_BYTE_MOD} AS v
      FROM grid
    ), lum AS (
      SELECT doc_id, f, yy, xx,
             CAST(SUM(CASE ch WHEN 0 THEN v WHEN 1 THEN 2 * v
                      ELSE v END) // 4 AS BIGINT) AS gv
      FROM byte GROUP BY doc_id, f, yy, xx
    ), bits AS (
      SELECT doc_id, f, yy, xx,
             CASE WHEN LEAD(gv) OVER (
               PARTITION BY doc_id, f, yy ORDER BY xx) > gv
             THEN 1 ELSE 0 END AS bit
      FROM lum
    ), sigs AS (
      SELECT doc_id, f,
             SUM(CASE WHEN (yy * 8 + xx) // 16 = 0
                 THEN bit << ((yy * 8 + xx) % 16) ELSE 0 END) AS b0,
             SUM(CASE WHEN (yy * 8 + xx) // 16 = 1
                 THEN bit << ((yy * 8 + xx) % 16) ELSE 0 END) AS b1,
             SUM(CASE WHEN (yy * 8 + xx) // 16 = 2
                 THEN bit << ((yy * 8 + xx) % 16) ELSE 0 END) AS b2,
             SUM(CASE WHEN (yy * 8 + xx) // 16 = 3
                 THEN bit << ((yy * 8 + xx) % 16) ELSE 0 END) AS b3
      FROM bits WHERE xx < 8 GROUP BY doc_id, f
    ), fham AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.f,
             bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
           + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
             AS hm
      FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id AND a.f = b.f
    )
    SELECT id_a, id_b,
           CAST(SUM(CASE WHEN hm <= 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_close_frames
    FROM fham GROUP BY id_a, id_b
    HAVING SUM(CASE WHEN hm <= 3 THEN 1 ELSE 0 END) >= {_VID_MIN_FRAMES}
    """


@query("dedup_video_framehash", oracle=_video_oracle_sql())
def dedup_video_framehash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampled perceptual VIDEO dedup — the last multimodal
    dedup rung (text → image → video): each doc's payload yields 6
    frame thumbnails (the decode → frame-sample → thumbnail pipeline
    shape of a real video stack), every frame dHashed through the
    same real BMP decode as dedup_image_phash, and two videos are
    near-duplicates when a MAJORITY (≥ 4 of 6) of aligned frames fall
    within Hamming ≤ 3 — the frame-vote rule that tolerates per-frame
    edits (intros, watermarks) without an alignment search. Banding:
    candidates share a (frame, band) bucket — pigeonhole per
    qualifying frame guarantees recall — then ONE join back to the
    per-frame signatures verifies the majority. Exact cross-engine
    twin: the oracle replays signatures AND the all-pairs majority
    rule; fixture separation is sharp (within-group pairs have 4-6
    qualifying frames, cross-group 0 of 19,000 — test-pinned).

    Scale: signatures are one Arrow scan emitting K rows per doc; the
    bucket join shards by (frame, 16-bit band); verification touches
    only candidate pairs × K frames."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < _VID_SLICE)
    sigs = mm.video_dhash_signatures(d)
    chunks = sigs.select(
        "doc_id",
        "frame",
        F.posexplode(F.array("b0", "b1", "b2", "b3")).alias("chunk", "cval"),
    )
    cand = (
        chunks.select("frame", "chunk", "cval", F.col("doc_id").alias("id_a"))
        .join(
            chunks.select(
                "frame", "chunk", "cval", F.col("doc_id").alias("id_b")
            ),
            ["frame", "chunk", "cval"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sigs.select(
        F.col("doc_id").alias("id_a"),
        "frame",
        *[F.col(f"b{c}").alias(f"a{c}") for c in range(4)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("id_b"),
        "frame",
        *[F.col(f"b{c}").alias(f"bb{c}") for c in range(4)],
    )
    ham = sum(
        F.bit_count(F.col(f"a{c}").bitwiseXOR(F.col(f"bb{c}")))
        for c in range(4)
    )
    fham = (
        cand.join(sa, "id_a")
        .join(sb, ["id_b", "frame"])
        .select("id_a", "id_b", ham.alias("hm"))
    )
    return (
        fham.groupBy("id_a", "id_b")
        .agg(
            F.sum(F.when(F.col("hm") <= 3, 1).otherwise(0)).alias(
                "n_close_frames"
            )
        )
        .filter(F.col("n_close_frames") >= _VID_MIN_FRAMES)
        .select(
            "id_a",
            "id_b",
            F.col("n_close_frames").cast("long").alias("n_close_frames"),
        )
    )


# ---------------------------------------------------------------------------
# a_jonckheere_terpstra — ordered-alternative k-sample trend test
# ---------------------------------------------------------------------------


@query(
    "a_jonckheere_terpstra",
    oracle="""
    WITH weekly AS (
      SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS cls,
             CAST(FLOOR(EPOCH(o_orderdate) / 604800) AS BIGINT) AS wk,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS xc
      FROM orders GROUP BY 1, 2
    ), pairs AS (
      SELECT CASE WHEN a.xc < b.xc THEN 2
                  WHEN a.xc = b.xc THEN 1 ELSE 0 END AS u2
      FROM weekly a JOIN weekly b ON a.cls < b.cls
    ), groups AS (
      SELECT cls, COUNT(*) AS n FROM weekly GROUP BY cls
    ), moments AS (
      SELECT SUM(n) AS nt, SUM(n * n) AS sn2 FROM groups
    )
    SELECT CAST((SELECT COUNT(*) FROM groups) AS BIGINT) AS k_groups,
           CAST(nt AS BIGINT) AS n_total,
           CAST((SELECT SUM(u2) FROM pairs) AS BIGINT) AS jt2,
           CAST(nt * nt - sn2 AS BIGINT) AS jt2_mean_x2
    FROM moments
    """,
)
def a_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere–Terpstra ORDERED-alternative trend test — the
    k-sample test the battery lacked (Kruskal–Wallis detects ANY
    group difference; JT detects a MONOTONE trend across ordered
    groups, here weekly cent revenue across the 5 priority classes
    in their natural order). JT = Σ_{g<h} U_gh as Mann–Whitney
    counts between every ordered group pair; the doubled form
    jt2 = Σ(2·[x<y] + [x=y]) is an exact integer, and its null mean
    ×2 is N² − Σn_g² (also exact) — ship both BIGINTs and compare
    (the band-grid endgame).

    Scale: the fact scan reduces to the bounded weekly×class table
    (~350×5); the pair join is quadratic in SERIES length only (the
    a_theil_sen precedent), and the small side broadcasts."""
    o = _t(spark, sf_dir, "orders")
    weekly = o.groupBy(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("cls"),
        F.floor(
            F.unix_timestamp(F.col("o_orderdate").cast("timestamp")) / 604800
        ).alias("wk"),
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("xc"))
    a = weekly.select(F.col("cls").alias("ca"), F.col("xc").alias("xa"))
    b = weekly.select(F.col("cls").alias("cb"), F.col("xc").alias("xb"))
    pairs = a.join(F.broadcast(b), F.col("ca") < F.col("cb"))
    jt2 = pairs.agg(
        F.sum(
            F.when(F.col("xa") < F.col("xb"), 2)
            .when(F.col("xa") == F.col("xb"), 1)
            .otherwise(0)
        ).alias("jt2")
    )
    groups = weekly.groupBy("cls").agg(F.count("*").alias("n"))
    mom = groups.agg(
        F.count("*").alias("k_groups"),
        F.sum("n").alias("nt"),
        F.sum(F.col("n") * F.col("n")).alias("sn2"),
    )
    return mom.crossJoin(F.broadcast(jt2)).select(
        F.col("k_groups").cast("long").alias("k_groups"),
        F.col("nt").cast("long").alias("n_total"),
        F.col("jt2").cast("long").alias("jt2"),
        (F.col("nt") * F.col("nt") - F.col("sn2"))
        .cast("long")
        .alias("jt2_mean_x2"),
    )


# ---------------------------------------------------------------------------
# a_rolling_median_7d — exact sliding-window median (dyadic x2 grid)
# ---------------------------------------------------------------------------


@query(
    "a_rolling_median_7d",
    oracle="""
    WITH daily AS (
      SELECT l_shipdate AS day,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS xc
      FROM lineitem GROUP BY 1
    ), win AS (
      SELECT day,
             list(xc) OVER (
               ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
             ) AS arr
      FROM daily
    ), med AS (
      SELECT day, list_sort(arr) AS l, len(arr) AS n FROM win
    )
    SELECT STRFTIME(CAST(day AS DATE), '%Y-%m-%d') AS day,
           CAST(n AS BIGINT) AS n_win,
           CAST(l[(n + 1) // 2] + l[n // 2 + 1] AS BIGINT) AS med_x2
    FROM med
    """,
)
def a_rolling_median_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT trailing-7-day rolling MEDIAN of daily revenue — the
    robust companion to rolling means/EWMAs (one outlier day skews a
    mean; the median monitor doesn't): per day, the median of the
    last ≤7 daily cent sums, shipped as med_x2 = lower-mid +
    upper-mid on the ×2 dyadic grid (exact for both odd and even
    windows — no interpolation float). Spark has no exact windowed
    median; the collect_list-over-bounded-window + array_sort +
    element_at composition IS the exact distributed form for
    CONSTANT-width windows (the window is 7 elements, so the array
    never grows with the corpus — this is NOT the forbidden
    collect-the-corpus shape).

    Scale: one fact scan → bounded daily table; the window carries ≤7
    longs per row."""
    from pyspark.sql import Window

    from ..operators.ranks import constant_partition_key

    li = _t(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").alias("day")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "xc"
        )
    )
    w = (
        Window.partitionBy(constant_partition_key(F.col("day")))
        .orderBy("day")
        .rowsBetween(-6, 0)
    )
    win = daily.select(
        "day", F.array_sort(F.collect_list("xc").over(w)).alias("l")
    ).withColumn("n", F.size("l"))
    return win.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n").cast("long").alias("n_win"),
        (
            F.element_at("l", ((F.col("n") + 1) / 2).cast("int"))
            + F.element_at("l", (F.col("n") / 2).cast("int") + 1)
        )
        .cast("long")
        .alias("med_x2"),
    )


# ---------------------------------------------------------------------------
# a_poisson_rate_test — two-sample rate comparison, pure integers
# ---------------------------------------------------------------------------


@query(
    "a_poisson_rate_test",
    oracle="""
    WITH c AS (
      SELECT SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c2
      FROM events
    )
    SELECT CAST(c1 AS BIGINT) AS n_error,
           CAST(c2 AS BIGINT) AS n_click,
           CAST(c1 - c2 AS BIGINT) AS diff,
           (c1 - c2) * (c1 - c2) * 100 > 384 * (c1 + c2) AS significant
    FROM c
    """,
)
def a_poisson_rate_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Poisson RATE test (conditional/binomial form) —
    "are errors arriving faster than clicks over the same exposure?":
    under H0 (equal rates, equal exposure) c1 | c1+c2 ~ Bin(n, ½), so
    z² = (c1−c2)²/(c1+c2), and the α=0.05 verdict is the integer
    cross-multiplication 100·(c1−c2)² > 384·(c1+c2) (z² > 3.84) — no
    float z to land on a rounding grid (the a_ab_srm convention; this
    is the event-rate companion to its user-count gate).

    Scale: one scan, two conditional counts."""
    e = _t(spark, sf_dir, "events")
    c = e.agg(
        F.sum((F.col("event_type") == "error").cast("long")).alias("c1"),
        F.sum((F.col("event_type") == "click").cast("long")).alias("c2"),
    )
    c1, c2 = F.col("c1"), F.col("c2")
    return c.select(
        c1.cast("long").alias("n_error"),
        c2.cast("long").alias("n_click"),
        (c1 - c2).cast("long").alias("diff"),
        ((c1 - c2) * (c1 - c2) * 100 > 384 * (c1 + c2)).alias("significant"),
    )


# ---------------------------------------------------------------------------
# text_jsd_divergence — corpus-half distribution distance
# ---------------------------------------------------------------------------


@query(
    "text_jsd_divergence",
    oracle="""
    WITH tok AS (
      SELECT doc_id % 2 AS half,
             unnest(string_split_regex(lower(text), '\\s+')) AS w
      FROM documents
    ), tk AS (
      SELECT half, w FROM tok WHERE len(w) > 0
    ), cnt AS (
      SELECT w,
             SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS cp,
             SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS cq
      FROM tk GROUP BY w
    ), tot AS (
      SELECT SUM(cp) AS np, SUM(cq) AS nq, COUNT(*) AS vocab FROM cnt
    ), terms AS (
      SELECT CASE WHEN cp > 0 THEN
               (CAST(cp AS DOUBLE) / np) * LOG2(
                 2.0 * (CAST(cp AS DOUBLE) / np)
                 / (CAST(cp AS DOUBLE) / np + CAST(cq AS DOUBLE) / nq))
             ELSE 0 END AS tp,
             CASE WHEN cq > 0 THEN
               (CAST(cq AS DOUBLE) / nq) * LOG2(
                 2.0 * (CAST(cq AS DOUBLE) / nq)
                 / (CAST(cp AS DOUBLE) / np + CAST(cq AS DOUBLE) / nq))
             ELSE 0 END AS tq
      FROM cnt CROSS JOIN tot
    )
    SELECT CAST((SELECT vocab FROM tot) AS BIGINT) AS vocab,
           CAST((SELECT np FROM tot) AS BIGINT) AS n_tokens_p,
           CAST((SELECT nq FROM tot) AS BIGINT) AS n_tokens_q,
           ROUND(0.5 * SUM(tp) + 0.5 * SUM(tq), 6) AS jsd
    FROM terms
    """,
)
def text_jsd_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence between the unigram distributions of
    two corpus halves (doc_id parity) — the bounded, symmetric
    distribution distance for corpus-mix monitoring (PSI needs binned
    numerics; JSD compares whole vocabularies, the quantity mixture
    designers track when re-weighting domains). One token explode →
    one per-word count pair → one reduce; JSD = ½Σp·log2(2p/(p+q)) +
    ½Σq·log2(2q/(p+q)), zero-count terms vanish by construction.
    Floats are safe here by the big-moment-sum convention: a sum of
    thousands of log terms carries ~1e-12 relative error against the
    1e-6 ROUND grid, and the value is irrational (never
    grid-resident).

    Scale: identical shape to text_unigram_ppl — partial-agg token
    counts, one shuffle on the word key."""
    d = _t(spark, sf_dir, "documents")
    tokens = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda w: F.length(w) > 0
    )
    tk = d.select(
        (F.col("doc_id") % 2).alias("half"), F.explode(tokens).alias("w")
    )
    cnt = tk.groupBy("w").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("cp"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("cq"),
    )
    tot = cnt.agg(
        F.sum("cp").alias("np"),
        F.sum("cq").alias("nq"),
        F.count("*").alias("vocab"),
    )
    j = cnt.crossJoin(F.broadcast(tot))
    p = F.col("cp").cast("double") / F.col("np")
    q = F.col("cq").cast("double") / F.col("nq")
    tp = F.when(F.col("cp") > 0, p * F.log2(2.0 * p / (p + q))).otherwise(0.0)
    tq = F.when(F.col("cq") > 0, q * F.log2(2.0 * q / (p + q))).otherwise(0.0)
    return j.agg(
        F.max("vocab").cast("long").alias("vocab"),
        F.max("np").cast("long").alias("n_tokens_p"),
        F.max("nq").cast("long").alias("n_tokens_q"),
        F.round(0.5 * F.sum(tp) + 0.5 * F.sum(tq), 6).alias("jsd"),
    )


# ---------------------------------------------------------------------------
# io_text_lines_roundtrip_checked — plain-text SOURCE parity
# ---------------------------------------------------------------------------


@query(
    "io_text_lines_roundtrip_checked",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(len(regexp_replace(text, '[\\r\\n\\t]', ' ', 'g')))
                AS BIGINT) AS sum_chars,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
           TRUE AS text_ok
    FROM documents GROUP BY lang
    """,
)
def io_text_lines_roundtrip_checked(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Plain-TEXT source parity (completes the source-format family:
    parquet, CSV, JSON-lines, ORC, binaryFile, evolving-schema —
    spark.read.text was the one reader without a checked round trip):
    documents are exported one-per-line as `doc_id|lang|sanitized`
    (control characters that would break line framing are mapped to
    spaces FIRST — the newline-safety contract every line-oriented
    export needs), read back with spark.read.text, re-split by the
    delimiter, and fingerprinted per language (count, char sum, id
    checksum). text_ok asserts equality with the same fingerprint
    computed directly from parquet — deterministic at fixed data,
    all-TRUE oracle (the checked-SOURCE pattern of
    io_formats_roundtrip_checked).

    Scale: .text() loses every pushdown — this seam is the
    correctness gate for the ingest job that converts raw text ONCE;
    both fingerprints are single map-side-partial scans."""
    import os

    from .staged_r07 import _scratch

    base = _scratch("io_text")
    txt_dir = os.path.join(base, "lines")
    sanitized = F.regexp_replace(F.col("text"), r"[\r\n\t]", " ")
    d = _t(spark, sf_dir, "documents").select(
        F.concat_ws(
            "|", F.col("doc_id").cast("string"), F.col("lang"), sanitized
        ).alias("value")
    )
    d.write.mode("overwrite").text(txt_dir)

    back = (
        spark.read.text(txt_dir)
        .select(
            F.split_part(F.col("value"), F.lit("|"), F.lit(1))
            .cast("long")
            .alias("doc_id"),
            F.split_part(F.col("value"), F.lit("|"), F.lit(2)).alias("lang"),
            # everything after the second delimiter is the payload
            F.expr(
                "substring(value, length(split_part(value, '|', 1))"
                " + length(split_part(value, '|', 2)) + 3)"
            ).alias("body"),
        )
    )

    def fp(df: DataFrame, n: str, c: str, k: str, body) -> DataFrame:
        return df.groupBy("lang").agg(
            F.count("*").alias(n),
            F.sum(F.length(body)).alias(c),
            F.sum("doc_id").alias(k),
        )

    direct = fp(
        _t(spark, sf_dir, "documents").select(
            "doc_id", "lang", sanitized.alias("body")
        ),
        "d_n",
        "d_c",
        "d_k",
        F.col("body"),
    )
    round_ = fp(back, "r_n", "r_c", "r_k", F.col("body"))
    j = direct.join(round_, "lang")
    return j.select(
        "lang",
        F.col("d_n").cast("long").alias("n"),
        F.col("d_c").cast("long").alias("sum_chars"),
        F.col("d_k").cast("long").alias("id_checksum"),
        (
            (F.col("d_n") == F.col("r_n"))
            & (F.col("d_c") == F.col("r_c"))
            & (F.col("d_k") == F.col("r_k"))
        ).alias("text_ok"),
    )


# ---------------------------------------------------------------------------
# p_curation_funnel — the composed corpus-curation funnel readout
# ---------------------------------------------------------------------------


@query(
    "p_curation_funnel",
    oracle="""
    WITH s0 AS (
      SELECT doc_id, lang, n_chars, lower(substr(text, 1, 40)) AS pfx
      FROM documents
    ), s1 AS (
      SELECT * FROM s0
      WHERE doc_id IN (SELECT MIN(doc_id) FROM s0 GROUP BY pfx)
    ), s2 AS (
      SELECT * FROM s1 WHERE lang = 'en'
    ), s3 AS (
      SELECT * FROM s2 WHERE n_chars BETWEEN 100 AND 500
    )
    SELECT * FROM (
      SELECT 0 AS stage_id, 'total' AS stage,
             CAST((SELECT COUNT(*) FROM s0) AS BIGINT) AS kept,
             CAST(0 AS BIGINT) AS dropped
      UNION ALL
      SELECT 1, 'prefix_dedup',
             CAST((SELECT COUNT(*) FROM s1) AS BIGINT),
             CAST((SELECT COUNT(*) FROM s0) - (SELECT COUNT(*) FROM s1)
                  AS BIGINT)
      UNION ALL
      SELECT 2, 'lang_en',
             CAST((SELECT COUNT(*) FROM s2) AS BIGINT),
             CAST((SELECT COUNT(*) FROM s1) - (SELECT COUNT(*) FROM s2)
                  AS BIGINT)
      UNION ALL
      SELECT 3, 'length_100_500',
             CAST((SELECT COUNT(*) FROM s3) AS BIGINT),
             CAST((SELECT COUNT(*) FROM s2) - (SELECT COUNT(*) FROM s3)
                  AS BIGINT)
    )
    """,
)
def p_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-curation FUNNEL readout — the per-stage attrition table
    every curation pipeline publishes (p_curation_verdict gives the
    per-doc verdict; this gives the ops view: how many docs each
    stage costs): total → prefix-40 near-exact dedup (keep the
    min-id member per normalized prefix — the cheap first rung
    before MinHash) → language gate (en) → length band [100, 500].
    Stages CHAIN (each applies to the survivors), counts are exact
    integers; rates are left to the consumer (a kept/dropped pair
    can't hash-mismatch, a float rate can).

    Scale: one scan builds the stage-0 projection; the dedup keep-set
    is a groupBy(prefix) min — the same shape as dedup_exact — and
    the later gates are free predicates on the survivor set."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "n_chars",
        F.lower(F.substring("text", 1, 40)).alias("pfx"),
    )
    keep = d.groupBy("pfx").agg(F.min("doc_id").alias("doc_id"))
    s1 = d.join(keep, ["pfx", "doc_id"], "left_semi")
    s2 = s1.filter(F.col("lang") == "en")
    s3 = s2.filter(F.col("n_chars").between(100, 500))
    c0 = d.agg(F.count("*").alias("c")).select(F.col("c").alias("c0"))
    c1 = s1.agg(F.count("*").alias("c")).select(F.col("c").alias("c1"))
    c2 = s2.agg(F.count("*").alias("c")).select(F.col("c").alias("c2"))
    c3 = s3.agg(F.count("*").alias("c")).select(F.col("c").alias("c3"))
    counts = (
        c0.crossJoin(F.broadcast(c1))
        .crossJoin(F.broadcast(c2))
        .crossJoin(F.broadcast(c3))
    )
    stages = [
        (0, "total", F.col("c0"), F.lit(0).cast("long")),
        (1, "prefix_dedup", F.col("c1"), F.col("c0") - F.col("c1")),
        (2, "lang_en", F.col("c2"), F.col("c1") - F.col("c2")),
        (3, "length_100_500", F.col("c3"), F.col("c2") - F.col("c3")),
    ]
    # inline() over the single counts row instead of a 4-way union of
    # per-stage projections (r11 optimization, §2.4): the union rows
    # pruned different columns through the crossJoin chain, so their
    # subtrees were not byte-identical, exchange reuse never fired and
    # each row re-ran the funnel aggregates it referenced.
    return counts.select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(sid).cast("int").alias("stage_id"),
                        F.lit(name).alias("stage"),
                        kept.cast("long").alias("kept"),
                        dropped.cast("long").alias("dropped"),
                    )
                    for sid, name, kept, dropped in stages
                ]
            )
        )
    )


# ---------------------------------------------------------------------------
# a_ljung_box — joint autocorrelation (portmanteau) test
# ---------------------------------------------------------------------------

_LB_LAGS = 10


@query(
    "a_ljung_box",
    oracle=f"""
    WITH c AS (
      SELECT CAST(FLOOR(EPOCH(ts) / 3600) AS BIGINT) AS h,
             CAST(COUNT(*) AS DOUBLE) AS x
      FROM events GROUP BY 1
    ), tot AS (
      SELECT COUNT(*) AS n, SUM(x) / COUNT(*) AS mu,
             SUM(x * x) - SUM(x) * SUM(x) / COUNT(*) AS den
      FROM c
    ), lags AS (
      SELECT k FROM generate_series(1, {_LB_LAGS}) AS t(k)
    ), pairs AS (
      SELECT l.k, a.x AS x, b.x AS y
      FROM lags l
      JOIN c a ON TRUE
      JOIN c b ON b.h = a.h + l.k
    ), rk AS (
      SELECT k,
             SUM(x * y) - (SELECT mu FROM tot) * (SUM(x) + SUM(y))
               + COUNT(*) * (SELECT mu FROM tot) * (SELECT mu FROM tot)
               AS num
      FROM pairs GROUP BY k
    )
    SELECT CAST((SELECT n FROM tot) AS BIGINT) AS n_hours,
           CAST({_LB_LAGS} AS BIGINT) AS k_lags,
           ROUND((SELECT n FROM tot) * ((SELECT n FROM tot) + 2)
                 * SUM((num / (SELECT den FROM tot))
                       * (num / (SELECT den FROM tot))
                       / ((SELECT n FROM tot) - k)), 6) AS lb_stat
    FROM rk
    """,
)
def a_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau test — the JOINT autocorrelation
    diagnostic completing the serial-dependence pair (Durbin–Watson
    tests lag 1; LB tests lags 1..{k} together — "is this series
    white noise at all?"): LB = n(n+2)·Σ r_k²/(n−k) over the hourly
    event-count series, with r_k from demeaned cross products via the
    one-pass moment identity. Same scale-correct shape as
    a_autocorrelation (whose keyed-series convention this inherits —
    gaps in the hour keys pair at h+k, documented there): NO global
    window, one series self-join fanned across a {k}-row broadcast of
    lags. Floats by the big-moment-sum convention, final stat ROUND 6
    (irrational ratio — never grid-resident); the χ² verdict is left
    to the consumer (a float threshold boolean could flip on ULPs;
    the repo ships verdicts only when they cross-multiply on
    integers).

    Scale: identical cost profile to a_autocorrelation — the series
    is bounded (one row per corpus hour)."""
    e = _t(spark, sf_dir, "events")
    c = (
        e.select(
            F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("h")
        )
        .groupBy("h")
        .agg(F.count("*").cast("double").alias("x"))
    )
    tot = c.agg(
        F.count("*").alias("n"),
        (F.sum("x") / F.count("*")).alias("mu"),
        (F.sum(F.col("x") * F.col("x"))
         - F.sum("x") * F.sum("x") / F.count("*")).alias("den"),
    )
    lags = spark.range(1, _LB_LAGS + 1).select(F.col("id").alias("k"))
    a = c.crossJoin(F.broadcast(lags))
    b = c.select(F.col("h").alias("hb"), F.col("x").alias("y"))
    pairs = a.join(b, F.col("hb") == F.col("h") + F.col("k"))
    rk = (
        pairs.groupBy("k")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "k",
            "n",
            "den",
            (
                F.col("sxy")
                - F.col("mu") * (F.col("sx") + F.col("sy"))
                + F.col("cnt") * F.col("mu") * F.col("mu")
            ).alias("num"),
        )
    )
    return rk.agg(
        F.max("n").cast("long").alias("n_hours"),
        F.lit(_LB_LAGS).cast("long").alias("k_lags"),
        F.round(
            F.max("n")
            * (F.max("n") + 2)
            * F.sum(
                (F.col("num") / F.col("den"))
                * (F.col("num") / F.col("den"))
                / (F.col("n") - F.col("k"))
            ),
            6,
        ).alias("lb_stat"),
    )


a_ljung_box.__doc__ = a_ljung_box.__doc__.replace("{k}", str(_LB_LAGS))


# ---------------------------------------------------------------------------
# a_capture_recapture — Lincoln-Petersen population estimate
# ---------------------------------------------------------------------------


@query(
    "a_capture_recapture",
    oracle="""
    WITH span AS (
      SELECT MIN(ts) AS t0, MAX(ts) AS t1 FROM events
    ), marked AS (
      -- exact microseconds (epoch_us), doubled to avoid the /2:
      -- 2*(ts - t0) < (t1 - t0) is pure integer arithmetic
      SELECT user_id,
             MAX(CASE WHEN 2 * (epoch_us(ts) - epoch_us(t0))
                      < epoch_us(t1) - epoch_us(t0) THEN 1 ELSE 0 END) AS w1,
             MAX(CASE WHEN 2 * (epoch_us(ts) - epoch_us(t0))
                      >= epoch_us(t1) - epoch_us(t0) THEN 1 ELSE 0 END) AS w2
      FROM events CROSS JOIN span
      GROUP BY user_id
    )
    SELECT CAST(SUM(w1) AS BIGINT) AS n1,
           CAST(SUM(w2) AS BIGINT) AS n2,
           CAST(SUM(w1 * w2) AS BIGINT) AS m_both,
           CAST(SUM(w1) * SUM(w2) AS BIGINT) AS n_hat_num,
           CAST(SUM(w1 * w2) AS BIGINT) AS n_hat_den
    FROM marked
    """,
)
def a_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lincoln–Petersen capture–recapture estimate of the TOTAL user
    population from two observation windows (first vs second half of
    the corpus time span): n1 seen early, n2 seen late, m in both ⇒
    N̂ = n1·n2/m. The estimator every coverage audit reaches for when
    the denominator is unobservable ("how many users/documents exist
    that we have NEVER seen?") — the same arithmetic estimates dedup
    coverage from two independent dedup passes. Shipped as the exact
    integer tuple (n1, n2, m, N̂'s numerator/denominator) — the
    rational N̂ never becomes a float column.

    Scale: one scan + a per-user MAX flags groupBy; the window split
    is arithmetic on the broadcast corpus span."""
    e = _t(spark, sf_dir, "events")
    span = e.agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
    j = e.crossJoin(F.broadcast(span))
    # exact integer microseconds, doubled split (the p_profile_drift
    # convention: ts loads as NTZ, unix_micros needs the zoned cast,
    # identity under the UTC session)
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    early = 2 * (us("ts") - us("t0")) < us("t1") - us("t0")
    marked = j.groupBy("user_id").agg(
        F.max(early.cast("int")).alias("w1"),
        F.max((~early).cast("int")).alias("w2"),
    )
    return marked.agg(
        F.sum("w1").cast("long").alias("n1"),
        F.sum("w2").cast("long").alias("n2"),
        F.sum(F.col("w1") * F.col("w2")).cast("long").alias("m_both"),
        (F.sum("w1") * F.sum("w2")).cast("long").alias("n_hat_num"),
        F.sum(F.col("w1") * F.col("w2")).cast("long").alias("n_hat_den"),
    )


# ---------------------------------------------------------------------------
# a_chao1_richness — vocabulary richness / unseen-mass estimate
# ---------------------------------------------------------------------------


@query(
    "a_chao1_richness",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
      FROM documents
    ), cnt AS (
      SELECT w, COUNT(*) AS c FROM tok WHERE len(w) > 0 GROUP BY w
    ), f AS (
      SELECT COUNT(*) AS v,
             SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS f1,
             SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS f2
      FROM cnt
    )
    SELECT CAST(v AS BIGINT) AS vocab,
           CAST(f1 AS BIGINT) AS hapax,
           CAST(f2 AS BIGINT) AS dis,
           CAST(2 * v * f2 + f1 * f1 AS BIGINT) AS chao1_num,
           CAST(2 * f2 AS BIGINT) AS chao1_den
    FROM f
    """,
)
def a_chao1_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 vocabulary-richness estimate — "how many word types
    exist that the corpus has NOT yet seen?", the saturation signal a
    data-mix designer reads before buying more of a domain: Chao1 =
    V + f1²/(2·f2) from the hapax (f1) and dis-legomena (f2) counts.
    Shipped as exact integers (V, f1, f2, and the single-fraction
    form (2·V·f2 + f1²)/(2·f2)) — the classic estimator with zero
    float columns.

    Scale: one token explode → word-count groupBy (map-side partial)
    → a 3-counter reduce; the frequency-of-frequencies never
    materializes beyond two conditional sums."""
    d = _t(spark, sf_dir, "documents")
    tokens = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda w: F.length(w) > 0
    )
    cnt = (
        d.select(F.explode(tokens).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    f = cnt.agg(
        F.count("*").alias("v"),
        F.sum((F.col("c") == 1).cast("long")).alias("f1"),
        F.sum((F.col("c") == 2).cast("long")).alias("f2"),
    )
    return f.select(
        F.col("v").cast("long").alias("vocab"),
        F.col("f1").cast("long").alias("hapax"),
        F.col("f2").cast("long").alias("dis"),
        (2 * F.col("v") * F.col("f2") + F.col("f1") * F.col("f1"))
        .cast("long")
        .alias("chao1_num"),
        (2 * F.col("f2")).cast("long").alias("chao1_den"),
    )


# ---------------------------------------------------------------------------
# w_interarrival_median — exact per-user median inter-arrival gap
# ---------------------------------------------------------------------------


@query(
    "w_interarrival_median",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS gap
      FROM events
    ), g AS (
      SELECT user_id, gap,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY gap
             ) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM gaps WHERE gap IS NOT NULL
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(MAX(n) AS BIGINT) AS n_gaps,
           CAST(SUM(CASE WHEN rn = (n + 1) // 2 OR rn = n // 2 + 1
                    THEN gap ELSE 0 END)
                * (CASE WHEN MAX(n) % 2 = 1 THEN 2 ELSE 1 END)
                AS BIGINT) AS med_gap_us_x2
    FROM g GROUP BY user_id
    """,
)
def w_interarrival_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-user MEDIAN inter-arrival gap (microseconds, ×2
    dyadic grid) — the behavioral-cadence feature (bot vs human, paid
    vs organic) that needs a median, not a skew-dominated mean. The
    DISTRIBUTED exact-median-per-group pattern, distinct from
    a_rolling_median_7d's bounded-window form: rank each user's gaps
    with a user-partitioned ROW_NUMBER, select the two middle
    positions by arithmetic on (rn, n), and sum — per-group medians
    for ANY group size with zero arrays and zero collects (for odd n
    the single middle is doubled, so med_x2 is exact on both
    parities). Gap ordering ties are harmless: equal gap values make
    position choice irrelevant to the selected VALUES.

    Scale: two user-partitioned windows + one groupBy — shards by
    user like every behavioral query; no global ordering anywhere."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = e.select(
        "user_id", (us - F.lag(us).over(w_seq)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    w_rank = Window.partitionBy("user_id").orderBy("gap")
    w_all = Window.partitionBy("user_id")
    g = gaps.select(
        "user_id",
        "gap",
        F.row_number().over(w_rank).alias("rn"),
        F.count("*").over(w_all).alias("n"),
    )
    mid = F.when(
        (F.col("rn") == F.floor((F.col("n") + 1) / 2))
        | (F.col("rn") == F.floor(F.col("n") / 2) + 1),
        F.col("gap"),
    ).otherwise(0)
    return g.groupBy("user_id").agg(
        F.max("n").cast("long").alias("n_gaps"),
        (
            F.sum(mid)
            * F.when(F.max("n") % 2 == 1, 2).otherwise(1)
        )
        .cast("long")
        .alias("med_gap_us_x2"),
    )


# ---------------------------------------------------------------------------
# a_platt_calibration — parametric calibration (isotonic's companion)
# ---------------------------------------------------------------------------

_PLATT_LR = 4.0
_PLATT_ROUNDS = 5
_PLATT_BAND = 1_000_000


def _platt_oracle_sql() -> str:
    """Unrolled-CTE replay of the 1-feature GD fit (the
    train_logreg_banded convention: same left-associated z, same EXP
    sigmoid, FLOOR 1e-6 bands absorbing reduce-order float noise)."""
    from .staged_r10 import _SCORES_CTE

    sig = "1.0/(1.0 + EXP(-(w.w1*d.x1 + w.b)))"
    rounds = []
    for k in range(1, _PLATT_ROUNDS + 1):
        rounds.append(
            f"w{k} AS (SELECT "
            f"MIN(w.w1) + {_PLATT_LR}*AVG((d.y - {sig})*d.x1) AS w1, "
            f"MIN(w.b) + {_PLATT_LR}*AVG(d.y - {sig}) AS b "
            f"FROM data d CROSS JOIN w{k - 1} w)"
        )
    return f"""
    WITH {_SCORES_CTE},
    data AS (
      SELECT score AS x1, CAST(is_pos AS DOUBLE) AS y FROM scores
    ), w0 AS (SELECT 0.0 AS w1, 0.0 AS b),
    {",".join(rounds)},
    fin AS (
      SELECT MIN(w.w1) AS w1, MIN(w.b) AS b,
             AVG(-(d.y*LN({sig}) + (1.0 - d.y)*LN(1.0 - {sig})))
               AS logloss,
             COUNT(*) AS n
      FROM data d CROSS JOIN w{_PLATT_ROUNDS} w
    )
    SELECT term, band FROM (
      SELECT 'a' AS term, CAST(FLOOR(w1*{_PLATT_BAND}) AS BIGINT) AS band
      FROM fin
      UNION ALL SELECT 'bias', CAST(FLOOR(b*{_PLATT_BAND}) AS BIGINT)
      FROM fin
      UNION ALL SELECT 'logloss', CAST(FLOOR(logloss*{_PLATT_BAND}) AS BIGINT)
      FROM fin
      UNION ALL SELECT 'n', CAST(n AS BIGINT) FROM fin
    )
    """


@query("a_platt_calibration", oracle=_platt_oracle_sql())
def a_platt_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Platt scaling — the PARAMETRIC calibrator beside
    a_isotonic_calibration (isotonic is nonparametric/step-shaped and
    can overfit small bins; Platt fits the 2-parameter sigmoid
    σ(A·score + B), the production default when scores are already
    roughly sigmoid-shaped): the same centroid-cosine scorer the eval
    battery grades (a_roc_auc / a_ece / a_brier_score use this exact
    (score, is_pos) table), calibrated by 5 full-batch GD rounds of
    operators/train.logreg_fit on ONE feature — the trainer family
    reused as-is. Banded oracle (train_logreg_banded convention):
    unrolled-CTE GD twin, FLOOR 1e-6 bands on A, B, and the
    post-calibration logloss (irrational — never grid-resident).

    Scale: the fit is {r} lazy corpus scans (one per GD round) over
    the 2-column (score, y) projection; serving is the map-only
    σ(A·s + B)."""
    from ..operators import train
    from ..operators.train import _sigmoid
    from .staged_r10 import _centroid0_scores

    scores = _centroid0_scores(spark, sf_dir)
    data = scores.select(
        F.col("score").alias("x1"), F.col("is_pos").cast("double").alias("y")
    )
    w = train.logreg_fit(
        data, ["x1"], "y", lr=_PLATT_LR, rounds=_PLATT_ROUNDS
    )
    fin = data.crossJoin(F.broadcast(w))
    p = _sigmoid(F.col("w1") * F.col("x1") + F.col("b"))
    agg = fin.agg(
        F.min("w1").alias("w1"),
        F.min("b").alias("b"),
        F.avg(
            -(
                F.col("y") * F.log(p)
                + (1.0 - F.col("y")) * F.log(1.0 - p)
            )
        ).alias("logloss"),
        F.count("*").alias("n"),
    )
    band = lambda c: F.floor(c * _PLATT_BAND).cast("long")  # noqa: E731
    # inline() over the single agg row instead of a 4-way union (r11
    # optimization, §2.4): each union row re-ran the corpus scan AND
    # the 5-round GD fit it referenced through the broadcast — 4x the
    # whole query's work for 4 output rows.
    return agg.select(
        F.inline(
            F.array(
                F.struct(
                    F.lit("a").alias("term"), band(F.col("w1")).alias("band")
                ),
                F.struct(
                    F.lit("bias").alias("term"), band(F.col("b")).alias("band")
                ),
                F.struct(
                    F.lit("logloss").alias("term"),
                    band(F.col("logloss")).alias("band"),
                ),
                F.struct(
                    F.lit("n").alias("term"),
                    F.col("n").cast("long").alias("band"),
                ),
            )
        )
    )


a_platt_calibration.__doc__ = a_platt_calibration.__doc__.replace(
    "{r}", str(_PLATT_ROUNDS)
)


# ---------------------------------------------------------------------------
# text_ngram_novelty — unseen-trigram rate of a new batch vs reference
# ---------------------------------------------------------------------------


@query(
    "text_ngram_novelty",
    oracle=r"""
    WITH w AS (
      SELECT doc_id % 2 AS half,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> len(x) > 0) AS ws
      FROM documents
    ), g AS (
      SELECT half,
             unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                     for i in generate_series(1, GREATEST(len(ws) - 2, 0))])
               AS tg
      FROM w
    ), ref AS (
      SELECT DISTINCT tg FROM g WHERE half = 0
    ), new_ AS (
      SELECT tg, COUNT(*) AS occ FROM g WHERE half = 1 GROUP BY tg
    )
    SELECT CAST((SELECT COUNT(*) FROM ref) AS BIGINT) AS ref_grams,
           CAST(COUNT(*) AS BIGINT) AS new_grams,
           CAST(SUM(occ) AS BIGINT) AS new_occ,
           CAST(SUM(CASE WHEN r.tg IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS unseen_grams,
           CAST(SUM(CASE WHEN r.tg IS NULL THEN occ ELSE 0 END) AS BIGINT)
             AS unseen_occ
    FROM new_ n LEFT JOIN ref r ON r.tg = n.tg
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram NOVELTY of a new corpus batch against a reference —
    the data-freshness/memorization monitor pairing with
    text_decontaminate (decontamination asks "does training data leak
    the benchmark?"; novelty asks "does the new batch add anything,
    or is it re-crawled text we already have?"): distinct word
    trigrams of half 1 anti-joined against half 0's reference set,
    counted at both type and occurrence level. Exact integers end to
    end — the novelty RATES (unseen_grams/new_grams,
    unseen_occ/new_occ) are left to the consumer as fractions of the
    shipped BIGINTs.

    Scale: one token explode per half, a distinct + a left join on
    the gram key — identical sharding to the 13-gram decontamination
    join; at 100 TB the reference set is the persisted Bloom/exact
    gram index."""
    from ..operators import dedup

    d = _t(spark, sf_dir, "documents")
    # NON-distinct trigram occurrences per doc: same zip_with build
    # as dedup.word_ngrams but without the distinct (occurrence-level
    # counts are part of the readout)
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda w: F.length(w) > 0
    )
    grams = toks
    for shift in range(1, 3):
        shifted = F.slice(
            toks, shift + 1, F.greatest(F.size(toks), F.lit(1))
        )
        grams = F.zip_with(
            grams, shifted, lambda g, t: F.concat(g, F.lit(" "), t)
        )
    g = d.select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(F.filter(grams, lambda x: x.isNotNull())).alias("tg"),
    )
    ref = g.filter(F.col("half") == 0).select("tg").distinct()
    new_ = (
        g.filter(F.col("half") == 1)
        .groupBy("tg")
        .agg(F.count("*").alias("occ"))
    )
    refc = ref.agg(F.count("*").alias("ref_grams"))
    j = new_.join(
        ref.select(F.col("tg").alias("rtg")),
        F.col("tg") == F.col("rtg"),
        "left",
    )
    agg = j.agg(
        F.count("*").alias("new_grams"),
        F.sum("occ").alias("new_occ"),
        F.sum(F.col("rtg").isNull().cast("long")).alias("unseen_grams"),
        F.sum(
            F.when(F.col("rtg").isNull(), F.col("occ")).otherwise(0)
        ).alias("unseen_occ"),
    )
    return refc.crossJoin(F.broadcast(agg)).select(
        F.col("ref_grams").cast("long").alias("ref_grams"),
        F.col("new_grams").cast("long").alias("new_grams"),
        F.col("new_occ").cast("long").alias("new_occ"),
        F.col("unseen_grams").cast("long").alias("unseen_grams"),
        F.col("unseen_occ").cast("long").alias("unseen_occ"),
    )


# ---------------------------------------------------------------------------
# a_ewma_control — EWMA control chart (SPC) over the daily series
# ---------------------------------------------------------------------------

_EWC_CALIB = 30
_EWC_LAMBDA = 0.25  # dyadic: z = 0.25*x + 0.75*z is exact per step


@query(
    "a_ewma_control",
    oracle=f"""
    WITH RECURSIVE daily AS (
      SELECT l_shipdate AS day,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS xl
      FROM lineitem GROUP BY 1
    ), ord AS (
      SELECT day, CAST(xl AS DOUBLE) AS x, xl,
             ROW_NUMBER() OVER (ORDER BY day) AS t FROM daily
    ), calib AS (
      -- exact 128-bit integer moments (ADVICE r09): the second moment
      -- is order-independent, so lim no longer depends on SQL
      -- aggregation order matching the Python fold
      SELECT CAST(SUM(xl) AS DOUBLE) / {_EWC_CALIB} AS mu,
             3.0 * SQRT(CAST({_EWC_CALIB} * SUM(CAST(xl AS HUGEINT) * xl)
                             - SUM(xl) * SUM(xl) AS DOUBLE)
                        / ({_EWC_CALIB} * ({_EWC_CALIB} - 1)))
                 * SQRT({_EWC_LAMBDA} / (2.0 - {_EWC_LAMBDA})) AS lim
      FROM ord WHERE t <= {_EWC_CALIB}
    ), fold AS (
      SELECT o.day, o.t, o.x,
             {_EWC_LAMBDA} * o.x + (1.0 - {_EWC_LAMBDA}) * c.mu AS z
      FROM ord o CROSS JOIN calib c WHERE o.t = {_EWC_CALIB} + 1
      UNION ALL
      SELECT o.day, o.t, o.x,
             {_EWC_LAMBDA} * o.x + (1.0 - {_EWC_LAMBDA}) * f.z AS z
      FROM fold f JOIN ord o ON o.t = f.t + 1
    )
    SELECT STRFTIME(CAST(f.day AS DATE), '%Y-%m-%d') AS day,
           f.z AS z,
           ABS(f.z - c.mu) AS dev,
           ROUND(c.lim, 6) AS lim6,
           ABS(f.z - c.mu) > c.lim AS violation
    FROM fold f CROSS JOIN calib c
    """,
)
def a_ewma_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA CONTROL CHART (the SPC classic) over daily revenue — the
    monitoring rule between a raw threshold (noisy) and CUSUM/PH
    (detects sustained shifts but not their size): calibrate μ and
    the steady-state 3σ·√(λ/(2−λ)) limit on the first {c} days, then
    fold z_t = λ·x_t + (1−λ)·z_(t−1) (dyadic λ = {lam} ⇒ every step
    is exact IEEE given the same op order, the a_holt_forecast
    convention: Python scalar fold == recursive-CTE twin, identical
    op sequence). The violation flag compares the ROUNDED deviation
    to the ROUNDED limit — both engines compare the same grid values,
    so the boolean is deterministic (never a raw float-threshold
    boolean). μ is exact (a sum of {c} integers < 2⁵³); the limit
    carries ~1e-9 relative float noise against the 1e-6 grid (the
    big-moment-sum convention).

    Scale: one fact scan → the bounded daily series; the sequential
    fold is one single-group pass (at streaming scale the same
    recurrence is a moment-sink update).

    Cross-engine contract (a live half-grid flip taught it here,
    again): z is an exact dyadic-grid rational at ~1e7 magnitude —
    ROUND 6 of such values is exactly the engines' disagreement zone
    (observed: 17470323.409175 vs .409174), so z and dev ship as RAW
    doubles (identical op order ⇒ bit-identical on both engines — the
    strongest possible check); only the limit is rounded, and the
    violation boolean compares the raw quantities — safe because the
    fixture's minimum |dev − lim| gap is 1.7e4/2.7e5 at
    sf0.001/0.01, ten orders above the 1e-9 float noise (gap
    test-pinned, the spatial-join discipline). The calibration
    moments are EXACT integers on both engines (Python bigints /
    DuckDB HUGEINT — ADVICE r09: the earlier float ascending-day
    second-moment fold silently depended on DuckDB's unspecified
    SUM accumulation order), so lim carries exactly one deterministic
    rounding (the 128-bit→double cast) and is bit-identical by
    construction, not by accumulation luck."""
    import math

    import pandas as pd

    li = _t(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").alias("day")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("xl")
    ).withColumn("x", F.col("xl").cast("double"))

    lam, calib = _EWC_LAMBDA, _EWC_CALIB

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day")
        xs = pdf["x"].to_numpy()
        days = pdf["day"].to_numpy()
        head = [int(v) for v in pdf["xl"].tolist()[:calib]]
        sx = sum(head)  # exact python ints — order-independent
        sxx = sum(v * v for v in head)
        ssd = calib * sxx - sx * sx  # exact ⇒ one rounding at the cast
        mu = sx / calib
        lim = (
            3.0
            * math.sqrt(float(ssd) / (calib * (calib - 1)))
            * math.sqrt(lam / (2.0 - lam))
        )
        out = []
        z = mu
        for d, v in zip(days[calib:], xs[calib:]):
            z = lam * v + (1.0 - lam) * z
            out.append((d, z, abs(z - mu), lim))
        return pd.DataFrame(
            out, columns=["day", "z", "dev", "lim"]
        )

    folded = (
        daily.withColumn("__g", F.lit(0))
        .groupBy("__g")
        .applyInPandas(fold, "day timestamp_ntz, z double, dev double, lim double")
    )
    return folded.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("z").alias("z"),
        F.col("dev").alias("dev"),
        F.round("lim", 6).alias("lim6"),
        (F.col("dev") > F.col("lim")).alias("violation"),
    )


a_ewma_control.__doc__ = a_ewma_control.__doc__.replace(
    "{c}", str(_EWC_CALIB)
).replace("{lam}", str(_EWC_LAMBDA))
