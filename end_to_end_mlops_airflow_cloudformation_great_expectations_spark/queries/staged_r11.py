"""Round-8-queue queries, fourth batch: graph semi-supervision,
feature screening, and the incremental frequency sketch.

- ``g_label_propagation`` — semi-supervised majority label
  propagation (operators/graph.label_propagation), the community /
  weak-label spreading step GraphX ships as LPA, here as a LAZY
  bounded-round fixpoint with an unrolled-CTE DuckDB twin (the
  g_pagerank_banded convention, but integer-exact so no bands).
- ``a_woe_iv`` — weight-of-evidence / information-value feature
  screening of the event value against the purchase target, the
  credit-scoring companion to a_psi_drift (same fixed-grid Laplace
  smoothing discipline).
- ``stream_cms_sink_checked`` — the incremental COUNT-MIN sketch
  (streaming/jobs.cms_cells_sink) made driver-checkable with a FULL
  exact oracle: the cell merge is integer addition, so the 3-batch
  streamed sketch equals the one-shot sketch cell-for-cell and DuckDB
  replays the identical hashes (a_cms_heavy_hitters arithmetic) — no
  bands anywhere.

All proven green at sf0.001 + sf0.01 (incl. --plain) before
registration, per the window discipline in queries/__init__.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load as _t
from ..operators.ranks import constant_partition_key
from .registry import query
from .staged_r06 import _CMS_SEEDS, _cms_buckets, _cms_oracle_bucket_sql
from .staged_r07 import _scratch


_LPA_ROUNDS = 3
_LPA_SEEDS = 20
_LPA_CLASSES = 4

_LPA_ORACLE_GRAPH = """
    edges0 AS (
      SELECT DISTINCT o_orderkey % 200 AS src,
                      200 + o_orderkey % 190 AS dst
      FROM orders
    ), edges AS (
      SELECT src, dst FROM edges0
      UNION ALL
      SELECT dst AS src, src AS dst FROM edges0
    ), verts AS (
      SELECT DISTINCT src AS vid FROM edges
      UNION
      SELECT DISTINCT dst AS vid FROM edges
    ), seeds AS (
      SELECT CAST(unnest(generate_series(0, {max_seed})) AS BIGINT) AS vid
    ), seedlab AS (
      SELECT vid, vid % {classes} AS slab FROM seeds
    )
""".format(max_seed=_LPA_SEEDS - 1, classes=_LPA_CLASSES)


def _lpa_round_sql(r: int) -> str:
    """One unrolled synchronous LPA round: majority (count DESC, label
    ASC) of in-neighbors' previous labels, seeds clamped."""
    return f"""
    , c{r} AS (
      SELECT e.dst AS vid, l.lab, COUNT(*) AS c
      FROM edges e JOIN l{r - 1} l ON l.vid = e.src
      WHERE l.lab IS NOT NULL
      GROUP BY 1, 2
    ), m{r} AS (
      SELECT vid, lab FROM (
        SELECT vid, lab, ROW_NUMBER() OVER (
                 PARTITION BY vid ORDER BY c DESC, lab ASC
               ) AS rn
        FROM c{r}
      ) WHERE rn = 1
    ), l{r} AS (
      SELECT v.vid, COALESCE(s.slab, m.lab) AS lab
      FROM verts v
      LEFT JOIN seedlab s ON s.vid = v.vid
      LEFT JOIN m{r} m ON m.vid = v.vid
    )
    """


@query(
    "g_label_propagation",
    oracle=(
        "WITH "
        + _LPA_ORACLE_GRAPH
        + ", l0 AS (SELECT v.vid, s.slab AS lab FROM verts v "
        "LEFT JOIN seedlab s ON s.vid = v.vid)"
        + "".join(_lpa_round_sql(r) for r in range(1, _LPA_ROUNDS + 1))
        + f"""
    SELECT CAST(vid AS BIGINT) AS id, CAST(lab AS BIGINT) AS label
    FROM l{_LPA_ROUNDS}
    """
    ),
)
def g_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation on the derived order graph
    (same synthetic topology as g_pagerank_banded): 20 seed vertices
    carry label vid % 4; 3 synchronous majority rounds spread them
    (ties → smallest label, seeds clamped). The weak-labeling /
    community primitive for entity graphs — "label the unlabeled
    nodes from the few you trust".

    Cross-engine EXACT oracle: the DuckDB twin unrolls the SAME 3
    rounds as CTEs over the SAME derived graph; every quantity is an
    integer (counts, labels), the majority tie-break is total, so the
    comparison is exact — no bands (the g_pagerank_banded convention
    without needing the bands).

    Scale: operators/graph.label_propagation is fully LAZY with the
    iterate referenced once per round — linear plan growth; each
    round is one edges⋈labels shuffle + two bounded aggregations (the
    Pregel message pattern relationally; majority via max(struct), no
    per-vertex window)."""
    from ..operators.graph import label_propagation

    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        (F.col("o_orderkey") % 200).alias("src"),
        (F.lit(200) + F.col("o_orderkey") % 190).alias("dst"),
    ).distinct()
    both = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    seeds = spark.range(_LPA_SEEDS).select(
        F.col("id").alias("vid"),
        F.pmod(F.col("id"), F.lit(_LPA_CLASSES)).alias("lab"),
    )
    out = label_propagation(both, seeds, iterations=_LPA_ROUNDS)
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("label").cast("long").alias("label"),
    )


_WOE_BINS = 20
_WOE_W = 25.0  # same fixed grid as a_psi_drift


@query(
    "a_woe_iv",
    oracle=f"""
    WITH binned AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_pos,
             CAST(LEAST(GREATEST(FLOOR(value / {_WOE_W}), 0),
                        {_WOE_BINS - 1}) AS BIGINT) AS bin
      FROM events
    ), grid AS (
      SELECT CAST(unnest(generate_series(0, {_WOE_BINS - 1})) AS BIGINT)
               AS bin
    ), counts AS (
      SELECT g.bin,
             CAST(COUNT(*) FILTER (b.is_pos = 1) AS BIGINT) AS n_pos,
             CAST(COUNT(*) FILTER (b.is_pos = 0) AS BIGINT) AS n_neg
      FROM grid g LEFT JOIN binned b ON b.bin = g.bin
      GROUP BY 1
    ), tot AS (
      SELECT bin, n_pos, n_neg,
             SUM(n_pos) OVER () AS tp, SUM(n_neg) OVER () AS tn
      FROM counts
    ), w AS (
      SELECT bin, n_pos, n_neg,
             (n_pos + 0.5) / (tp + {_WOE_BINS / 2.0}) AS p,
             (n_neg + 0.5) / (tn + {_WOE_BINS / 2.0}) AS q
      FROM tot
    )
    SELECT bin, n_pos, n_neg,
           ROUND(LN(p / q), 6) AS woe,
           ROUND(SUM((p - q) * LN(p / q)) OVER (), 6) AS iv
    FROM w
    """,
)
def a_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value screening of the event
    value against the purchase target — the credit-scoring feature
    audit (IV < 0.02 useless, 0.1-0.3 medium, > 0.5 suspicious):
    fixed-grid bins (a_psi_drift's 20×25 grid), Laplace-smoothed
    +0.5/bin so empty bins contribute finite terms, WOE = ln(p/q) per
    bin and IV = Σ(p−q)·WOE attached to every row.

    Determinism: the binning is the portable FLOOR(value/width)
    clamp; counts are exact longs; p, q are the same double
    arithmetic on both engines; WOE/IV round onto the 1e-6 grid. The
    full bin grid is materialized on both sides so smoothing is
    identical.

    Scale: ONE fact scan to |bins|·2 counts; the totals and IV ride
    windows over the 20-row counts table (constant-key partition, the
    bounded-post-aggregation discipline) — a single pass at any
    corpus size, exactly like the PSI monitor it complements."""
    e = _t(spark, sf_dir, "events")
    binned = e.select(
        (F.col("event_type") == "purchase").cast("int").alias("is_pos"),
        F.least(
            F.greatest(F.floor(F.col("value") / _WOE_W), F.lit(0)),
            F.lit(_WOE_BINS - 1),
        )
        .cast("long")
        .alias("bin"),
    )
    grid = spark.range(_WOE_BINS).select(F.col("id").alias("bin"))
    counts = (
        grid.join(binned, "bin", "left")
        .groupBy("bin")
        .agg(
            F.count(F.when(F.col("is_pos") == 1, 1)).alias("n_pos"),
            F.count(F.when(F.col("is_pos") == 0, 1)).alias("n_neg"),
        )
    )
    one = constant_partition_key(F.col("bin"))
    tot = Window.partitionBy(one).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    half = _WOE_BINS / 2.0
    p = (F.col("n_pos") + 0.5) / (F.sum("n_pos").over(tot) + half)
    q = (F.col("n_neg") + 0.5) / (F.sum("n_neg").over(tot) + half)
    w = counts.select(
        "bin", "n_pos", "n_neg", p.alias("p"), q.alias("q")
    )
    return w.select(
        "bin",
        "n_pos",
        "n_neg",
        F.round(F.log(F.col("p") / F.col("q")), 6).alias("woe"),
        F.round(
            F.sum(
                (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))
            ).over(
                Window.partitionBy(constant_partition_key(F.col("bin")))
                .rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
            6,
        ).alias("iv"),
    )


@query(
    "stream_cms_sink_checked",
    oracle=f"""
    WITH b AS (
      SELECT user_id,
             {_cms_oracle_bucket_sql('user_id', _CMS_SEEDS[0])} AS b0,
             {_cms_oracle_bucket_sql('user_id', _CMS_SEEDS[1])} AS b1,
             {_cms_oracle_bucket_sql('user_id', _CMS_SEEDS[2])} AS b2
      FROM events
    ), cells AS (
      SELECT j, bucket, COUNT(*) AS c FROM (
        SELECT 0 AS j, b0 AS bucket FROM b
        UNION ALL SELECT 1, b1 FROM b
        UNION ALL SELECT 2, b2 FROM b
      ) GROUP BY j, bucket
    ), exact AS (
      SELECT user_id, COUNT(*) AS exact_count FROM events GROUP BY user_id
    ), top AS (
      SELECT user_id, exact_count FROM exact
      ORDER BY exact_count DESC, user_id ASC LIMIT 10
    ), probe AS (
      SELECT t.user_id, t.exact_count,
             {_cms_oracle_bucket_sql('t.user_id', _CMS_SEEDS[0])} AS b0,
             {_cms_oracle_bucket_sql('t.user_id', _CMS_SEEDS[1])} AS b1,
             {_cms_oracle_bucket_sql('t.user_id', _CMS_SEEDS[2])} AS b2
      FROM top t
    ), n AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events
    )
    SELECT CAST(p.user_id AS BIGINT) AS user_id,
           CAST(LEAST(c0.c, c1.c, c2.c) AS BIGINT) AS est_count,
           CAST(p.exact_count AS BIGINT) AS exact_count,
           CAST(LEAST(c0.c, c1.c, c2.c) - p.exact_count AS BIGINT)
             AS overcount,
           n.n
    FROM probe p
    JOIN cells c0 ON c0.j = 0 AND c0.bucket = p.b0
    JOIN cells c1 ON c1.j = 1 AND c1.bucket = p.b1
    JOIN cells c2 ON c2.j = 2 AND c2.bucket = p.b2
    CROSS JOIN n
    """,
)
def stream_cms_sink_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental FREQUENCY sketch made driver-checkable with a
    FULL exact oracle (stronger than the moment/quantile sinks' banded
    checks): push events.user_id through jobs.cms_cells_sink in THREE
    micro-batches (the at-least-once foreachBatch shape
    _snapshot_guard protects), then estimate the true top-10 users'
    frequencies FROM THE STREAMED CELLS. Because the cell merge is
    integer addition, the 3-batch sketch equals the one-shot sketch
    cell for cell, and because the d hashes are
    functions.columns.portable_bucket (a_cms_heavy_hitters), DuckDB
    replays the identical sketch from the raw table — so est_count,
    overcount AND the exactly-once witness n (Σ of the j=0 row, which
    must equal COUNT(*)) are all exact integers. A dropped or
    double-applied batch shifts n and every estimate; a hash or merge
    bug shifts est_count — nothing can hide in a band.

    Scale: sketch state is ≤192 cells whatever the stream length or
    key cardinality; the probe joins the broadcast-small cell table d
    times. Build-time eagerness (3 sink calls into a scratch dir) is
    the sanctioned lifecycle exception (ivf_lifecycle_checked
    pattern)."""
    from ..streaming import jobs

    base = _scratch("cms")
    e = _t(spark, sf_dir, "events")
    sink = jobs.cms_cells_sink(base, "user_id")
    for b in range(3):
        sink(e.filter(F.pmod(F.col("event_id"), F.lit(3)) == b), b)

    cells = spark.read.parquet(os.path.join(base, "v2"))
    exact = e.groupBy("user_id").agg(F.count("*").alias("exact_count"))
    top = exact.orderBy(F.desc("exact_count"), F.asc("user_id")).limit(10)
    probe = top.select(
        "user_id",
        "exact_count",
        F.posexplode(F.array(*_cms_buckets(F.col("user_id")))).alias(
            "j", "bucket"
        ),
    )
    est = (
        probe.join(F.broadcast(cells), ["j", "bucket"])
        .groupBy("user_id", "exact_count")
        .agg(F.min("c").alias("est_count"))
    )
    n = cells.filter(F.col("j") == 0).agg(
        F.sum("c").cast("long").alias("n")
    )
    return est.crossJoin(F.broadcast(n)).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("est_count").cast("long").alias("est_count"),
        F.col("exact_count").cast("long").alias("exact_count"),
        (F.col("est_count") - F.col("exact_count"))
        .cast("long")
        .alias("overcount"),
        "n",
    )


# ---------------------------------------------------------------------------
# Deterministic Poisson bootstrap (a_bootstrap_ci)
# ---------------------------------------------------------------------------

_BOOT_B = 100
_BOOT_W = 1 << 20  # hash grid for the inverse-CDF lookup
_BOOT_SEED = 77_777
#: FLOOR(CDF_Poisson(1)(k) * 2^20) for k = 0..9 — integer thresholds so
#: the weight lookup is pure integer comparison on both engines.
_BOOT_T = (
    385749, 771499, 964373, 1028665, 1044738,
    1047952, 1048488, 1048565, 1048574, 1048575,
)
_BOOT_BAND = 1_000_000
_BOOT_LO_RANK = 3   # 2.5th percentile of B=100 (3rd smallest)
_BOOT_HI_RANK = 98  # 97.5th percentile (98th smallest)


def _boot_w_case_sql(bucket: str) -> str:
    whens = " ".join(
        f"WHEN {bucket} < {t} THEN {k}" for k, t in enumerate(_BOOT_T)
    )
    return f"CASE {whens} ELSE {len(_BOOT_T)} END"


@query(
    "a_bootstrap_ci",
    oracle=f"""
    WITH reps AS (
      SELECT e.event_id, e.value,
             CAST(unnest(generate_series(0, {_BOOT_B - 1})) AS BIGINT) AS rep
      FROM events e
    ), weighted AS (
      SELECT rep, value,
             {_boot_w_case_sql(_cms_oracle_bucket_sql(
                 f'event_id * {_BOOT_B} + rep + {_BOOT_SEED}', 0, _BOOT_W))}
               AS w
      FROM reps
    ), rmeans AS (
      SELECT rep, SUM(w * value) / SUM(w) AS m FROM weighted GROUP BY rep
    ), banded AS (
      SELECT rep, m, CAST(ROUND(m * {_BOOT_BAND}) AS BIGINT) AS mb,
             ROW_NUMBER() OVER (
               ORDER BY CAST(ROUND(m * {_BOOT_BAND}) AS BIGINT) ASC, rep ASC
             ) AS rn
      FROM rmeans
    ), stats AS (
      SELECT CAST(ROUND(STDDEV_SAMP(m) * {_BOOT_BAND}) AS BIGINT) AS se_band
      FROM rmeans
    ), point AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(ROUND(AVG(value) * {_BOOT_BAND}) AS BIGINT) AS mean_band
      FROM events
    )
    SELECT p.n, p.mean_band, s.se_band,
           (SELECT mb FROM banded WHERE rn = {_BOOT_LO_RANK}) AS ci_lo_band,
           (SELECT mb FROM banded WHERE rn = {_BOOT_HI_RANK}) AS ci_hi_band
    FROM point p CROSS JOIN stats s
    """,
)
def a_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for the mean event value with a
    DETERMINISTIC, engine-portable resample: the Poisson bootstrap
    (each row enters replicate b with weight ~ Poisson(1)), with the
    weight drawn by INTEGER inverse-CDF lookup on
    portable_bucket(event_id·B + b + seed) — the same hash DuckDB
    replays exactly (a_cms_heavy_hitters arithmetic), so the replicate
    weights are identical integers on both engines and the whole
    resampling argument is cross-engine checkable. B=100 replicates;
    reported: exact n, the point mean, the bootstrap SE, and the
    [2.5%, 97.5%] percentile CI — all integers on the 1e-6 ROUND
    grid. ROUND, not FLOOR: the 2-decimal values make Σv/n land
    EXACTLY on 1e-6 grid points (caught by the replay test), where
    FLOOR flips on 1-ulp cross-engine noise while ROUND is stable;
    ROUND's own bad spots are half-grid points, which the replay
    test's gap check covers.

    This is THE bootstrap at 100 TB: classic index-resampling needs a
    global materialized sample per replicate (B corpus copies); the
    Poisson trick turns it into ONE scan with a per-(row, replicate)
    weight — B·n flat-mapped rows into a B-group aggregation with
    map-side partials, state = B running sums. Percentiles of the
    100-row replicate table ride a constant-key window.

    Hypothesis-test siblings (a_ks_test, a_welch_ttest) assume a
    parametric null; this gives assumption-free uncertainty for ANY
    plug-in statistic — swap the aggregate to extend."""
    from ..functions.columns import portable_bucket

    e = _t(spark, sf_dir, "events")
    reps = e.select(
        "event_id",
        "value",
        F.explode(
            F.sequence(F.lit(0), F.lit(_BOOT_B - 1))
        ).alias("rep"),
    )
    bucket = portable_bucket(
        F.col("event_id") * _BOOT_B + F.col("rep") + F.lit(_BOOT_SEED),
        _BOOT_W,
    )
    w = F.lit(len(_BOOT_T))
    for k in range(len(_BOOT_T) - 1, -1, -1):
        w = F.when(bucket < _BOOT_T[k], k).otherwise(w)
    rmeans = (
        reps.select("rep", "value", w.alias("w"))
        .groupBy("rep")
        .agg((F.sum(F.col("w") * F.col("value")) / F.sum("w")).alias("m"))
    )
    one = constant_partition_key(F.col("rep"))
    rn = F.row_number().over(
        Window.partitionBy(one).orderBy(
            F.round(F.col("m") * _BOOT_BAND).cast("long").asc(),
            F.col("rep").asc(),
        )
    )
    banded = rmeans.select(
        F.round(F.col("m") * _BOOT_BAND).cast("long").alias("mb"),
        rn.alias("rn"),
    )
    lo = banded.filter(F.col("rn") == _BOOT_LO_RANK).select(
        F.col("mb").alias("ci_lo_band")
    )
    hi = banded.filter(F.col("rn") == _BOOT_HI_RANK).select(
        F.col("mb").alias("ci_hi_band")
    )
    se = rmeans.agg(
        F.round(F.stddev_samp("m") * _BOOT_BAND)
        .cast("long")
        .alias("se_band")
    )
    point = e.agg(
        F.count("*").alias("n"),
        F.round(F.avg("value") * _BOOT_BAND).cast("long").alias("mean_band"),
    )
    return (
        point.crossJoin(F.broadcast(se))
        .crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
    )


# ---------------------------------------------------------------------------
# Blocked entity resolution (j_entity_resolution)
# ---------------------------------------------------------------------------

_ER_VARIANT_MOD = 4   # every 4th part gets a dirty duplicate
_ER_ROUNDS = 4        # min-label propagation rounds (diameter bound)
#: match iff word-set Jaccard > 0.6, compared as exact integers:
#: 10*|common| > 6*|union|
_ER_NUM, _ER_DEN = 10, 6


def _er_oracle() -> str:
    rounds = []
    for r in range(1, _ER_ROUNDS + 1):
        rounds.append(f"""
    , l{r} AS (
      SELECT ed.a AS id, MIN(l.lab) AS lab
      FROM edges ed JOIN l{r - 1} l ON l.id = ed.b
      GROUP BY ed.a
    )""")
    return f"""
    WITH base AS (
      SELECT CAST(p_partkey AS BIGINT) AS id, lower(p_name) AS name
      FROM part
    ), variants AS (
      SELECT id + 10000000 AS id,
             name || ' zz' || CAST(id % 7 AS VARCHAR) AS name
      FROM base WHERE id % {_ER_VARIANT_MOD} = 0
    ), ents AS (
      SELECT id, name FROM base UNION ALL SELECT id, name FROM variants
    ), names AS (
      SELECT name, CAST(MIN(id) AS BIGINT) AS nid FROM ents GROUP BY name
    ), toks AS (
      SELECT DISTINCT nid AS id, unnest(string_split(name, ' ')) AS w
      FROM names
    ), sizes AS (
      SELECT id, CAST(COUNT(*) AS BIGINT) AS nw FROM toks GROUP BY id
    ), blocks AS (
      SELECT nid AS id, string_split(name, ' ')[1] AS blk FROM names
    ), cand AS (
      SELECT x.id AS a, y.id AS b
      FROM blocks x JOIN blocks y ON x.blk = y.blk AND x.id < y.id
    ), common AS (
      SELECT c.a, c.b, CAST(COUNT(*) AS BIGINT) AS nc
      FROM cand c
      JOIN toks ta ON ta.id = c.a
      JOIN toks tb ON tb.id = c.b AND tb.w = ta.w
      GROUP BY c.a, c.b
    ), pairs AS (
      SELECT cm.a, cm.b
      FROM common cm
      JOIN sizes sa ON sa.id = cm.a
      JOIN sizes sb ON sb.id = cm.b
      WHERE {_ER_NUM} * cm.nc > {_ER_DEN} * (sa.nw + sb.nw - cm.nc)
    ), edges AS (
      SELECT a, b FROM pairs
      UNION ALL SELECT b AS a, a AS b FROM pairs
      UNION ALL SELECT nid AS a, nid AS b FROM names
    ), l0 AS (
      SELECT nid AS id, nid AS lab FROM names
    ){''.join(rounds)}
    SELECT e.id,
           l.lab AS cluster_id,
           CAST(l.lab <> e.id AS BOOLEAN) AS is_duplicate
    FROM ents e
    JOIN names n ON n.name = e.name
    JOIN l{_ER_ROUNDS} l ON l.id = n.nid
    """


@query("j_entity_resolution", oracle=_er_oracle())
def j_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked ENTITY RESOLUTION end to end — the record-linkage
    composition a warehouse runs to deduplicate reference data:
    (1) synthesize a dirty corpus (every 4th part gets a duplicate
    with a deterministic noise token appended — an entry-noise
    stand-in sized to the fixture's 2-word names: |common|=2 over
    |union|=3 sits just above the threshold, so matching is real but
    not trivial), (2) collapse EXACT duplicates to one representative
    per distinct name (min id) — the canonicalize-first step that
    makes the rest vocabulary-sized, (3) BLOCK the distinct names on
    the first word so candidate pairs are per-block, never corpus²,
    (4) score candidates by word-set Jaccard compared as EXACT
    INTEGERS (10·|common| > 6·|union| — no float similarity in the
    decision), (5) cluster matches with bounded min-label propagation
    (4 rounds ≥ the match graph's measured diameter; convergence
    asserted in tests), (6) map every row back through its name and
    emit (entity, cluster_id, is_duplicate) with the cluster labeled
    by its smallest id — the canonical-record rule (per-name
    representative = min id, so the representative-level minimum IS
    the global one).

    Everything is integers and string equality, so the DuckDB twin is
    EXACT: it unrolls the same rounds as CTEs over the same derived
    corpus.

    Scale: the fuzzy-quadratic step runs over DISTINCT names —
    vocabulary-sized, independent of row count — and blocking bounds
    it further per block (the dedup-family discipline — same reason
    MinHash bands / LSH buckets exist); the corpus-sized work is two
    hash aggregations (name→rep, row→name join-back). Swap the
    blocking key for minhash bands and the scorer for shingle Jaccard
    and this IS dedup_minhash_pairs — the composition is the point:
    canonicalize → block → score → cluster as one lazy plan."""
    p = _t(spark, sf_dir, "part")
    base = p.select(
        F.col("p_partkey").cast("long").alias("id"),
        F.lower(F.col("p_name")).alias("name"),
    )
    variants = base.filter(F.col("id") % _ER_VARIANT_MOD == 0).select(
        (F.col("id") + 10_000_000).alias("id"),
        F.concat(
            F.col("name"), F.lit(" zz"), (F.col("id") % 7).cast("string")
        ).alias("name"),
    )
    ents = base.unionByName(variants)
    # EXACT-duplicate canonicalization FIRST (the textbook ER
    # optimization): identical strings collapse to one representative
    # (min id) before any fuzzy work, so the quadratic candidate step
    # runs over DISTINCT NAMES — vocabulary-sized, which does not grow
    # with the corpus — instead of over rows. (The first formulation
    # skipped this and took 133 s at sf0.1: first-word blocks over a
    # ~20-word vocabulary held thousands of ROWS each; over distinct
    # names the same blocks hold dozens. Because the representative is
    # the per-name MIN id, the cluster minimum over representatives IS
    # the global cluster minimum.)
    names = ents.groupBy("name").agg(F.min("id").alias("nid"))
    toks = names.select(
        F.col("nid").alias("id"),
        F.explode(F.array_distinct(F.split(F.col("name"), " "))).alias("w"),
    )
    sizes = toks.groupBy("id").agg(F.count("*").alias("nw"))
    blocks = names.select(
        F.col("nid").alias("id"), F.split(F.col("name"), " ")[0].alias("blk")
    )
    cand = (
        blocks.alias("x")
        .join(blocks.alias("y"), "blk")
        .where(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
    )
    common = (
        cand.join(toks.select(F.col("id").alias("a"), "w"), "a")
        .join(toks.select(F.col("id").alias("b"), "w"), ["b", "w"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("nc"))
    )
    pairs = (
        common.join(sizes.select(F.col("id").alias("a"), F.col("nw").alias("na")), "a")
        .join(sizes.select(F.col("id").alias("b"), F.col("nw").alias("nb")), "b")
        .filter(
            _ER_NUM * F.col("nc")
            > _ER_DEN * (F.col("na") + F.col("nb") - F.col("nc"))
        )
        .select("a", "b")
    )
    # bounded min-label propagation over the undirected match graph.
    # SELF-LOOPS make lab_r(v) = min over (neighbors ∪ {v}) a SINGLE
    # join against the iterate — one reference per round, linear plan
    # growth (the label_propagation discipline; a separate
    # least(own, neighbor-min) combine would reference the iterate
    # twice and double the plan per round).
    edges = (
        pairs.unionByName(
            pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .unionByName(
            names.select(F.col("nid").alias("a"), F.col("nid").alias("b"))
        )
    )
    lab = names.select(F.col("nid").alias("id"), F.col("nid").alias("lab"))
    for _ in range(_ER_ROUNDS):
        lab = (
            edges.join(
                lab.select(F.col("id").alias("b"), "lab"), "b"
            )
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("lab").alias("lab"))
        )
    return (
        ents.join(names, "name")
        .join(lab.select(F.col("id").alias("nid"), "lab"), "nid")
        .select(
            "id",
            F.col("lab").alias("cluster_id"),
            (F.col("lab") != F.col("id")).alias("is_duplicate"),
        )
    )


# ---------------------------------------------------------------------------
# TextRank keyword extraction (text_textrank_keywords)
# ---------------------------------------------------------------------------

_TR_ROUNDS = 5
_TR_TOPK = 20
_TR_BAND = 1_000_000


def _tr_round_sql(r: int) -> str:
    return f"""
    , r{r} AS (
      SELECT v.vid AS id,
             (1.0 - 0.85) / (SELECT n FROM nn)
             + 0.85 * COALESCE(SUM(r.rk / d.deg), 0) AS rk
      FROM verts v
      LEFT JOIN edges e ON e.dst = v.vid
      LEFT JOIN r{r - 1} r ON r.id = e.src
      LEFT JOIN deg d ON d.src = e.src
      GROUP BY v.vid
    )"""


@query(
    "text_textrank_keywords",
    oracle=r"""
    WITH t AS (
      SELECT list_filter(string_split_regex(lower(text), '\s+'),
                         x -> len(x) > 0) AS ws
      FROM documents
    ), pairs AS (
      SELECT string_split(pair, ' ')[1] AS a,
             string_split(pair, ' ')[2] AS b
      FROM (
        SELECT unnest(list_transform(range(1, len(ws)),
                                     i -> ws[i] || ' ' || ws[i + 1]))
                 AS pair
        FROM t)
      WHERE string_split(pair, ' ')[1] <> string_split(pair, ' ')[2]
    ), edges AS (
      SELECT DISTINCT src, dst FROM (
        SELECT a AS src, b AS dst FROM pairs
        UNION ALL SELECT b AS src, a AS dst FROM pairs)
    ), deg AS (
      SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
    ), verts AS (
      SELECT DISTINCT src AS vid FROM edges
    ), nn AS (
      SELECT COUNT(*) AS n FROM verts
    ), r0 AS (
      SELECT vid AS id, 1.0 / (SELECT n FROM nn) AS rk FROM verts
    )"""
    + "".join(_tr_round_sql(r) for r in range(1, _TR_ROUNDS + 1))
    + f"""
    SELECT id AS word,
           CAST(FLOOR(rk * {_TR_BAND}) AS BIGINT) AS rank_band
    FROM r{_TR_ROUNDS}
    ORDER BY rank_band DESC, word ASC
    LIMIT {_TR_TOPK}
    """,
)
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction — PageRank over the word
    co-occurrence graph (adjacent-word edges, undirected, distinct):
    the unsupervised keyword/keyphrase-seed primitive of an
    LLM-data pipeline (Mihalcea & Tarau 2004), reusing
    operators/graph.pagerank verbatim on a graph whose vertices are
    WORDS. Top-{topk} by 1e-6-banded rank, word tie-break — the
    g_pagerank_banded cross-engine convention (the DuckDB twin
    unrolls the SAME 5 damped iterations over the SAME word graph;
    band noise margins are the measured 1e-9-band-width summation
    noise vs ~0.04-band-width minimum gaps).

    Scale: the graph is VOCABULARY-sized (edges = distinct adjacent
    word pairs — bounded by vocab², not corpus), so the fixpoint cost
    is independent of corpus row count after the one tokenize+pair
    scan; the top-k is TakeOrderedAndProject. Like the pagerank it
    reuses, the operator is eager at call time (the documented
    iterative exception)."""
    from ..operators import text as text_ops
    from ..operators.graph import pagerank

    d = _t(spark, sf_dir, "documents")
    ws = text_ops.words("text")
    pairs = F.zip_with(
        F.slice(ws, 1, F.size(ws) - 1),
        F.slice(ws, 2, F.size(ws) - 1),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )
    p = (
        d.filter(F.size(ws) >= 2)
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    e = (
        p.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(
            p.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        )
        .distinct()
    )
    ranks = pagerank(e, iterations=_TR_ROUNDS)
    return (
        ranks.select(
            F.col("id").alias("word"),
            F.floor(F.col("rank") * _TR_BAND).cast("long").alias("rank_band"),
        )
        .orderBy(F.desc("rank_band"), F.asc("word"))
        .limit(_TR_TOPK)
    )


text_textrank_keywords.__doc__ = text_textrank_keywords.__doc__.replace(
    "{topk}", str(_TR_TOPK)
)
