"""Mergeable sketch aggregates (Apache DataSketches via Spark 4 —
HLL distinct-count, KLL quantiles, Theta set operations).

The 100 TB pattern these enable: sketch ONCE per partition/day/source
(a few KB each), persist the binary sketches as a tiny rollup table,
then answer any slice — distinct users over an arbitrary date range,
a quantile over a source mix, an audience overlap — by UNIONING
sketches at query time instead of re-scanning the fact table. All
three families are associative/commutative merges, so partial
aggregation happens map-side and re-aggregation across rollup rows is
exact sketch algebra (no re-scan, no accuracy loss beyond the
sketch's own bound).

Accuracy bounds (pinned by tests/test_sketches.py):
- HLL (lgK=12 default): ±~1.6% RSE at high cardinality; EXACT in the
  sparse regime (cardinality ≪ 2^lgK).
- KLL (k=200 default): rank error ±~1.65%.
- Theta: set-op estimates with ~1-2% RSE at default lgK.

The reference has no sketch surface (it has no aggregation engine at
all — SURVEY.md §1); these are [N]-mandate scale operators.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .caches import tracked_persist

_persist_tracked = tracked_persist()


def sketch_rollup(
    df: DataFrame,
    group_col: str,
    id_col: str,
    value_col: str,
    total_label: str = "__all__",
    with_stats: bool = False,
) -> DataFrame:
    """Per-group sketch rollup + a union-merged total row.

    Returns one row per group value plus one ``total_label`` row whose
    sketches are the UNION of the per-group sketches (not a re-scan):
    (group, distinct_ids_hll, distinct_ids_theta, median_kll). The
    two-level shape is the point — it proves the rollup table alone
    can answer coarser slices by sketch algebra.

    ``with_stats=True`` adds (n_rows, v_min, v_max) computed in the
    SAME aggregation pass (partial-agg-friendly, still one scan) —
    used for cheap self-consistency bands at scales where an exact
    countDistinct twin would distort the plan's cost profile.
    """
    aggs = [
        F.hll_sketch_agg(id_col).alias("_hll"),
        F.theta_sketch_agg(id_col).alias("_theta"),
        F.kll_sketch_agg_double(value_col).alias("_kll"),
    ]
    if with_stats:
        aggs += [
            F.count("*").alias("n_rows"),
            F.min(value_col).alias("v_min"),
            F.max(value_col).alias("v_max"),
        ]
    per = df.groupBy(group_col).agg(*aggs)
    # per is a handful of rows (one per group) — reuse it for both
    # outputs without re-scanning the fact table
    per = _persist_tracked(per)

    def estimates(src: DataFrame, label: Column) -> DataFrame:
        cols = [
            label.alias(group_col),
            F.hll_sketch_estimate("_hll").cast("long").alias(
                "distinct_ids_hll"
            ),
            F.theta_sketch_estimate("_theta").cast("long").alias(
                "distinct_ids_theta"
            ),
            F.round(
                F.kll_sketch_get_quantile_double("_kll", F.lit(0.5)), 4
            ).alias("median_kll"),
        ]
        if with_stats:
            cols += [F.col("n_rows"), F.col("v_min"), F.col("v_max")]
        return src.select(*cols)

    groups = estimates(per, F.col(group_col))
    total_aggs = [
        F.hll_union_agg("_hll").alias("_hll"),
        F.theta_union_agg("_theta").alias("_theta"),
        F.kll_merge_agg_double("_kll").alias("_kll"),
    ]
    if with_stats:
        total_aggs += [
            F.sum("n_rows").alias("n_rows"),
            F.min("v_min").alias("v_min"),
            F.max("v_max").alias("v_max"),
        ]
    total = estimates(per.agg(*total_aggs), F.lit(total_label))
    return groups.unionByName(total)


def theta_audience_overlap(
    df: DataFrame,
    id_col: str,
    flag_a: Column,
    flag_b: Column,
) -> DataFrame:
    """Theta-sketch set algebra over one scan: estimate |A|, |B|,
    |A∩B|, |A\\B| for two row-predicates (e.g. clickers vs purchasers)
    WITHOUT a self-join — the sketches are built in one pass with
    conditional inputs and combined with theta_intersection /
    theta_difference. At 100 TB the alternative (distinct + join per
    pair of audiences) is a full shuffle per pair; this is one scan
    for any number of pairwise overlaps."""
    sk = df.agg(
        F.theta_sketch_agg(F.when(flag_a, F.col(id_col))).alias("sa"),
        F.theta_sketch_agg(F.when(flag_b, F.col(id_col))).alias("sb"),
    )
    return sk.select(
        F.theta_sketch_estimate("sa").cast("long").alias("n_a"),
        F.theta_sketch_estimate("sb").cast("long").alias("n_b"),
        F.theta_sketch_estimate(F.theta_intersection("sa", "sb"))
        .cast("long")
        .alias("n_both"),
        F.theta_sketch_estimate(F.theta_difference("sa", "sb"))
        .cast("long")
        .alias("n_a_only"),
    )


# ---------------------------------------------------------------------------
# Bloom filter (portable, engine-replayable)
# ---------------------------------------------------------------------------

def bloom_build(
    members: DataFrame,
    key_col: str,
    seeds: tuple[int, ...],
    n_bits: int,
) -> DataFrame:
    """Build a Bloom filter over ``members[key_col]`` as the relational
    set of SET BIT POSITIONS: k = len(seeds) positions per key via the
    engine-portable Carter-Wegman-style multiplicative hash
    (functions.columns.portable_bucket on key+seed — identical integer
    arithmetic in Spark and DuckDB, unlike xxhash/crc engine builtins).

    The returned frame has ≤ ``n_bits`` rows (one per distinct set
    position), i.e. it IS the filter in mergeable relational form:
    union-distinct of two builds = the Bloom OR, and the frame stays
    small enough to broadcast to any probe scan regardless of member
    cardinality. Membership semantics are the textbook guarantee —
    no false negatives ever; false-positive rate governed by
    (1-e^{-kn/m})^k — and because the hash is portable the WHOLE
    structure is exactly replayable in SQL (the stream_cms_sink
    discipline applied to membership instead of frequency)."""
    from ..functions.columns import portable_bucket

    key = F.col(key_col)
    return (
        members.select(
            F.explode(
                F.array(
                    *[
                        portable_bucket(key + F.lit(s), n_bits)
                        for s in seeds
                    ]
                )
            ).alias("pos")
        )
        .distinct()
    )


def bloom_probe(
    probes: DataFrame,
    key_col: str,
    bits: DataFrame,
    seeds: tuple[int, ...],
    n_bits: int,
) -> DataFrame:
    """Probe a Bloom filter built by :func:`bloom_build`: returns
    ``probes`` plus a ``bloom_pos`` boolean — TRUE iff ALL k hash
    positions of the key are set. Implemented as melt-to-(key, pos) →
    broadcast join against the bit table → per-key ALL-present
    aggregation: one map-side-broadcast pass over the probe scan, no
    shuffle on the (possibly huge) probe side beyond the final
    per-key agg, which Catalyst partial-aggregates map-side. At 100 TB
    the filter frame is ≤ n_bits rows no matter how many members went
    in — the classic "ship the filter to the data" semi-join
    reduction."""
    from ..functions.columns import portable_bucket

    key = F.col(key_col)
    melted = probes.select(
        "*",
        F.explode(
            F.array(
                *[portable_bucket(key + F.lit(s), n_bits) for s in seeds]
            )
        ).alias("pos"),
    )
    marked = melted.join(
        F.broadcast(bits.withColumn("hit", F.lit(1))), "pos", "left"
    )
    grp = [c for c in probes.columns]
    # ADVICE r07: count("hit") == count("*") rather than == k — robust
    # to duplicated probe rows (same key AND identical other columns
    # collapse into one group whose counts are a multiple of k) and to
    # coincident hash positions; == k would return a false NEGATIVE
    # for a genuine member probed twice, violating the Bloom contract.
    # NOTE the group-by still collapses fully-identical probe rows
    # into one output row (groupBy semantics); callers needing strict
    # row preservation should carry a provenance column (P6).
    return (
        marked.groupBy(*grp)
        .agg((F.count("hit") == F.count("*")).alias("bloom_pos"))
    )
