"""Iterative graph operators beyond connected components (see
dedup.connected_components for the min-label-propagation dedup path).

PageRank here is the bounded-iteration DataFrame formulation: each
round is one shuffle join (edges ⋈ ranks on src) plus one aggregation
(contributions by dst) — the classic Pregel message pattern expressed
relationally so Catalyst/AQE handle partitioning and skew. The eager
fixpoints (pagerank, personalized_pagerank, kcore_bounded) cut their
lineage with an eager ``localCheckpoint`` every ``_TRUNCATE_EVERY``
rounds and at the last round (:func:`_truncate`); the lazy ones
(label_propagation, bfs_distances, sssp_bounded) reference their
iterate once per round, so their plans grow linearly and need no cut.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

#: Rounds between eager lineage cuts. Each eager-fixpoint round embeds
#: the previous round's plan about 3x, so the analyzed tree grows 3^r
#: between cuts: every 3 rounds keeps it at ~27 copies while running a
#: third of the materialization jobs of a per-round cut.
_TRUNCATE_EVERY = 3


def _truncate(df: DataFrame, it: int, rounds: int) -> DataFrame:
    """``df`` after round ``it`` (0-based) of ``rounds``: eagerly
    checkpointed every ``_TRUNCATE_EVERY`` rounds and at the last
    round, otherwise unchanged. Truncation never changes the
    arithmetic, only where the plan is cut."""
    if (it + 1) % _TRUNCATE_EVERY == 0 or it == rounds - 1:
        return df.localCheckpoint(eager=True)
    return df


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Bounded-iteration PageRank over an edge list.

    Simplified variant without dangling-mass redistribution (documents
    with no outlinks leak their mass, as in the original formulation);
    rank sums to 1 on graphs where every vertex has an outlink.
    Inherently iterative ⇒ eager at call time (the documented
    lazy-build exception — see the repo build notes); the vertex count
    is an ``Observation`` filled by the vertex checkpoint's own job,
    not a second action. Raises ``ValueError`` on an empty edge list.

    Lineage MUST be truncated with ``localCheckpoint``: ``persist``
    alone reuses the physical data but keeps nesting the LOGICAL plan
    (each round embeds the previous ~3×), and by ~10 un-truncated
    rounds the analyzer itself OOMs on the 3^k-node tree — measured in
    this repo's tests, and the same blowup the perf notes document for
    expression re-inlining. Truncating every round is overkill though:
    each eager checkpoint is a full materialization job, so the cut
    runs every ``_TRUNCATE_EVERY`` rounds (:func:`_truncate`; measured
    2.52 s → 1.91 s for 5 rounds at sf0.1 against a per-round cut,
    ranks bit-identical since truncation frequency never changes the
    arithmetic). On a cluster, swap localCheckpoint for a reliable
    ``checkpoint`` dir so executor loss can't drop rank state.
    """
    n_obs = Observation()
    verts = (
        edges.select(F.col(src).alias("vid"))
        .union(edges.select(F.col(dst).alias("vid")))
        .distinct()
        .observe(n_obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    n = n_obs.get["n"]
    if n == 0:
        raise ValueError("pagerank needs at least one edge")
    e = edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst"))
    deg = e.groupBy("e_src").agg(F.count("*").alias("deg"))
    ranks = verts.select(
        F.col("vid").alias("id"), F.lit(1.0 / n).alias("rank")
    ).localCheckpoint(eager=True)
    base = (1.0 - damping) / n
    for it in range(iterations):
        contribs = (
            e.join(ranks.withColumnRenamed("id", "e_src"), "e_src")
            .join(deg, "e_src")
            .select(
                F.col("e_dst").alias("id"),
                (F.col("rank") / F.col("deg")).alias("c"),
            )
        )
        ranks = verts.join(
            contribs.groupBy("id").agg(F.sum("c").alias("s")),
            verts["vid"] == F.col("id"),
            "left",
        ).select(
            F.col("vid").alias("id"),
            (
                F.lit(base)
                + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("rank"),
        )
        ranks = _truncate(ranks, it, iterations)
    return ranks


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
    seed_id: str = "vid",
    seed_label: str = "lab",
) -> DataFrame:
    """Semi-supervised label propagation over an edge list: ``seeds``
    carry fixed integer labels; for ``iterations`` synchronous rounds
    every vertex takes the MAJORITY label among its in-neighbors'
    previous-round labels (ties break on the smallest label), with
    seed labels clamped throughout. Returns (id, label) — label NULL
    for vertices no label ever reached.

    Unlike :func:`pagerank` this stays fully LAZY: the iterate (the
    label table) is referenced exactly ONCE per round — in the
    contributions join — while the vertex and seed tables joined back
    in are static base frames, so the plan grows LINEARLY with
    ``iterations`` (the lazy-fixpoint discipline from
    operators/linalg.power_iteration, here with a table-sized iterate;
    an extra iterate reference in the combine step would double the
    plan per round). The majority is max(struct(count, -label)) — one
    aggregation, no per-vertex window.

    Scale: each round is the Pregel message pattern relationally —
    edges ⋈ labels on src (shuffle on the join key), contributions
    aggregated by (dst, label) with map-side partial agg, one more
    bounded agg for the argmax. Skewed hubs are AQE's skew-join
    problem, same as pagerank. Bounded rounds keep it a fixed-depth
    DAG."""
    verts = (
        edges.select(F.col(src).alias("vid"))
        .union(edges.select(F.col(dst).alias("vid")))
        .distinct()
    )
    s = seeds.select(
        F.col(seed_id).alias("vid"), F.col(seed_label).alias("slab")
    )
    e = edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst"))
    lab = verts.join(s, "vid", "left").select(
        "vid", F.col("slab").alias("lab")
    )
    for _ in range(iterations):
        contrib = (
            e.join(
                lab.filter(F.col("lab").isNotNull()).withColumnRenamed(
                    "vid", "e_src"
                ),
                "e_src",
            )
            .groupBy(F.col("e_dst").alias("vid"), "lab")
            .agg(F.count("*").alias("c"))
        )
        maj = contrib.groupBy("vid").agg(
            F.max(
                F.struct(F.col("c"), (-F.col("lab")).alias("nl"))
            ).alias("m")
        ).select("vid", (-F.col("m.nl")).alias("mlab"))
        lab = (
            verts.join(s, "vid", "left")
            .join(maj, "vid", "left")
            .select(
                "vid", F.coalesce("slab", "mlab").alias("lab")
            )
        )
    return lab.select(F.col("vid").alias("id"), F.col("lab").alias("label"))


def triangle_count(
    edges: DataFrame, a_col: str = "src", b_col: str = "dst"
) -> DataFrame:
    """Global triangle count of an undirected simple graph by the
    standard distributed join formulation: canonicalize each edge to
    (lo, hi), then count paths lo→mid→hi that close with a (lo, hi)
    edge. Orienting every edge low→high means each triangle
    {a<b<c} is counted exactly once (as a→b→c) — no /6 correction and,
    critically, the join fan-out is bounded by the ORIENTED degree
    (max degree of high-id neighbors), the trick that tames power-law
    hubs at scale. Three shuffles total; AQE handles residual skew."""
    e = (
        edges.select(
            F.least(F.col(a_col), F.col(b_col)).alias("lo"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )
    ab = e.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    bc = e.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    ac = e.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    wedges = ab.join(bc, "b")
    return wedges.join(ac, ["a", "c"]).agg(
        F.count("*").alias("n_triangles")
    )


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    iterations: int = 4,
    src: str = "src",
    dst: str = "dst",
    source_id: str = "vid",
) -> DataFrame:
    """Multi-source BFS hop distance over an edge list, bounded to
    ``iterations`` synchronous rounds: round r computes
    ``dist_r(v) = 0`` for sources else ``1 + min over in-neighbors of
    dist_{r-1}(u)``. For an undirected graph this re-derives every
    settled distance from the shortest-path predecessor each round, so
    after r rounds ``dist_r(v)`` equals the exact hop distance for
    every v within r hops; values beyond the horizon are masked to
    NULL (unsettled), giving the clean contract "exact BFS distance
    ≤ iterations, NULL otherwise".

    Same lazy-fixpoint discipline as :func:`label_propagation`: the
    iterate (the distance table) is referenced exactly ONCE per round
    — in the contributions join — and the combine step joins back only
    static base frames (vertices, sources), so the plan grows LINEARLY
    with ``iterations``. Each round is the Pregel message pattern
    relationally: one shuffle join on the edge source plus one
    map-side-partial MIN aggregation by destination. Frontier size is
    bounded by |V|; hub skew is AQE's skew-join case, identical to
    pagerank/LPA."""
    verts = (
        edges.select(F.col(src).alias("vid"))
        .union(edges.select(F.col(dst).alias("vid")))
        .distinct()
    )
    s = sources.select(F.col(source_id).alias("vid")).withColumn(
        "is_src", F.lit(True)
    )
    dist = verts.join(s, "vid", "left").select(
        "vid", F.when(F.col("is_src"), F.lit(0)).alias("dist")
    )
    e = edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst"))
    for _ in range(iterations):
        contrib = (
            e.join(
                dist.filter(F.col("dist").isNotNull()).withColumnRenamed(
                    "vid", "e_src"
                ),
                "e_src",
            )
            .groupBy(F.col("e_dst").alias("vid"))
            .agg((F.min("dist") + F.lit(1)).alias("nd"))
        )
        dist = (
            verts.join(s, "vid", "left")
            .join(contrib, "vid", "left")
            .select(
                "vid",
                F.when(F.col("is_src"), F.lit(0))
                .otherwise(F.col("nd"))
                .alias("dist"),
            )
        )
    return dist.select(
        F.col("vid").alias("id"),
        F.when(F.col("dist") <= F.lit(iterations), F.col("dist"))
        .cast("long")
        .alias("dist"),
    )


def sssp_bounded(
    edges: DataFrame,
    sources: DataFrame,
    iterations: int = 4,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    source_id: str = "vid",
) -> DataFrame:
    """Bounded-round WEIGHTED single-source(-set) shortest paths —
    Bellman-Ford as synchronous relaxation rounds, the weighted
    generalization of :func:`bfs_distances` (hop distance = all
    weights 1): round r computes ``dist_r(v) = 0`` for sources else
    ``min over in-edges (u,v): dist_{r-1}(u) + w(u,v)``. Re-deriving
    from predecessors each round (no self-reference) keeps the
    iterate referenced ONCE per round — linear plan growth, the
    banked lazy-fixpoint discipline — and yields the exact clean
    contract: ``dist_r(v)`` is the optimal distance among paths of
    **≤ r edges** (monotonically non-increasing in r; with
    non-negative integer weights the values are exact integers, so
    the unrolled SQL twin matches with no bands). NULL = unreachable
    within the edge horizon.

    Scale shape per round: one shuffle join of the edge list against
    the settled frontier plus one map-side-partial MIN by
    destination — identical topology to BFS/LPA/pagerank; hub skew
    is AQE's skew-join case."""
    verts = (
        edges.select(F.col(src).alias("vid"))
        .union(edges.select(F.col(dst).alias("vid")))
        .distinct()
    )
    s = sources.select(F.col(source_id).alias("vid")).withColumn(
        "is_src", F.lit(True)
    )
    dist = verts.join(s, "vid", "left").select(
        "vid", F.when(F.col("is_src"), F.lit(0)).alias("dist")
    )
    e = edges.select(
        F.col(src).alias("e_src"),
        F.col(dst).alias("e_dst"),
        F.col(weight).alias("e_w"),
    )
    for _ in range(iterations):
        contrib = (
            e.join(
                dist.filter(F.col("dist").isNotNull()).withColumnRenamed(
                    "vid", "e_src"
                ),
                "e_src",
            )
            .groupBy(F.col("e_dst").alias("vid"))
            .agg(F.min(F.col("dist") + F.col("e_w")).alias("nd"))
        )
        dist = (
            verts.join(s, "vid", "left")
            .join(contrib, "vid", "left")
            .select(
                "vid",
                F.when(F.col("is_src"), F.lit(0))
                .otherwise(F.col("nd"))
                .alias("dist"),
            )
        )
    return dist.select(
        F.col("vid").alias("id"), F.col("dist").cast("long").alias("dist")
    )


def kcore_bounded(
    edges: DataFrame,
    k: DataFrame | int,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Bounded-round k-core peeling over a SYMMETRIC edge list (pass
    both directions, so per-source counts are full degrees): each
    round drops every vertex with degree < k and every edge touching
    one, the cascade that defines the k-core. ``rounds`` bounds the
    peel — the result after r rounds is an over-approximation of the
    true k-core (vertices a deeper cascade would remove may survive),
    the same bounded-fixpoint contract as :func:`pagerank` /
    :func:`label_propagation`, and exactly replayable by an unrolled
    SQL twin. ``k`` may be an int or a 1-row DataFrame with column
    ``k`` (data-derived thresholds join in by broadcast — never a
    collect).

    Returns surviving (id, deg) — degree measured on the final
    surviving edge set.

    Iterative ⇒ eager at call time (the documented lazy-build
    exception). Each round references the edge iterate three times
    (degree + two semi-joins), so lineage grows 3^r between
    truncations — :func:`_truncate` cuts it every ``_TRUNCATE_EVERY``
    rounds and at the last (the pagerank discipline; swap for
    reliable ``checkpoint`` on a cluster). Per round: one groupBy
    shuffle + two LEFT SEMI joins on the survivor set, which AQE
    turns into broadcasts once peeling shrinks it."""
    if isinstance(k, int):
        k_df = edges.sparkSession.range(1).select(F.lit(k).alias("k"))
    else:
        k_df = k
    e = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("d")
    ).localCheckpoint(eager=True)
    for it in range(rounds):
        deg = e.groupBy("s").agg(F.count("*").alias("c"))
        sur = (
            deg.crossJoin(F.broadcast(k_df))
            .filter(F.col("c") >= F.col("k"))
            .select("s")
        )
        e = e.join(sur, "s", "left_semi").join(
            sur.withColumnRenamed("s", "d"), "d", "left_semi"
        )
        e = _truncate(e, it, rounds)
    return e.groupBy("s").agg(F.count("*").alias("deg")).select(
        F.col("s").alias("id"), F.col("deg").cast("long").alias("deg")
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    seed_id: str = "vid",
) -> DataFrame:
    """Personalized PageRank: identical recurrence to :func:`pagerank`
    except the teleport mass lands ONLY on the seed set (uniformly),
    so ranks measure proximity to the seeds rather than global
    centrality — the random-walk-with-restart primitive behind
    graph-based recommendation and seed-expansion labeling. Init is
    the teleport vector itself (1/|S| on seeds), the standard PPR
    start.

    Same eager-fixpoint contract as pagerank (|S| is a scalar count,
    not a collect, taken before any checkpoint exists because the init
    expression needs it; lineage cut by :func:`_truncate`), same
    per-round cost: one edges ⋈ ranks shuffle + one partial-agg SUM by
    destination. Dangling vertices leak mass exactly as in the
    simplified pagerank. Raises ``ValueError`` on an empty seed set."""
    verts = (
        edges.select(F.col(src).alias("vid"))
        .union(edges.select(F.col(dst).alias("vid")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    s = seeds.select(F.col(seed_id).alias("vid")).withColumn(
        "is_seed", F.lit(True)
    )
    n_seeds = s.count()
    if n_seeds == 0:
        raise ValueError("personalized_pagerank needs at least one seed")
    e = edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst"))
    deg = e.groupBy("e_src").agg(F.count("*").alias("deg"))
    tele = F.when(
        F.col("is_seed"), F.lit((1.0 - damping) / n_seeds)
    ).otherwise(F.lit(0.0))
    init = F.when(F.col("is_seed"), F.lit(1.0 / n_seeds)).otherwise(
        F.lit(0.0)
    )
    ranks = (
        verts.join(s, "vid", "left")
        .select(F.col("vid").alias("id"), init.alias("rank"))
        .localCheckpoint(eager=True)
    )
    for it in range(iterations):
        contribs = (
            e.join(ranks.withColumnRenamed("id", "e_src"), "e_src")
            .join(deg, "e_src")
            .select(
                F.col("e_dst").alias("id"),
                (F.col("rank") / F.col("deg")).alias("c"),
            )
        )
        ranks = (
            verts.join(s, "vid", "left")
            .join(
                contribs.groupBy("id").agg(F.sum("c").alias("cs")),
                verts["vid"] == F.col("id"),
                "left",
            )
            .select(
                F.col("vid").alias("id"),
                (
                    tele
                    + F.lit(damping)
                    * F.coalesce(F.col("cs"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        ranks = _truncate(ranks, it, iterations)
    return ranks
