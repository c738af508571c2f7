"""Distributed dense linear algebra over embedding columns — the
sufficient-statistics way.

The core object is the ADDITIVE moment table of an embedding corpus:

    (i, j,  s)   with j >= 0   → S_ij = Σ x_i·x_j   (cross-moments)
    (i, -1, s)   with i >= 0   → s_i  = Σ x_i       (per-dim sums)
    (-1, -1, s)               → n                   (row count)

Every row is a SUM over data rows, so moment tables merge by plain
``groupBy(i, j).sum`` — across partitions (the mapInPandas partials
here), across micro-batches (streaming/jobs.moment_stats_sink), or
across whole corpora. That additivity is the 100 TB contract: global
covariance/PCA never needs a second pass over history, only a merge of
d²-sized partials (the treeAggregate-of-outer-products shape MLlib's
RowMatrix uses). Centering folds in algebraically at READ time:
G_ij = S_ij − s_i·s_j / n, so no centered copy of the data exists.

``power_iteration`` then runs a fixed number of rounds LAZILY as
broadcast joins over the d²-row gram — no collect, planlint-visible,
with tracked lazy persists cutting the recursive lineage (each round
references the gram and its own iterate twice; unpersisted that
recomputes exponentially — measured 62 s → ~1.5 s at sf0.001 for the
emb_pca_power_banded query this module was extracted from).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .caches import tracked_persist
from .similarity import dot

_persist_tracked = tracked_persist()


def moment_partials(e: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """The additive (i, j, s) moment table of ``e[vec_col]``.

    Partition-local numpy outer products (d² + d + 1 rows per
    partition regardless of row count) merged by one bounded-
    cardinality groupBy — map-side partial aggregation collapses each
    partition before the shuffle."""
    import numpy as np
    import pandas as pd

    def parts(it):
        for pdf in it:
            if not len(pdf):
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            G = X.T @ X
            ii, jj = np.indices(G.shape)
            d = X.shape[1]
            yield pd.DataFrame(
                {
                    "i": np.concatenate(
                        [ii.ravel(), np.arange(d), [-1]]
                    ).astype("int32"),
                    "j": np.concatenate(
                        [jj.ravel(), np.full(d, -1), [-1]]
                    ).astype("int32"),
                    "s": np.concatenate([G.ravel(), X.sum(0), [float(len(X))]]),
                }
            )

    # coalesce(1): d²+d+1 result rows — the heavy lifting is the
    # partition-local numpy partials + map-side combine; a single
    # reduce task beats 200 near-empty ones under the driver's plain
    # session
    return (
        e.select(vec_col)
        .mapInPandas(parts, "i int, j int, s double")
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s"))
        .coalesce(1)
    )


def centered_gram(moments: DataFrame) -> DataFrame:
    """(i, j, g) centered gram from a moment table:
    G_ij = S_ij − s_i·s_j / n. Lazy; the d-row sums and 1-row count
    broadcast. coalesce(1): d² rows — every downstream iteration over
    it is sub-kilobyte work, and one partition keeps the fixpoint
    rounds single-task under any shuffle-partition setting."""
    # the moment table feeds three branches (count, sums, cross) —
    # persist it or the data-sized mapInPandas pass runs three times
    moments = _persist_tracked(moments)
    n = moments.filter((F.col("i") == -1) & (F.col("j") == -1)).select(
        F.col("s").alias("n")
    )
    sums = moments.filter((F.col("j") == -1) & (F.col("i") >= 0)).select(
        "i", F.col("s").alias("si")
    )
    return (
        moments.filter(F.col("j") >= 0)
        .join(F.broadcast(sums), "i")
        .join(
            F.broadcast(sums.select(F.col("i").alias("j"), F.col("si").alias("sj"))),
            "j",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "i",
            "j",
            (F.col("s") - F.col("si") * F.col("sj") / F.col("n")).alias("g"),
        )
        .coalesce(1)
    )


def power_iteration(G: DataFrame, rounds: int, init: float = 0.125) -> DataFrame:
    """Top-eigenvector fixpoint over an (i, j, g) gram, run lazily.

    Plan-shape discipline: the iterate is carried as ONE single-row
    array column, so each round's plan references the previous round
    EXACTLY ONCE — total plan depth grows LINEARLY in ``rounds``. The
    naive formulation (iterate as a (j, vj) table, joined back into
    the gram, with the norm as a second reference) doubles the plan
    per round: 2^rounds nested cached-plan subtrees, which blew up
    Spark's plan-string generation (OOM in explainString) under the
    driver's plain session before it blew up compute. The gram
    collapses once to 64 (i, row-array) rows; each round is then a
    1-row broadcast cross join + an in-row dot product via
    aggregate(zip_with(...)) + one 64-row agg to re-normalize —
    whole-stage-codegen arithmetic, no per-round shuffle, no per-round
    cache.

    Returns (j, vj). Positive constant ``init`` pins the sign; fixed
    ``rounds`` keeps the computation replayable by an unrolled-CTE SQL
    twin (g_pagerank_banded convention)."""
    # fresh=False: keep centered_gram's moments cache alive when
    # composed in the same build
    rows = _persist_tracked(
        G.groupBy("i")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "g"))),
                lambda p: p["g"],
            ).alias("grow")
        )
        .coalesce(1),
        fresh=False,
    )
    dim = F.size(F.first("grow"))
    vrow = rows.agg(
        F.transform(F.sequence(F.lit(1), dim), lambda _: F.lit(init)).alias("varr")
    )
    for _ in range(rounds):
        scored = rows.crossJoin(F.broadcast(vrow)).select(
            "i", dot("grow", "varr").alias("w")
        )
        vrow = scored.agg(
            F.array_sort(F.collect_list(F.struct("i", "w"))).alias("pairs"),
            F.sum(F.col("w") * F.col("w")).alias("nn"),
        ).select(
            # try_divide: a degenerate all-identical corpus gives an
            # exactly-zero gram and nn=0 — NULL components beat an
            # ANSI DIVIDE_BY_ZERO failing the whole query
            F.transform(
                F.col("pairs"),
                lambda p: F.try_divide(p["w"], F.sqrt(F.col("nn"))),
            ).alias("varr")
        )
    # posexplode positions are 0-based — exactly the dim ids
    return vrow.select(F.posexplode("varr").alias("j", "vj"))


def moment_partials_by(
    e: DataFrame, key_col: str, vec_col: str = "embedding"
) -> DataFrame:
    """Keyed moment tables: one additive (key, i, j, s) statistics set
    PER KEY — the vectorized form of fitting one covariance/PCA model
    per segment. Partition-local numpy per key-group, merged by one
    bounded groupBy (n_keys × (d²+d+1) rows)."""
    import numpy as np
    import pandas as pd

    def parts(it):
        for pdf in it:
            if not len(pdf):
                continue
            out = []
            for key, g in pdf.groupby(key_col):
                X = np.stack(g[vec_col].to_numpy()).astype("float64")
                G = X.T @ X
                ii, jj = np.indices(G.shape)
                d = X.shape[1]
                out.append(
                    pd.DataFrame(
                        {
                            key_col: key,
                            "i": np.concatenate(
                                [ii.ravel(), np.arange(d), [-1]]
                            ).astype("int32"),
                            "j": np.concatenate(
                                [jj.ravel(), np.full(d, -1), [-1]]
                            ).astype("int32"),
                            "s": np.concatenate(
                                [G.ravel(), X.sum(0), [float(len(X))]]
                            ),
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    # the key keeps ITS OWN type (user_id is long repo-wide; a literal
    # 'int' would overflow/truncate 64-bit keys at the Arrow boundary)
    key_ddl = e.schema[key_col].dataType.simpleString()
    return (
        e.select(key_col, vec_col)
        .mapInPandas(parts, f"{key_col} {key_ddl}, i int, j int, s double")
        .groupBy(key_col, "i", "j")
        .agg(F.sum("s").alias("s"))
        .coalesce(1)
    )


def centered_gram_by(moments: DataFrame, key_col: str) -> DataFrame:
    """(key, i, j, g) centered grams from keyed moments —
    G_ij = S_ij − s_i·s_j / n per key; the per-key sums/counts
    broadcast (n_keys × d rows)."""
    moments = _persist_tracked(moments)
    n = moments.filter((F.col("i") == -1) & (F.col("j") == -1)).select(
        key_col, F.col("s").alias("n")
    )
    sums = moments.filter((F.col("j") == -1) & (F.col("i") >= 0)).select(
        key_col, "i", F.col("s").alias("si")
    )
    return (
        moments.filter(F.col("j") >= 0)
        .join(F.broadcast(sums), [key_col, "i"])
        .join(
            F.broadcast(
                sums.select(
                    key_col, F.col("i").alias("j"), F.col("si").alias("sj")
                )
            ),
            [key_col, "j"],
        )
        .join(F.broadcast(n), key_col)
        .select(
            key_col,
            "i",
            "j",
            (F.col("s") - F.col("si") * F.col("sj") / F.col("n")).alias("g"),
        )
        .coalesce(1)
    )


def power_iteration_by(
    G: DataFrame, key_col: str, rounds: int, init: float = 0.125
) -> DataFrame:
    """Per-key top-eigenvector fixpoints, all keys advanced together:
    the iterate is ONE array row per key, each round a broadcast join
    on the key + in-row dot + per-key re-normalization — the same
    linear-plan-growth discipline as power_iteration, vectorized over
    segments. Returns (key, j, vj)."""
    rows = _persist_tracked(
        G.groupBy(key_col, "i")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "g"))),
                lambda p: p["g"],
            ).alias("grow")
        )
        .coalesce(1),
        fresh=False,
    )
    vrow = rows.groupBy(key_col).agg(
        F.transform(
            F.sequence(F.lit(1), F.size(F.first("grow"))), lambda _: F.lit(init)
        ).alias("varr")
    )
    for _ in range(rounds):
        scored = rows.join(F.broadcast(vrow), key_col).select(
            key_col, "i", dot("grow", "varr").alias("w")
        )
        vrow = scored.groupBy(key_col).agg(
            F.array_sort(F.collect_list(F.struct("i", "w"))).alias("pairs"),
            F.sum(F.col("w") * F.col("w")).alias("nn"),
        ).select(
            key_col,
            F.transform(
                F.col("pairs"),
                lambda p: F.try_divide(p["w"], F.sqrt(F.col("nn"))),
            ).alias("varr"),
        )
    return vrow.select(key_col, F.posexplode("varr").alias("j", "vj"))


__all__ = [
    "moment_partials",
    "centered_gram",
    "power_iteration",
    "moment_partials_by",
    "centered_gram_by",
    "power_iteration_by",
]
