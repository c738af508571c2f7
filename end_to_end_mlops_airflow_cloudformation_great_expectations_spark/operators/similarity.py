"""Embedding similarity search (SURVEY.md J8 [N]): brute-force cosine
top-k (the correctness baseline) and random-hyperplane LSH (the scale
path), plus embedding-cosine near-duplicate detection.

Vectors are ``array<float>`` columns; all arithmetic is expression-
level (``zip_with`` dot products, ``aggregate`` folds) — JVM-side, no
UDF. At 100 TB the brute-force path broadcasts the (small) query set
against the corpus and keeps only top-k per query via window rank —
a single corpus scan, no shuffle of the corpus itself. The LSH path
buckets the corpus once (signature = sign pattern of projections onto
pseudo-random hyperplanes), then searches only matching buckets —
sublinear candidate sets at the cost of measured recall.

Papers: Charikar 2002 (random hyperplanes); IVF-style bucketing per
Johnson et al. 2017 (FAISS) — bucket-then-rerank structure.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .caches import tracked_persist

_persist_tracked = tracked_persist()


# The vector helpers take array column NAMES and return one SQL
# expression: one Py4J call, where each Python-lambda higher-order
# function costs dozens of round trips.
def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with(`{a}`, `{b}`, (x, y) -> x * y),"
        " 0D, (acc, x) -> acc + x)"
    )


def _norm_sql(a: str) -> str:
    return (
        f"sqrt(aggregate(transform(`{a}`, x -> x * x),"
        " 0D, (acc, x) -> acc + x))"
    )


def dot(a: str, b: str) -> Column:
    return F.expr(_dot_sql(a, b))


def norm(a: str) -> Column:
    return F.expr(_norm_sql(a))


def cosine(a: str, b: str) -> Column:
    # try_divide: zero vectors yield NULL similarity, not an ANSI error
    return F.expr(
        f"try_divide({_dot_sql(a, b)}, {_norm_sql(a)} * {_norm_sql(b)})"
    )


def _as_double(c: Column) -> Column:
    return c.cast("array<double>")


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: broadcast(queries) × corpus → window rank.

    Returns (query_id, neighbor_id, cos_sim, rnk). Ties broken by
    neighbor id for determinism. Self-matches excluded when ids
    coincide."""
    q = queries.select(
        F.col(query_id).alias("query_id"), _as_double(F.col(query_vec)).alias("qv")
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"), _as_double(F.col(corpus_vec)).alias("cv")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine("qv", "cv"), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )


def hyperplane_signature(
    vec: Column, dim: int, n_planes: int = 16, table: int = 0
) -> Column:
    """LSH bucket id: sign pattern of dot products with ``n_planes``
    pseudo-random ±1 hyperplanes. Plane weights are derived from
    xxhash64(table, plane, dim_index) — deterministic, no stored model,
    and identical on every executor with zero broadcast state."""
    sig = F.lit(0).cast("long")
    for p in range(n_planes):
        weights = F.array(
            *[
                (
                    F.pmod(F.xxhash64(F.lit(table), F.lit(p), F.lit(d)), F.lit(2)) * 2
                    - 1
                ).cast("double")
                for d in range(dim)
            ]
        )
        proj = F.aggregate(
            F.zip_with(vec, weights, lambda x, w: x * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(proj > 0, F.lit(2**p).cast("long")).otherwise(F.lit(0))
    return sig


def table_signatures_udf(n_planes: int, n_tables: int, seed: int = 42):
    """Arrow-vectorized multi-table signature: one numpy matmul per
    batch against a deterministic ±1 hyperplane matrix.

    This is the sanctioned pandas_udf case: the per-element expression
    form needs n_tables·n_planes·dim JVM expression nodes (measured
    ~50 s of planning+eval at 5k rows for 8×6×64), while the batch
    form is a (batch × dim) @ (dim × planes) multiply. Weights come
    from a seeded RNG, so every executor regenerates them identically
    — no broadcast state."""
    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sigs(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy())  # (n, dim)
        dim = mat.shape[1]
        rng = np.random.RandomState(seed)
        planes = rng.choice([-1.0, 1.0], size=(n_tables * n_planes, dim))
        bits = (mat @ planes.T) > 0  # (n, L*b)
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        packed = bits.reshape(len(mat), n_tables, n_planes) @ weights  # (n, L)
        return pd.Series(list(packed))

    return sigs


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 8,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: multi-table hyperplane LSH — candidates are
    corpus vectors sharing ≥1 table bucket with the query, exact cosine
    re-rank on the candidate set only.

    Knobs: more planes/table → smaller buckets (fewer candidates,
    lower per-table recall); more tables → recall 1-(1-p^b)^L at the
    cost of candidate volume. Recall is a MEASURED property — tests
    compare against brute_force_topk ground truth; tune (b, L) to the
    corpus's similarity profile, don't assume."""
    sig_udf = table_signatures_udf(n_planes, n_tables)
    q = queries.select(
        F.col(query_id).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qv"),
        F.posexplode(sig_udf(_as_double(F.col(vec_col)))).alias("table", "sig"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("cv"),
        F.posexplode(sig_udf(_as_double(F.col(vec_col)))).alias("table", "sig"),
    )
    cands = (
        q.join(c, ["table", "sig"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "qv", "neighbor_id", "cv")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cands.select(
        "query_id",
        "neighbor_id",
        F.round(cosine("qv", "cv"), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )


def _sample_vectors(prepared: DataFrame, sample_size: int) -> "np.ndarray":
    """Bounded deterministic training sample: the ``sample_size``
    smallest ``xxhash64(id)`` rows — a TakeOrdered job (per-partition
    top-N + driver merge, no full shuffle). Driver memory is bounded
    at sample_size × dim doubles."""
    rows = (
        prepared.select("cv", F.xxhash64(F.col("neighbor_id")).alias("__h"))
        .orderBy("__h")
        .limit(sample_size)
        .select("cv")
        .collect()
    )
    return np.asarray([r[0] for r in rows], dtype=np.float64)


def _check_n_centroids(op: str, n_centroids: int) -> None:
    """Reject a cell count below 1 before any job or write runs: with
    no Lloyd round to fail first, it would reach ivf_index_build's
    overwrite and fail inside an executor's cell assignment, after the
    old index is gone."""
    if n_centroids < 1:
        raise ValueError(f"{op}: n_centroids must be >= 1, got {n_centroids}")


def _train_coarse_quantizer(
    prepared: DataFrame,
    n_centroids: int,
    seed: int,
    max_iter: int,
    sample_size: int,
    sample: "np.ndarray | None" = None,
) -> "np.ndarray":
    """Train the IVF coarse quantizer with Lloyd's iterations in numpy
    over a bounded, deterministic sample (FAISS's own discipline: IVF
    quantizers train on ~a few 10k vectors regardless of corpus size).

    The sample is the ``sample_size`` smallest ``xxhash64(id)`` rows —
    a TakeOrdered job (per-partition top-N + driver merge, no full
    shuffle), deterministic for a given corpus. Driver memory is
    bounded at sample_size × dim doubles. A distributed iterative fit
    (MLlib KMeans) at this cluster-count is all scheduling overhead:
    8 Lloyd rounds over ≤64k sampled vectors is milliseconds in numpy,
    while 8 distributed jobs cost seconds before any data is touched.

    ``sample`` short-circuits the pull: ivfpq_topk trains BOTH its
    coarse quantizer and its PQ codebooks on the same deterministic
    sample, so it collects once and passes the array in (one
    TakeOrdered job per build, not two).
    """
    X = _sample_vectors(prepared, sample_size) if sample is None else sample
    if not len(X):
        raise ValueError("ivf_topk: empty corpus, cannot train quantizer")
    kk = min(n_centroids, len(X))
    rng = np.random.RandomState(seed)
    C = X[rng.choice(len(X), size=kk, replace=False)].copy()
    x2 = (X**2).sum(axis=1)
    for _ in range(max_iter):
        d = x2[:, None] - 2.0 * (X @ C.T) + (C**2).sum(axis=1)[None, :]
        a = d.argmin(axis=1)
        for j in range(kk):
            members = a == j
            if members.any():
                C[j] = X[members].mean(axis=0)
    return C


def _cell_assign_udf(centroids: "np.ndarray"):
    """Arrow-vectorized nearest-centroid assignment: one
    (batch × dim) @ (dim × k) matmul per batch. The centroid matrix is
    tiny (k × dim doubles) and ships inside the serialized UDF closure
    — no broadcast variable, no per-row Python."""
    C = np.asarray(centroids, dtype=np.float64)
    c2 = (C**2).sum(axis=1)

    @F.pandas_udf(T.IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        X = np.stack(vecs.to_numpy())
        # |x|^2 is constant per row — dropping it preserves the argmin
        d = c2[None, :] - 2.0 * (X @ C.T)
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    return assign


def _cell_assign_dist_udf(centroids: "np.ndarray"):
    """Like :func:`_cell_assign_udf` but also returns the FULL squared
    distance to the winning centroid — needed when rows compete
    ACROSS each other for per-cell representatives (the |x|^2 term is
    constant per row for the argmin, but not across rows)."""
    C = np.asarray(centroids, dtype=np.float64)
    c2 = (C**2).sum(axis=1)

    @F.pandas_udf("struct<cell: int, dist: double>")
    def assign(vecs: pd.Series) -> pd.DataFrame:
        X = np.stack(vecs.to_numpy())
        d = c2[None, :] - 2.0 * (X @ C.T) + (X**2).sum(axis=1)[:, None]
        a = d.argmin(axis=1)
        return pd.DataFrame(
            {
                "cell": a.astype(np.int32),
                "dist": d[np.arange(len(a)), a],
            }
        )

    return assign


def _route_cells_udf(centroids: "np.ndarray", n_route: int):
    """Per-query routing: the ``n_route`` nearest centroid ids as an
    int array (stable argsort — deterministic under float ties)."""
    C = np.asarray(centroids, dtype=np.float64)
    c2 = (C**2).sum(axis=1)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def route(vecs: pd.Series) -> pd.Series:
        X = np.stack(vecs.to_numpy())
        d = c2[None, :] - 2.0 * (X @ C.T)
        idx = np.argsort(d, axis=1, kind="stable")[:, :n_route]
        return pd.Series(list(idx.astype(np.int32)))

    return route


def routed_entry_points(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 32,
    n_route: int = 2,
    reps_per_cell: int = 2,
    seed: int = 42,
    max_iter: int = 8,
    train_sample: int = 16384,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-query ENTRY POINTS for :func:`graph_greedy_search` from a
    coarse quantizer (VERDICT r10 item 8 — real HNSW's upper layers
    exist to ROUTE each query into the right region of the base
    graph; here the IVF coarse-quantizer machinery plays that role,
    which is the FAISS composition): train Lloyd centroids on the
    bounded deterministic sample (:func:`_train_coarse_quantizer`,
    the sanctioned eager exception), pick each cell's
    ``reps_per_cell`` nodes NEAREST its centroid as that region's
    entry nodes (one corpus scan + a tiny per-cell top-N window),
    then seed each query's beam with the representatives of its
    ``n_route`` nearest cells. Returns (query_id, nid) — n_route ×
    reps_per_cell rows per query.

    Scale: the corpus-side work is ONE Arrow-batched assignment scan
    (the ivf_index_build shape); the representatives table is
    n_centroids × reps_per_cell rows (broadcast); routing is a
    per-query closure matmul. Entry points land O(cell-radius) from
    the query instead of a fixed global set, so beam rounds spend
    hops on refinement, not on crossing the corpus — at a
    billion-vector corpus the fixed smallest-id entries are almost
    surely in the wrong region and rounds cap recall; routed entries
    keep rounds O(graph diameter of one cell)."""
    from .. import catalog as _catalog

    # r12 (§2.5): the cell-assignment UDF scans the full corpus in the
    # pre-exchange map stage — spread a single-split scan first (plan-
    # statistics estimate, no build-time job; no-op on a wide scan).
    c = _catalog.spread_narrow(
        corpus.select(
            F.col(corpus_id).alias("neighbor_id"),
            _as_double(F.col(vec_col)).alias("cv"),
        )
    )
    C = _train_coarse_quantizer(c, n_centroids, seed, max_iter, train_sample)
    assign = _cell_assign_dist_udf(C)
    cells = c.select(
        F.col("neighbor_id").alias("nid"), assign(F.col("cv")).alias("a")
    )
    w = Window.partitionBy("a.cell").orderBy(F.col("a.dist"), F.col("nid"))
    reps = (
        cells.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= reps_per_cell)
        .select(F.col("a.cell").alias("cell"), "nid")
    )
    # route over the FULL centroid ranking and keep the first n_route
    # cells that actually have representatives — a Lloyd centroid can
    # end up with an empty cell, and routing only to argmin cells
    # would silently strip such a query's beam (the entry-set
    # emptiness failure mode ADVICE r10 flagged on the fixed entries)
    route = _route_cells_udf(C, len(C))
    qr = queries.select(
        F.col(query_id).alias("query_id"),
        F.posexplode(route(_as_double(F.col(vec_col)))).alias("crk", "cell"),
    )
    wq = Window.partitionBy("query_id").orderBy("crk")
    return (
        qr.join(F.broadcast(reps), "cell")
        .withColumn("cr", F.dense_rank().over(wq))
        .filter(F.col("cr") <= n_route)
        .select("query_id", "nid")
    )


#: The IVF index's one delta-maintained table (shared protocol,
#: operators/ledger.py); its base is partitioned by cell.
_IVF_TABLES = ("postings",)


def ivf_index_build(
    corpus: DataFrame,
    base_dir: str,
    n_centroids: int = 16,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 8,
    train_sample: int = 65536,
) -> None:
    """PERSIST an IVF index: the production form of ivf_topk, where
    the expensive parts — quantizer training and the full-corpus cell
    assignment — happen ONCE at build time and land on disk as a new
    generation ``root`` of the index (:func:`.ledger.build`):

      {root}/centroids   (cell, centroid)      n_centroids rows
      {root}/postings/   (neighbor_id, cv) PARTITIONED BY cell

    The postings are a cell-partitioned parquet layout, so a search
    that probes p cells reads exactly p directories — Spark's
    partition pruning turns the IVF cell-probe into file-level I/O
    skipping, which is the entire economics of IVF over a 100 TB
    corpus (test-pinned via PartitionFilters in the search plan).
    Quantizer training collects the usual bounded deterministic
    sample (rows-only discipline, ``_train_coarse_quantizer``)."""
    _check_n_centroids("ivf_index_build", n_centroids)
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("cv"),
    )
    c = _persist_tracked(c)
    C = _train_coarse_quantizer(c, n_centroids, seed, max_iter, train_sample)
    assigned = c.withColumn("cell", _cell_assign_udf(C)(F.col("cv")))
    # Shuffle by cell before the partitioned write: without it every
    # input task writes a file into every cell directory (tasks×cells
    # files — the small-files problem at the pruning unit); with it
    # file count tracks the partition count and each file is
    # cell-pure, which is what the probe's partition pruning reads.
    par = corpus.sparkSession.sparkContext.defaultParallelism
    from .. import catalog
    from . import ledger

    cent = [(i, [float(x) for x in C[i]]) for i in range(len(C))]
    with ledger.build(base_dir) as root:
        assigned.repartition(par, "cell").write.partitionBy("cell").parquet(
            f"{root}/postings"
        )
        catalog.local_df(
            corpus.sparkSession, cent, "cell int, centroid array<double>"
        ).coalesce(1).write.parquet(f"{root}/centroids")


def ivf_index_search(
    queries: DataFrame,
    base_dir: str,
    k: int = 5,
    n_probe: int = 4,
    query_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a PERSISTED IVF index — zero training, zero corpus
    shuffle, fully LAZY: load the n_centroids-row centroid table
    (broadcast), rank cells per query, keep n_probe, then join the
    probe set against the cell-partitioned postings — the cell
    equi-join becomes dynamic partition pruning on the postings read,
    so only probed cells' files are scanned (appended deltas are
    unpartitioned and read whole until a compaction folds them into
    the base). Identical output to
    ivf_topk run with the same build parameters (test-pinned): the
    index relocation changes WHERE the work happens, not the answer."""
    from .. import catalog
    from . import ledger

    spark = queries.sparkSession
    root = ledger.current(base_dir)
    cent_df = catalog.read_parquet(spark, f"{root}/centroids")
    # read-only snapshot of the same generation: the cell-partitioned
    # base (probe-pruned) and one scan of the committed appends
    postings = ledger.read_generation(spark, root, _IVF_TABLES)["postings"]
    q = queries.select(
        F.col(query_id).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    qc = q.crossJoin(F.broadcast(cent_df)).select(
        "query_id",
        "qv",
        "cell",
        cosine("qv", "centroid").alias("c_sim"),
    )
    wc = Window.partitionBy("query_id").orderBy(F.desc("c_sim"), F.col("cell"))
    probes = (
        qc.withColumn("cr", F.row_number().over(wc))
        .filter(F.col("cr") <= n_probe)
        .select("query_id", "qv", "cell")
    )
    scored = (
        probes.join(postings, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine("qv", "cv"), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )


def ivf_index_append(base_dir: str):
    """foreachBatch sink: keep a PERSISTED IVF index fresh as new
    vectors stream in — WITHOUT retraining or rebuilding. Each batch
    is assigned to cells by the STORED centroids (the n_centroids×dim
    table is a bounded driver-side read, once per sink — FAISS's add()
    discipline) and lands as the delta ``delta/b{batch_id}/postings``
    of the shared protocol (:func:`.ledger.delta_append_sink`: root
    ``_SUCCESS`` commit, aborted-write redo on replay, ledger
    tombstones); ivf_index_search reads base + deltas, so queries see
    appended vectors immediately. Input rows must carry
    (neighbor_id, cv) — the postings layout; callers project/cast
    upstream."""
    from .. import catalog
    from . import ledger

    # the stored centroids are immutable for a generation's lifetime
    # (append never retrains): one bounded driver-side read per sink
    # and generation, not per micro-batch
    cache: dict = {}

    def tables_fn(batch_df: DataFrame, root: str) -> dict:
        if root not in cache:
            cache.clear()  # a rebuild retired the cached generation
            # n_centroids rows: sorted here, not by a Spark sort's jobs
            cent = catalog.read_parquet(
                batch_df.sparkSession, f"{root}/centroids"
            ).collect()
            cache[root] = np.array(
                [r["centroid"] for r in sorted(cent, key=lambda r: r["cell"])],
                dtype="float64",
            )
        assign = _cell_assign_udf(cache[root])
        return {"postings": batch_df.withColumn("cell", assign(F.col("cv")))}

    return ledger.delta_append_sink(base_dir, tables_fn)


def ivf_index_compact(spark, base_dir: str) -> None:
    """Fold accumulated streaming deltas back into the cell-partitioned
    postings (:func:`.ledger.compact_delta_index`: version-then-swap,
    one atomic ledger commit, crash-recoverable). Search results are
    identical before and after (test-pinned); only the file layout
    changes — fewer, larger per-cell files, restoring scan efficiency
    after long append streaks."""
    from . import ledger

    ledger.compact_delta_index(spark, base_dir, _IVF_TABLES)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 2,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 8,
    train_sample: int = 65536,
) -> DataFrame:
    """IVF-style approximate top-k (FAISS IVF-Flat structure): k-means
    partitions the corpus into ``n_centroids`` cells; each query
    exact-searches only its ``n_probe`` nearest cells.

    The coarse quantizer trains on a bounded deterministic sample in
    driver numpy (see ``_train_coarse_quantizer`` — the FAISS
    training discipline; at 100 TB you sample the corpus, never
    iterate over it). Cell assignment of the FULL corpus is one lazy
    Arrow matmul pass (``_cell_assign_udf``); the search is an
    equi-join on cell id + exact cosine re-rank — one corpus shuffle
    at build time, sublinear probes at query time. Recall vs brute
    force is measured in tests (more probes → higher recall).

    The prepared corpus (id + double cast) is persisted for the
    duration of the call: the sample TakeOrdered and the assignment
    scan would otherwise each re-run the projection. NOTE: quantizer
    training collects the bounded sample at call time — inherent to
    the algorithm, so this op is registered rows-only, not as a lazy
    oracle query."""
    _check_n_centroids("ivf_topk", n_centroids)
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("cv"),
    )
    c = _persist_tracked(c)
    C = _train_coarse_quantizer(c, n_centroids, seed, max_iter, train_sample)
    assigned = c.withColumn("cell", _cell_assign_udf(C)(F.col("cv")))

    centroids = [(i, [float(x) for x in C[i]]) for i in range(len(C))]
    from .. import catalog

    cent_df = catalog.local_df(
        queries.sparkSession, centroids, "cell int, centroid array<double>"
    )
    q = queries.select(
        F.col(query_id).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    # rank centroids per query, keep n_probe nearest (by cosine)
    qc = (
        q.crossJoin(F.broadcast(cent_df))
        .select(
            "query_id",
            "qv",
            "cell",
            cosine("qv", "centroid").alias("c_sim"),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(F.desc("c_sim"), F.col("cell"))
    probes = (
        qc.withColumn("cr", F.row_number().over(wc))
        .filter(F.col("cr") <= n_probe)
        .select("query_id", "qv", "cell")
    )
    scored = (
        probes.join(assigned, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine("qv", "cv"), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )


def embedding_dedup(
    embeddings: DataFrame,
    block_col: str,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    transitive: bool = True,
) -> DataFrame:
    """Semantic (embedding-cosine) dedup: near-dup pairs within blocks
    → connected components → keep each component's min-id
    representative. SemDeDup-style semantic pruning: near-identical
    embeddings (paraphrases, templated rewrites) collapse even when
    their surface text shares no shingles, complementing MinHash.

    ``transitive=True`` closes chains A≈B≈C to one representative
    (iterative jobs at call time); ``False`` is the lazy one-hop
    approximation. At scale, pass LSH bucket ids as ``block_col`` so
    the in-block all-pairs stays bounded."""
    from .dedup import connected_components

    pairs = cosine_neardup_pairs_arrow(
        embeddings, block_col, threshold, id_col, vec_col
    )
    if transitive:
        comp = connected_components(pairs)
        losers = comp.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias(id_col)
        )
    else:
        losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return embeddings.join(losers, id_col, "left_anti")


def _subsplit_blocks(
    buckets: DataFrame,
    max_bucket_size: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Hash-salt oversized blocks into sub-blocks of
    <= ``max_bucket_size`` rows (shared by :func:`lsh_neardup_pairs`'s
    split_oversized mode and :func:`neighbor_graph_build`). The
    per-block size table is bounded by construction
    (<= n_tables · 2^n_planes rows), so its broadcast is safe at any
    corpus size — it is NOT corpus-scaled."""
    sizes = buckets.groupBy("block").agg(F.count("*").alias("n_b"))
    k_sub = F.greatest(
        F.ceil(F.col("n_b") / max_bucket_size), F.lit(1)
    ).cast("long")
    return buckets.join(F.broadcast(sizes), "block").select(
        (
            F.col("block") * F.lit(1 << 20)
            + F.pmod(F.xxhash64(F.col(id_col), F.col("block")), k_sub)
        ).alias("block"),
        F.col(id_col),
        F.col(vec_col),
    )


def lsh_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 4,
    n_tables: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    chunk_rows: int = 1024,
    max_bucket_size: int = 100_000,
    split_oversized: bool = False,
) -> DataFrame:
    """LSH-bucketed semantic near-dup pairs — the SCALE path for
    :func:`embedding_dedup` (whose in-block all-pairs is the documented
    exactness anchor): multi-table hyperplane buckets replace the
    blocking column, so the quadratic work is per-bucket
    (Σ n_bucket²·L), not per-corpus (n²), and every step is LAZY —
    signature pandas_udf → posexplode into (table, bucket) →
    per-bucket BLAS tile (:func:`cosine_neardup_pairs_arrow`) →
    max-agg dedupe across tables. Candidate precision is exact by
    construction (the tile verifies true cosine against the
    threshold); recall is the standard 1-(1-p^b)^L curve — b=4/L=16
    puts cos≥0.35 pairs at ≈0.9+ expected recall, and the registered
    query pins the measured floor.

    ``max_bucket_size`` is the same skew guard as
    dedup.minhash_neardup_pairs: boilerplate/hub buckets (the head of
    a power-law bucket-size distribution) are dropped before the
    quadratic step — at 100 TB a single mega-bucket would otherwise
    dominate the stage. The windowed count is per (table, bucket), one
    shuffle over narrow rows.

    ``split_oversized=True`` SUB-SPLITS oversized buckets into
    hash-salted sub-blocks of <= max_bucket_size instead of dropping
    them (shared :func:`_subsplit_blocks` path, also the kNN-graph
    build's bucketing — neighbor_graph_build calls the same helper):
    useful when dropping a mega-bucket would orphan its vectors —
    candidate work becomes LINEAR (<= max_bucket_size · rows per
    table) at the price of missing cross-sub-block pairs, which extra
    tables compensate (each table re-rolls the salt). The per-block
    size table is bounded by construction (<= n_tables · 2^n_planes
    rows), so its broadcast is safe at any corpus size — it is NOT
    corpus-scaled."""
    from pyspark.sql import Window

    e = embeddings.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    )
    sigs = table_signatures_udf(n_planes, n_tables, seed)
    buckets = e.select(
        "id", "v", F.posexplode(sigs("v")).alias("table", "bucket")
    ).select(
        (
            F.col("table").cast("long") * F.lit(2**n_planes) + F.col("bucket")
        ).alias("block"),
        F.col("id").alias(id_col),
        F.col("v").alias(vec_col),
    )
    # skew guard via ANTI-join against the (tiny by construction) hot
    # block set: the block counts aggregate over a NARROW (block)
    # projection, so the only thing shuffled alongside the vectors is
    # the grouped-map partitioning the pair stage needs anyway — the
    # previous window formulation dragged every d-dim array through a
    # count-only shuffle first
    if split_oversized:
        sized = _subsplit_blocks(buckets, max_bucket_size, id_col, vec_col)
    else:
        hot = (
            buckets.groupBy("block")
            .count()
            .filter(F.col("count") > max_bucket_size)
            .select("block")
        )
        sized = buckets.join(F.broadcast(hot), "block", "left_anti")
    pairs = cosine_neardup_pairs_arrow(
        sized, "block", threshold, id_col, vec_col, chunk_rows
    )
    # the same pair surfaces in every table whose bucket it shares;
    # the tile cosine is a per-pair BLAS dot (identical across
    # tables), so max() is pure dedupe, not a value choice
    return pairs.groupBy("id_a", "id_b").agg(
        F.max("cos_sim").alias("cos_sim")
    )


def cosine_neardup_pairs_arrow(
    embeddings: DataFrame,
    block_col: str,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    chunk_rows: int = 1024,
) -> DataFrame:
    """Blockwise numpy-matmul form of :func:`cosine_neardup_pairs`:
    one grouped-map ``applyInPandas`` per block, normalized rows, and
    a row-chunked ``Xn[chunk] @ Xn.T`` upper-triangle scan — the
    SemDeDup in-cluster pairwise step as one BLAS call per chunk
    instead of an interpreted HOF expression per pair (measured
    speedup recorded in BASELINE.md).

    Per-task memory is one block's matrix (n·d doubles) plus a
    chunk_rows×n score tile — bounded when blocks are LSH buckets /
    SemDeDup clusters, which is the documented scale contract of the
    caller. FP note: BLAS pairwise summation can differ from the
    sequential HOF fold in the last ulp, so this variant backs the
    ROWS-ONLY dedup path while the 6-dp-oracle-checked
    ``sim_cosine_neardup`` query keeps the expression form (whose
    rounding provably matches DuckDB on the fixtures)."""

    block_type = embeddings.schema[block_col].dataType.simpleString()
    id_type = embeddings.schema[id_col].dataType.simpleString()
    out_schema = (
        f"block {block_type}, id_a {id_type}, id_b {id_type}, "
        "cos_sim double"
    )
    e = embeddings.select(
        F.col(block_col).alias("block"),
        F.col(id_col).alias("id"),
        _as_double(F.col(vec_col)).alias("v"),
    )

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        X = np.stack(pdf["v"].to_numpy()[order]).astype("float64")
        norms = np.linalg.norm(X, axis=1)
        norms[norms == 0] = 1.0
        Xn = X / norms[:, None]
        n = len(ids)
        out_a: list = []
        out_b: list = []
        out_c: list = []
        for i0 in range(0, n, chunk_rows):
            i1 = min(i0 + chunk_rows, n)
            tile = np.round(Xn[i0:i1] @ Xn.T, 6)
            # strict upper triangle only: col index > global row index
            rows, cols = np.nonzero(tile >= threshold)
            keep = cols > (rows + i0)
            out_a.append(ids[rows[keep] + i0])
            out_b.append(ids[cols[keep]])
            out_c.append(tile[rows[keep], cols[keep]])
        a = np.concatenate(out_a) if out_a else np.array([], dtype=ids.dtype)
        b = np.concatenate(out_b) if out_b else np.array([], dtype=ids.dtype)
        c = np.concatenate(out_c) if out_c else np.array([], dtype="float64")
        return pd.DataFrame(
            {
                "block": np.repeat(pdf["block"].iloc[0], len(a)),
                "id_a": a,
                "id_b": b,
                "cos_sim": c,
            }
        )

    return e.groupBy("block").applyInPandas(per_block, out_schema)


def cosine_neardup_pairs(
    embeddings: DataFrame,
    block_col: str,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within a blocking key
    (all-pairs inside blocks; use lsh buckets as blocks at scale).
    Expression form — kept as the 6-dp oracle-checked path; the
    Arrow matmul form above is the fast rows-only variant."""
    e = embeddings.select(
        F.col(block_col).alias("block"),
        F.col(id_col),
        _as_double(F.col(vec_col)).alias("v"),
    )
    a = e.select("block", F.col(id_col).alias("id_a"), F.col("v").alias("va"))
    b = e.select("block", F.col(id_col).alias("id_b"), F.col("v").alias("vb"))
    return (
        a.join(b, "block")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "block",
            "id_a",
            "id_b",
            F.round(cosine("va", "vb"), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def _train_pq_codebooks(
    prepared: DataFrame,
    m: int,
    n_codes: int,
    seed: int,
    max_iter: int,
    sample_size: int,
) -> "np.ndarray":
    """Train per-subspace PQ codebooks (m × n_codes × dim/m) with
    numpy Lloyd over the same bounded deterministic TakeOrdered sample
    discipline as the IVF coarse quantizer — at 100 TB the codebooks
    train on a few 10k vectors regardless of corpus size, and the
    driver holds sample_size × dim doubles, nothing more."""
    X = _sample_vectors(prepared, sample_size)
    if X.size == 0:
        raise ValueError("pq_topk: empty corpus, cannot train codebooks")
    d = X.shape[1]
    if d % m:
        raise ValueError(f"pq_topk: dim {d} not divisible by m={m}")
    sub = d // m
    rng = np.random.RandomState(seed)
    books = np.empty((m, n_codes, sub), dtype=np.float64)
    for j in range(m):
        Xj = X[:, j * sub : (j + 1) * sub]
        kk = min(n_codes, len(Xj))
        C = Xj[rng.choice(len(Xj), size=kk, replace=False)].copy()
        x2 = (Xj**2).sum(axis=1)
        for _ in range(max_iter):
            dist = x2[:, None] - 2.0 * (Xj @ C.T) + (C**2).sum(axis=1)[None, :]
            a = dist.argmin(axis=1)
            for c in range(kk):
                members = a == c
                if members.any():
                    C[c] = Xj[members].mean(axis=0)
        if kk < n_codes:  # degenerate tiny corpus: pad by repetition
            C = np.vstack([C, C[np.zeros(n_codes - kk, dtype=int)]])
        books[j] = C
    return books


def _pq_encode_udf(books: "np.ndarray"):
    """Arrow-vectorized PQ encoder: per batch, m small matmuls assign
    each subvector to its nearest codeword; output is (codes, norm) —
    m smallint codes plus the TRUE L2 norm (stored once so the ADC
    cosine needs no reconstructed-norm approximation)."""
    B = np.asarray(books, dtype=np.float64)  # (m, n_codes, sub)
    m, n_codes, sub = B.shape
    b2 = (B**2).sum(axis=2)  # (m, n_codes)

    def encode(vecs):
        X = np.stack(vecs.to_numpy()).astype(np.float64)
        codes = np.empty((len(X), m), dtype=np.int32)
        for j in range(m):
            Xj = X[:, j * sub : (j + 1) * sub]
            dist = b2[j][None, :] - 2.0 * (Xj @ B[j].T)
            codes[:, j] = dist.argmin(axis=1)
        return pd.DataFrame(
            {
                "codes": list(codes),
                "xnorm": np.sqrt((X**2).sum(axis=1)),
            }
        )

    encode.__annotations__ = {"vecs": pd.Series, "return": pd.DataFrame}
    return F.pandas_udf(encode, "codes array<int>, xnorm double")


def _pq_lut_udf(books: "np.ndarray"):
    """Per-query ADC lookup table: LUT[j, c] = q_j · codeword_{j,c},
    flattened to one array<double> of length m × n_codes. approx
    dot(q, x) = Σ_j LUT[j, codes_j(x)] — the scan then touches only
    m-byte codes, never the original vectors."""
    B = np.asarray(books, dtype=np.float64)
    m, n_codes, sub = B.shape

    def lut(vecs):
        out = []
        for v in vecs.to_numpy():
            q = np.asarray(v, dtype=np.float64)
            t = np.empty((m, n_codes), dtype=np.float64)
            for j in range(m):
                t[j] = B[j] @ q[j * sub : (j + 1) * sub]
            out.append(t.ravel())
        return pd.Series(out)

    lut.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    return F.pandas_udf(lut, "array<double>")


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    rerank: int = 50,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 8,
    train_sample: int = 65536,
) -> DataFrame:
    """Product-quantization approximate top-k (FAISS PQ/ADC
    structure): the corpus is compressed to m codes + one norm per
    vector (dim=64, m=8, n_codes=16 ⇒ 8 bytes vs 256 — a 32×
    smaller scan), queries carry a broadcast ADC lookup table, the
    approximate scan ranks by Σ_j LUT[j, code_j] / (|q|·|x|), and the
    top ``rerank`` candidates per query are exactly re-ranked against
    the true vectors.

    Scale shape: the code table is the only full-corpus operand in the
    scan (join with BROADCAST queries — no corpus shuffle at all);
    the exact re-rank joins only |Q|·rerank rows back to the corpus.
    At 100 TB PQ composes with IVF (probe cells, then ADC within
    cells); here it is the standalone memory-bandwidth path. Codebook
    training collects a bounded sample at call time (same rows-only
    registration as IVF)."""
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("cv"),
    )
    c = _persist_tracked(c)
    books = _train_pq_codebooks(c, m, n_codes, seed, max_iter, train_sample)
    encoded = c.select(
        "neighbor_id", _pq_encode_udf(books)(F.col("cv")).alias("e")
    ).select("neighbor_id", "e.codes", "e.xnorm")

    q = queries.select(
        F.col(query_id).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qv"),
    ).withColumn("lut", _pq_lut_udf(books)(F.col("qv")))
    q = q.withColumn("qnorm", norm("qv"))

    # ADC scan: broadcast the (tiny) query+LUT table against the code
    # table; Σ_j LUT[j*n_codes + codes_j] via a bounded m-element fold
    approx = encoded.join(F.broadcast(q.select("query_id", "lut", "qnorm"))).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    idx = F.sequence(F.lit(0), F.lit(m - 1))
    adc_dot = F.aggregate(
        idx,
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(
            F.col("lut"), (j * n_codes + F.element_at(F.col("codes"), j + 1) + 1).cast("int")
        ),
    )
    approx = approx.select(
        "query_id",
        "neighbor_id",
        # try_divide: zero-norm (padded/missing) vectors yield NULL
        # instead of an ANSI DIVIDE_BY_ZERO — the cosine() discipline
        F.try_divide(adc_dot, F.col("qnorm") * F.col("xnorm")).alias("adc_sim"),
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.desc("adc_sim"), F.col("neighbor_id")
    )
    cand = (
        approx.withColumn("ar", F.row_number().over(wa))
        .filter(F.col("ar") <= rerank)
        .select("query_id", "neighbor_id")
    )
    # exact re-rank of |Q|·rerank survivors against true vectors
    scored = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q.select("query_id", "qv")), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine("qv", "cv"), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    rerank: int = 50,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 8,
    train_sample: int = 65536,
) -> DataFrame:
    """Composed IVF+PQ approximate top-k — the full FAISS IVFPQ
    structure: a coarse quantizer routes each vector to a cell, PQ
    codebooks (trained on RESIDUALS x − centroid, the standard IVFPQ
    discipline — residuals are far more compressible than raw
    vectors) encode each vector as m codes + its true norm, and a
    query exact-probes only its n_probe nearest cells, scoring by
    ADC: dot(q, x) ≈ dot(q, c_cell) + Σ_j LUT[j, code_j]. The top
    ``rerank`` survivors re-rank exactly.

    Scale shape: the probe join touches n_probe/n_centroids of the
    code table (which is itself ~32× smaller than the vectors), the
    query side (ids + LUTs + per-cell dots) broadcasts, and the only
    full-corpus passes are the two lazy Arrow encode scans. Both
    trainers collect one bounded deterministic sample (rows-only
    registration, as with IVF/PQ)."""
    _check_n_centroids("ivfpq_topk", n_centroids)
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("cv"),
    )
    c = _persist_tracked(c)
    X = _sample_vectors(c, train_sample)
    C = _train_coarse_quantizer(
        c, n_centroids, seed, max_iter, train_sample, sample=X
    )

    # --- train PQ codebooks on the SAME sample's residuals ------------
    cells = (
        (X**2).sum(axis=1)[:, None]
        - 2.0 * (X @ C.T)
        + (C**2).sum(axis=1)[None, :]
    ).argmin(axis=1)
    resid = X - C[cells]
    d = X.shape[1]
    if d % m:
        raise ValueError(f"ivfpq_topk: dim {d} not divisible by m={m}")
    sub = d // m
    rng = np.random.RandomState(seed + 1)
    books = np.empty((m, n_codes, sub), dtype=np.float64)
    for j in range(m):
        Rj = resid[:, j * sub : (j + 1) * sub]
        kk = min(n_codes, len(Rj))
        B = Rj[rng.choice(len(Rj), size=kk, replace=False)].copy()
        r2 = (Rj**2).sum(axis=1)
        for _ in range(max_iter):
            dist = r2[:, None] - 2.0 * (Rj @ B.T) + (B**2).sum(axis=1)[None, :]
            a = dist.argmin(axis=1)
            for code in range(kk):
                members = a == code
                if members.any():
                    B[code] = Rj[members].mean(axis=0)
        if kk < n_codes:
            B = np.vstack([B, B[np.zeros(n_codes - kk, dtype=int)]])
        books[j] = B

    # --- encode corpus: cell + residual codes + true norm (one pass) --
    Cq = np.asarray(C, dtype=np.float64)
    c2 = (Cq**2).sum(axis=1)
    Bq = books
    b2 = (Bq**2).sum(axis=2)

    def encode(vecs):
        Xb = np.stack(vecs.to_numpy()).astype(np.float64)
        cell = (c2[None, :] - 2.0 * (Xb @ Cq.T)).argmin(axis=1)
        R = Xb - Cq[cell]
        codes = np.empty((len(Xb), m), dtype=np.int32)
        for j in range(m):
            Rj = R[:, j * sub : (j + 1) * sub]
            codes[:, j] = (b2[j][None, :] - 2.0 * (Rj @ Bq[j].T)).argmin(axis=1)
        return pd.DataFrame(
            {
                "cell": cell.astype(np.int32),
                "codes": list(codes),
                "xnorm": np.sqrt((Xb**2).sum(axis=1)),
            }
        )

    encode.__annotations__ = {"vecs": pd.Series, "return": pd.DataFrame}
    enc_udf = F.pandas_udf(encode, "cell int, codes array<int>, xnorm double")
    encoded = c.select(
        "neighbor_id", enc_udf(F.col("cv")).alias("e")
    ).select("neighbor_id", "e.cell", "e.codes", "e.xnorm")

    # --- query side: probed cells + per-cell dot + LUT ----------------
    def lut(vecs):
        out = []
        for v in vecs.to_numpy():
            q = np.asarray(v, dtype=np.float64)
            t = np.empty((m, n_codes), dtype=np.float64)
            for j in range(m):
                t[j] = Bq[j] @ q[j * sub : (j + 1) * sub]
            out.append(t.ravel())
        return pd.Series(out)

    lut.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    lut_udf = F.pandas_udf(lut, "array<double>")

    q = (
        queries.select(
            F.col(query_id).alias("query_id"),
            _as_double(F.col(vec_col)).alias("qv"),
        )
        .withColumn("lut", lut_udf(F.col("qv")))
        .withColumn("qnorm", norm("qv"))
    )
    from .. import catalog

    cent_df = catalog.local_df(
        queries.sparkSession,
        [(i, [float(x) for x in C[i]]) for i in range(len(C))],
        "cell int, centroid array<double>",
    )
    qc = q.crossJoin(F.broadcast(cent_df)).select(
        "query_id",
        "qv",
        "lut",
        "qnorm",
        "cell",
        dot("qv", "centroid").alias("qc_dot"),
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.desc("qc_dot"), F.col("cell")
    )
    probes = (
        qc.withColumn("cr", F.row_number().over(wc))
        .filter(F.col("cr") <= n_probe)
        .select("query_id", "lut", "qnorm", "cell", "qc_dot")
    )

    idx = F.sequence(F.lit(0), F.lit(m - 1))
    adc_resid = F.aggregate(
        idx,
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(
            F.col("lut"),
            (j * n_codes + F.element_at(F.col("codes"), j + 1) + 1).cast("int"),
        ),
    )
    approx = (
        encoded.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.try_divide(
                F.col("qc_dot") + adc_resid,
                F.col("qnorm") * F.col("xnorm"),
            ).alias("adc_sim"),
        )
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.desc("adc_sim"), F.col("neighbor_id")
    )
    cand = (
        approx.withColumn("ar", F.row_number().over(wa))
        .filter(F.col("ar") <= rerank)
        .select("query_id", "neighbor_id")
    )
    scored = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q.select("query_id", "qv")), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine("qv", "cv"), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )


def random_projection(
    df: DataFrame,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: multiply every vector
    by one fixed Gaussian matrix R/√out_dim — pairwise distances are
    preserved within (1±ε) with high probability, so ANN/dedup
    pipelines can run on d/4 the bytes before exact re-ranking on the
    originals. The matrix is seed-deterministic, built inside the UDF
    closure (out_dim × dim doubles — KBs), and applied as one Arrow
    matmul per batch; no fit step, no shuffle, fully streaming-safe.
    Distortion bound pinned in tests."""

    def make_udf():
        # deferred: R is built once per worker from the seed (needs the
        # input dim, known at the first batch), not serialized —
        # identical everywhere by construction
        R = None

        def project(vecs):
            nonlocal R
            X = np.stack(vecs.to_numpy()).astype(np.float64)
            if R is None:
                r = np.random.RandomState(seed)
                R = r.standard_normal((X.shape[1], out_dim)) / np.sqrt(
                    out_dim
                )
            return pd.Series(list(X @ R))

        project.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
        return F.pandas_udf(project, "array<double>")

    return df.select(
        F.col(id_col), make_udf()(_as_double(F.col(vec_col))).alias("proj")
    )


# ---------------------------------------------------------------------------
# Persisted embedding-dedup index — the fourth instantiation of the
# shared delta-index protocol (operators/ledger.py; siblings: the IVF
# ANN index above, the MinHash dedup index and BM25 retrieval index).
# Closes the incremental-maintenance asymmetry between lexical and
# SEMANTIC dedup: minhash_index dedups incoming batches against an
# indexed corpus without re-shingling it; this index does the same for
# embedding near-dups without re-hashing or re-scanning corpus vectors.
# ---------------------------------------------------------------------------

#: The two tables a persisted embedding-dedup index maintains:
#: ``buckets`` (block, id — one narrow row per vector per hash table)
#: and ``vectors`` (id, v — the double vectors the exact-cosine verify
#: step reads, so verification never re-reads source embeddings).
_EMBDEDUP_TABLES = ("buckets", "vectors")


def _embdedup_tables(
    vecs: DataFrame, n_planes: int, n_tables: int, seed: int,
    id_col: str, vec_col: str,
) -> dict:
    e = vecs.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    )
    sigs = table_signatures_udf(n_planes, n_tables, seed)
    buckets = e.select(
        "id", F.posexplode(sigs("v")).alias("table", "bucket")
    ).select(
        (
            F.col("table").cast("long") * F.lit(2**n_planes) + F.col("bucket")
        ).alias("block"),
        "id",
    )
    return {"buckets": buckets, "vectors": e}


def embdedup_index_build(
    embeddings: DataFrame,
    base_dir: str,
    n_planes: int = 4,
    n_tables: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the hyperplane-LSH dedup index of a corpus as a new
    generation at ``base_dir`` (:func:`.ledger.build`: tables
    ``buckets`` + ``vectors``). The hash parameters are recorded as the
    generation's params so append/probe regenerate the IDENTICAL planes
    (a mismatched probe would silently miss every bucket — the index is
    self-describing instead)."""
    from . import ledger

    t = _embdedup_tables(
        embeddings, n_planes, n_tables, seed, id_col, vec_col
    )
    params = {"n_planes": n_planes, "n_tables": n_tables, "seed": seed}
    with ledger.build(base_dir, params) as root:
        t["buckets"].write.parquet(f"{root}/buckets")
        t["vectors"].write.parquet(f"{root}/vectors")


def embdedup_index_append(
    base_dir: str, id_col: str = "vec_id", vec_col: str = "embedding"
):
    """foreachBatch sink: hash ONLY the batch (with the index's stored
    parameters) and land its buckets + vectors as a committed delta
    (shared protocol — :func:`.ledger.delta_append_sink`)."""
    from . import ledger

    def tables_fn(batch: DataFrame, root: str) -> dict:
        p = ledger.read_params(root)
        return _embdedup_tables(
            batch, p["n_planes"], p["n_tables"], p["seed"], id_col, vec_col
        )

    return ledger.delta_append_sink(base_dir, tables_fn)


def embdedup_index_probe(
    new_vecs: DataFrame,
    base_dir: str,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int = 100_000,
) -> DataFrame:
    """Semantic near-dup pairs (new_id, corpus_id, cos_sim) of an
    incoming batch against the INDEXED corpus — corpus vectors are
    never re-hashed: the batch computes its own signatures with the
    stored parameters, probes the bucket table on block id, and the
    exact-cosine verify joins only candidate ids against the stored
    vectors (6-dp grid, deterministic). READ-ONLY on the index
    (resolve_delta_tables), so probes can race appends/compaction.
    ``max_bucket_size`` drops hub blocks before the candidate join —
    the same skew guard as lsh_neardup_pairs, computed on the narrow
    bucket table."""
    from . import ledger

    root = ledger.current(base_dir)
    p = ledger.read_params(root)
    t = ledger.read_generation(new_vecs.sparkSession, root, _EMBDEDUP_TABLES)
    new_t = _embdedup_tables(
        new_vecs, p["n_planes"], p["n_tables"], p["seed"], id_col, vec_col
    )
    hot = (
        t["buckets"].groupBy("block")
        .count()
        .filter(F.col("count") > max_bucket_size)
        .select("block")
    )
    corpus_buckets = t["buckets"].join(F.broadcast(hot), "block", "left_anti")
    cands = (
        new_t["buckets"].withColumnRenamed("id", "new_id")
        .join(corpus_buckets.withColumnRenamed("id", "corpus_id"), "block")
        .filter(F.col("new_id") != F.col("corpus_id"))
        .select("new_id", "corpus_id")
        .distinct()
    )
    nv = new_t["vectors"].select(
        F.col("id").alias("new_id"), F.col("v").alias("v_new")
    )
    cv = t["vectors"].select(
        F.col("id").alias("corpus_id"), F.col("v").alias("v_corpus")
    )
    return (
        cands.join(nv, "new_id")
        .join(cv, "corpus_id")
        .select(
            "new_id",
            "corpus_id",
            F.round(cosine("v_new", "v_corpus"), 6).alias(
                "cos_sim"
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def embdedup_index_probe_topk(
    new_vecs: DataFrame,
    base_dir: str,
    k: int = 1,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int = 100_000,
) -> DataFrame:
    """:func:`embdedup_index_probe` with OUTPUT capped to the ``k``
    best corpus matches per probe vector — the production posture for
    replica-heavy corpora (VERDICT r07 item 4): the uncapped probe's
    output is quadratic in the duplicate-cluster size (at the
    100x/4 GB stress point that was 216 s of pure pair emission, 11×
    pairs for 3.3× data), while every downstream dedup policy
    (dedup_keep_longest, canonical-id assignment) consumes only the
    argmax pair. Capping makes the emitted result O(k · probe size).

    The cap is a window PARTITIONED on new_id (never SinglePartition —
    the key cardinality is the probe batch size): the per-group sort
    is an external spillable sort, so a hub probe id with 10⁵
    replica matches caps safely instead of buffering an array per
    group the way collect_list would. Ties break on corpus_id ASC at
    equal cos_sim (exact on the 1e-6 grid → deterministic output).
    Returns (new_id, corpus_id, cos_sim) like the uncapped probe."""
    from pyspark.sql import Window

    pairs = embdedup_index_probe(
        new_vecs, base_dir, threshold, id_col, vec_col, max_bucket_size
    )
    # cos_sim is already rounded to the 1e-6 grid — integerize so the
    # (-sim, corpus_id) rank order is exact and ties are total
    w = Window.partitionBy("new_id").orderBy(
        (-F.round(F.col("cos_sim") * 1e6)).cast("long"), F.col("corpus_id")
    )
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .drop("rk")
    )


def embdedup_index_compact(spark, base_dir: str) -> None:
    """Fold append deltas into the base layout (shared protocol —
    :func:`.ledger.compact_delta_index`; version-then-swap, one atomic
    ledger commit for both subtables, tombstoned batch ids). Probe
    results are identical before and after (test-pinned)."""
    from . import ledger

    ledger.compact_delta_index(spark, base_dir, _EMBDEDUP_TABLES)


# ---------------------------------------------------------------------------
# HNSW-lite: bounded-degree neighbor graph + greedy beam search
# ---------------------------------------------------------------------------


def _block_topm_edges(
    embeddings: DataFrame,
    block_col: str,
    m: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-block per-NODE top-``m`` directed candidate edges via one
    BLAS tile per block (the graph-build sibling of
    :func:`cosine_neardup_pairs_arrow`): for every node in a block,
    its ``m`` best block-mates by cosine — so a block of n rows emits
    n·m rows instead of n² pairs. Per-block top-m is LOSSLESS for the
    downstream global per-node top-m UP TO TIES in the rounded cosine
    at the k-boundary: a candidate STRICTLY outranked by m block-mates
    in EVERY shared block is outranked by m candidates globally, so it
    can never be in the global top-m; among k-boundary candidates with
    EQUAL rounded cosine, np.argpartition picks arbitrarily (vs the
    global window's dst-ASC tie-break), so a quality-equivalent edge
    may survive instead — deterministic for fixed data, identical
    edge quality, not byte-identical edge identity."""
    id_type = embeddings.schema[id_col].dataType.simpleString()
    out_schema = f"src {id_type}, dst {id_type}, cos_sim double"
    e = embeddings.select(
        F.col(block_col).alias("block"),
        F.col(id_col).alias("id"),
        _as_double(F.col(vec_col)).alias("v"),
    )

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        X = np.stack(pdf["v"].to_numpy()[order]).astype("float64")
        norms = np.linalg.norm(X, axis=1)
        norms[norms == 0] = 1.0
        Xn = X / norms[:, None]
        n = len(ids)
        if n < 2:
            return pd.DataFrame({"src": [], "dst": [], "cos_sim": []})
        srcs: list = []
        dsts: list = []
        coss: list = []
        k = min(m, n - 1)
        for i0 in range(0, n, 1024):
            i1 = min(i0 + 1024, n)
            tile = np.round(Xn[i0:i1] @ Xn.T, 6)
            tile[np.arange(i1 - i0), np.arange(i0, i1)] = -2.0  # no self
            # top-k per row, deterministic (cos DESC, dst ASC) order
            idx = np.argpartition(-tile, k - 1, axis=1)[:, :k]
            for r in range(i1 - i0):
                cols = idx[r]
                cs = tile[r, cols]
                o = np.lexsort((ids[cols], -cs))
                srcs.append(np.repeat(ids[i0 + r], k))
                dsts.append(ids[cols[o]])
                coss.append(cs[o])
        return pd.DataFrame(
            {
                "src": np.concatenate(srcs),
                "dst": np.concatenate(dsts),
                "cos_sim": np.concatenate(coss),
            }
        )

    return e.groupBy("block").applyInPandas(per_block, out_schema)


def neighbor_graph_build(
    embeddings: DataFrame,
    m: int = 8,
    n_planes: int = 6,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_bucket_size: int = 512,
) -> DataFrame:
    """Bounded-degree k-NN NEIGHBOR GRAPH — the base layer of
    graph-based ANN (HNSW/NSG family), completing the index families
    next to IVF/PQ/LSH: per vector, the top-``m`` candidates by true
    cosine among its LSH-bucket neighbours. Returns (src, dst,
    cos_sim) directed edges (out-degree ≤ m), LAZY.

    Scale shape (the first cut was live-measured unscalable and
    replaced): multi-table hyperplane buckets, oversized buckets
    SUB-SPLIT to ≤ ``max_bucket_size`` rows (salted; the bounded
    size table broadcasts safely), then ONE BLAS tile per block that
    emits only each node's per-block top-m (:func:`_block_topm_edges`
    — n·m rows per block, never the n² pair list whose global dedupe
    shuffle dominated: 765M pair rows at the 100x stress point), a
    (src, dst) max-dedupe across tables, and the global per-src
    top-m window. Per-block top-m is lossless for the global top-m
    up to rounded-cosine TIES at the k-boundary (proof + tie caveat
    in the tile docstring), so this emits the pair-list formulation's
    edge set up to quality-equivalent tie swaps. Plane count remains
    the quality knob to grow with log(corpus) — the sim_topk_lsh
    convention."""
    sigs = table_signatures_udf(n_planes, n_tables, seed)
    from .. import catalog as _catalog

    # r12 (§2.5 input parallelism): the signature UDF + explode run in
    # the pre-exchange map stage — over a single-split embeddings scan
    # that was ONE serial 2.2 s task at sf0.1; spread it first (plan-
    # statistics estimate, no build-time job). No-ops on a wide scan.
    e = _catalog.spread_narrow(
        embeddings.select(
            F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
        )
    )
    buckets = e.select(
        "id", "v", F.posexplode(sigs("v")).alias("table", "bucket")
    ).select(
        (
            F.col("table").cast("long") * F.lit(2**n_planes) + F.col("bucket")
        ).alias("block"),
        "id",
        "v",
    )
    sized = _subsplit_blocks(buckets, max_bucket_size, "id", "v")
    cand = _block_topm_edges(sized, "block", m, id_col="id", vec_col="v")
    dedup = cand.groupBy("src", "dst").agg(F.max("cos_sim").alias("cos_sim"))
    w = Window.partitionBy("src").orderBy(F.desc("cos_sim"), F.col("dst"))
    return (
        dedup.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= m)
        .select("src", "dst", "cos_sim")
    )


def graph_greedy_search(
    graph: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    beam: int = 8,
    rounds: int = 3,
    n_entry: int = 4,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    entry_points: DataFrame | None = None,
) -> DataFrame:
    """Greedy BEAM search over the neighbor graph — HNSW's search
    loop as ``rounds`` bounded relaxation rounds (the g_sssp_bounded
    convention): seed each query's beam with the ``n_entry``
    smallest-id corpus nodes actually present (bounded TakeOrdered —
    no dense-id assumption), or — when ``entry_points`` (query_id,
    nid) is given — with PER-QUERY routed entries (see
    :func:`routed_entry_points`, the HNSW upper-layer role), then
    repeatedly expand every beam node's out-edges,
    score the frontier by true cosine, and keep the top-``beam``.
    Beam membership is monotone-improving (the union keeps previous
    winners), so rounds only ever raise recall.

    The beam is carried as ONE ARRAY ROW PER QUERY of
    (cos, -node) structs (the lazy-fixpoint discipline: each round
    references the previous round exactly once — linear plan growth;
    sort_array DESC on that struct is cos DESC, node ASC). A query
    whose whole beam is edge-less keeps its beam (left-join guard),
    never vanishes. Cost per round: |beam|·2m candidate rows per
    query, one groupBy dedupe, one hash join to the corpus for
    vectors — at serving scale the graph and corpus joins are the
    same partition-pruned point lookups every graph-ANN store does.

    Returns (query_id, neighbor_id, cos_sim, rnk) like
    :func:`brute_force_topk`; self-matches excluded at readout (the
    query's own node is deliberately KEPT in the beam — it is the
    best hub to its true neighbours)."""
    q = queries.select(
        F.col(query_id).alias("query_id"),
        _as_double(F.col(query_vec)).alias("qv"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("nid"), _as_double(F.col(corpus_vec)).alias("cv")
    )
    e_struct = F.struct(
        F.round(cosine("qv", "cv"), 6).alias("cos"),
        (-F.col("nid")).cast("long").alias("mnode"),
    )
    if entry_points is None:
        # the n_entry SMALLEST ids actually present (bounded
        # TakeOrdered — a filter on nid < n_entry assumed a dense
        # 0-based id space and silently returned zero results on
        # corpora whose ids start higher)
        entry = c.orderBy("nid").limit(n_entry)
        init = (
            F.broadcast(q).crossJoin(entry).select("query_id", e_struct.alias("e"))
        )
    else:
        # per-query routed entries (query_id, nid) — tiny (n_route ×
        # reps rows per query, see routed_entry_points), broadcast
        # against the corpus vector lookup
        init = (
            F.broadcast(entry_points.select("query_id", "nid").join(q, "query_id"))
            .join(c, "nid")
            .select("query_id", e_struct.alias("e"))
        )
    f = init.groupBy("query_id").agg(
        F.slice(
            F.reverse(F.array_sort(F.collect_list("e"))), 1, beam
        ).alias("arr")
    )
    edges = graph.select("src", "dst")
    for _ in range(rounds):
        x = (
            f.select("query_id", "arr", F.explode("arr").alias("e"))
            .select("query_id", "arr", (-F.col("e.mnode")).alias("node"))
            .join(edges, F.col("node") == F.col("src"), "left")
            .groupBy("query_id", "dst")
            .agg(F.first("arr").alias("arr"))
        )
        x = (
            x.join(c, F.col("dst") == F.col("nid"), "left")
            .join(F.broadcast(q), "query_id")
            .select(
                "query_id",
                "arr",
                F.when(F.col("nid").isNotNull(), e_struct).alias("e"),
            )
        )
        f = x.groupBy("query_id").agg(
            F.slice(
                F.reverse(
                    F.array_sort(
                        F.array_distinct(
                            F.flatten(
                                F.array(
                                    F.first("arr"), F.collect_list("e")
                                )
                            )
                        )
                    )
                ),
                1,
                beam,
            ).alias("arr")
        )
    out = f.select("query_id", F.explode("arr").alias("e")).select(
        "query_id",
        (-F.col("e.mnode")).alias("neighbor_id"),
        F.col("e.cos").alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.col("neighbor_id")
    )
    return (
        out.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )


# ---------------------------------------------------------------------------
# Persisted HNSW-lite index lifecycle (shared ledger protocol, 5th
# instantiation after MinHash / BM25 / IVF / embdedup)
# ---------------------------------------------------------------------------

_HNSW_TABLES = ("edges", "vectors")


def hnsw_index_build(
    embeddings: DataFrame,
    base_dir: str,
    m: int = 16,
    n_planes: int = 5,
    n_tables: int = 16,
    seed: int = 42,
    n_entry: int = 8,
    beam: int = 24,
    rounds: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the neighbor graph + vector store of a corpus as a
    persisted SERVING index (the graph-ANN sibling of the IVF index):
    edges from :func:`neighbor_graph_build`, vectors alongside (the
    search's point lookups), written as a new generation at
    ``base_dir`` (:func:`.ledger.build`: tables ``edges`` +
    ``vectors``) with the build/search parameters as its params so
    appends and searches are self-describing — a mismatched
    beam/entry config would silently change results; the index pins
    its own."""
    from . import ledger

    edges = neighbor_graph_build(
        embeddings, m, n_planes, n_tables, id_col, vec_col, seed
    )
    vectors = embeddings.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    )
    params = {
        "m": m,
        "n_planes": n_planes,
        "n_tables": n_tables,
        "seed": seed,
        "n_entry": n_entry,
        "beam": beam,
        "rounds": rounds,
    }
    with ledger.build(base_dir, params) as root:
        edges.write.parquet(f"{root}/edges")
        vectors.write.parquet(f"{root}/vectors")


def hnsw_index_search(
    spark,
    base_dir: str,
    queries: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    query_vec: str = "embedding",
) -> DataFrame:
    """Beam search over the PERSISTED graph (base + committed deltas —
    READ-ONLY snapshot resolution, so searches can race appends and a
    live compactor). Entry points are the stored ``n_entry`` smallest
    vector ids — stable across appends because appended ids are new."""
    from . import ledger

    root = ledger.current(base_dir)
    p = ledger.read_params(root)
    t = ledger.read_generation(spark, root, _HNSW_TABLES)
    return graph_greedy_search(
        t["edges"],
        t["vectors"],
        queries,
        k=k,
        beam=p["beam"],
        rounds=p["rounds"],
        n_entry=p["n_entry"],
        query_id=query_id,
        corpus_id="id",
        query_vec=query_vec,
        corpus_vec="v",
    )


def hnsw_index_append(
    base_dir: str, id_col: str = "vec_id", vec_col: str = "embedding"
):
    """foreachBatch sink: INCREMENTAL graph insertion, the way real
    HNSW inserts work — search the EXISTING index for each new
    vector's top-m (the stored beam config), then land the batch as a
    committed delta of (a) the new vectors and (b) edges BOTH ways
    (new→found makes the new vector searchable outward; found→new
    makes it REACHABLE from the old graph). Shared protocol
    (:func:`.ledger.delta_append_sink`): root _SUCCESS commit,
    replay-no-op, tombstone check.

    Honest contracts, documented: (1) reverse edges can push an old
    node's out-degree above m between rebuilds — the periodic full
    rebuild is the degree re-cap (real HNSW prunes at insert; a
    delta-append store cannot rewrite base rows); (2) batch-INTERNAL
    near-duplicates connect through shared old neighbors, not
    directly — per-batch internal edges would need the batch's own
    neighbor_graph_build, omitted to keep appends O(batch·search)."""
    from . import ledger

    def tables_fn(batch: DataFrame, root: str) -> dict:
        p = ledger.read_params(root)
        t = ledger.read_generation(batch.sparkSession, root, _HNSW_TABLES)
        q = batch.select(
            F.col(id_col).alias("query_id"),
            _as_double(F.col(vec_col)).alias("qv"),
        )
        found = graph_greedy_search(
            t["edges"],
            t["vectors"],
            q,
            k=p["m"],
            beam=p["beam"],
            rounds=p["rounds"],
            n_entry=p["n_entry"],
            query_id="query_id",
            corpus_id="id",
            query_vec="qv",
            corpus_vec="v",
        )
        fwd = found.select(
            F.col("query_id").alias("src"),
            F.col("neighbor_id").alias("dst"),
            "cos_sim",
        )
        rev = found.select(
            F.col("neighbor_id").alias("src"),
            F.col("query_id").alias("dst"),
            "cos_sim",
        )
        vectors = batch.select(
            F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
        )
        return {"edges": fwd.unionByName(rev), "vectors": vectors}

    return ledger.delta_append_sink(base_dir, tables_fn)


def hnsw_index_compact(spark, base_dir: str) -> None:
    """Fold append deltas into the base layout (shared protocol —
    version-then-swap, ONE atomic ledger commit for both subtables).
    Search results are identical before and after (test-pinned): only
    the file layout changes."""
    from . import ledger

    ledger.compact_delta_index(spark, base_dir, _HNSW_TABLES)
