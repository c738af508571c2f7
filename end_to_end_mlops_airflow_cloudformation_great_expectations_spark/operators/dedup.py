"""Deduplication operators for LLM training-data pipelines
(SURVEY.md A11/A12 [N]): exact, MinHash-LSH, SimHash, n-gram Jaccard.

Everything is DataFrame-composition: shingling/hashing/banding are
built-in expressions (xxhash64, transform, array_min), candidate
generation is a band-bucket self-join, verification is exact set
arithmetic on shingle arrays. No Python in the hot path.

Scale design (the point of LSH): the candidate set is
O(near-duplicates), not O(n²). The self-join shuffles on the band
bucket hash; a hot bucket (boilerplate shingles) is the skew risk, so
``max_bucket_size`` drops pathological buckets (standard practice —
a bucket with thousands of members is boilerplate, not duplication
signal). AQE's skew-join split handles moderate skew.

Refs: Broder 1997 (MinHash), Leskovec et al. MMDS ch.3 (banding),
Charikar 2002 (SimHash); GPT-3/C4/RefinedWeb dedup recipes use the
same shingle→minhash→band pipeline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from .caches import tracked_persist

#: Caches of the most recent minhash_neardup_pairs-family call (and of
#: text.bpe_merge_rounds, which shares this set). Concurrent pipelines
#: should pass their own pre-persisted shingle tables.
_persist_tracked = tracked_persist()


# ---------------------------------------------------------------------------
# Exact dedup (A11)
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, cols: list[str], id_col: str
) -> DataFrame:
    """Keep one deterministic representative (min id) per duplicate
    group of ``cols``. ``dropDuplicates`` keeps an arbitrary row; a
    min-keeper is reproducible and oracle-friendly."""
    keep = df.groupBy(*cols).agg(F.min(id_col).alias(id_col))
    return df.join(keep, on=[*cols, id_col], how="left_semi")


# ---------------------------------------------------------------------------
# Shingling + MinHash (A12)
# ---------------------------------------------------------------------------


def char_shingles(text: Column, k: int = 5) -> Column:
    """Distinct lowercase character k-shingles as an array column."""
    lowered = F.lower(text)
    n = F.length(lowered) - (k - 1)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
            lambda i: F.substring(lowered, i, k),
        )
    )


# MinHash permutation family: the textbook Carter–Wegman universal
# hash h_i(x) = (a_i * x + b_i) mod p with p = 2^31 - 1 (Mersenne
# prime), applied to x = xxhash64(shingle) mod p. Hashing the
# (variable-length) shingle string happens ONCE; each permutation is
# then one multiply-add-mod — vs seeding xxhash64 per permutation,
# which string-hashes every shingle n_hashes times. The bounds make
# ANSI overflow impossible while keeping the family genuinely
# wrapping: a_i, x < 2^31 ⇒ a_i*x < 2^62, well inside a signed long,
# and a_i*x spans ~2^31 multiples of p, so the permutations are
# independent (an earlier draft used p = 2^61-1 with a_i < 2^30 to
# dodge overflow — but then a_i*x < p, nothing wraps, every "permutation"
# is monotone in x and all of them select the same min shingle).
_M31P = (1 << 31) - 1  # Mersenne prime 2^31-1


def _perm_params(n_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) universal-hash constants via a
    fixed-seed LCG (MMIX multiplier)."""
    params, state = [], 0x5DEECE66D
    for _ in range(n_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state >> 16) % (_M31P - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = (state >> 16) % _M31P
        params.append((a, b))
    return params


def hashed_shingles(shingles: Column) -> Column:
    """Map a shingle-string array to longs in [0, 2^31-1) (one xxhash64
    per shingle — the only string hashing in the minhash pipeline).
    Downstream minhash/banding/Jaccard all operate on these longs;
    collision probability ~2^-31 per cross-doc shingle pair is
    negligible for dedup decisions."""
    return F.transform(shingles, lambda s: F.pmod(F.xxhash64(s), F.lit(_M31P)))


def minhash_signature(hashed: Column, n_hashes: int = 32) -> Column:
    """Array of ``n_hashes`` min-hash values over a ``hashed_shingles``
    array (expression form — use ``minhash_signatures`` for the
    whole-table path). NOTE: pass a MATERIALIZED (persisted) hashed
    array; on an unpersisted expression, projection collapse re-inlines
    the input into all n_hashes array_mins and the shingling+hashing
    runs n_hashes times per row."""
    return F.array(
        *[
            F.array_min(
                F.transform(
                    hashed, lambda x: F.pmod(x * F.lit(a) + F.lit(b), F.lit(_M31P))
                )
            )
            for a, b in _perm_params(n_hashes)
        ]
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    n_hashes: int = 32,
    shingle_fn=None,
) -> DataFrame:
    """Per-doc minhash signature via explode → hash once per shingle →
    map-side partial MIN aggregation.

    This is the scalable formulation: the pure-expression form
    (``minhash_signature``) over an unpersisted array re-inlines the
    shingle array into each of the n_hashes array_min expressions after
    projection collapse, so shingling runs n_hashes times per row
    (~30× slower measured). Here each shingle is string-hashed exactly
    once; the n_hashes permutations are affine transforms of that long,
    combined by hash aggregation, which partial-aggregates map-side —
    the shuffle carries one n_hashes-wide row per doc."""
    shingles = (shingle_fn or (lambda c: char_shingles(c, k)))(F.col(text_col))
    # small inputs often arrive as one parquet partition; per-shingle
    # hashing is CPU-bound, so spread it before the explode
    from .. import catalog as _catalog

    docs = _catalog.spread_narrow(docs)
    sh = docs.select(F.col(id_col), F.explode(shingles).alias("s")).select(
        F.col(id_col), F.pmod(F.xxhash64(F.col("s")), F.lit(_M31P)).alias("x")
    )
    return _min_agg_signatures(sh, id_col, n_hashes)


def _min_agg_signatures(
    exploded: DataFrame, id_col: str, n_hashes: int
) -> DataFrame:
    """groupBy(id).agg(min(perm_i(x))…) over (id, x) rows — the
    permutations run inside whole-stage-codegen'd hash aggregation,
    which measures ~1.8× faster than n_hashes interpreted
    array_min(transform(...)) passes (higher-order functions are
    evaluated per-element outside codegen), and partial MIN aggregation
    keeps the shuffle at one n_hashes-wide row per doc. Each aggregate
    is SQL text (int literals, as ``F.lit`` types them): one Py4J call
    instead of a dozen per column tree."""
    return exploded.groupBy(id_col).agg(
        *[
            F.expr(f"min(pmod(x * {a} + {b}, {_M31P})) AS mh_{i}")
            for i, (a, b) in enumerate(_perm_params(n_hashes))
        ]
    )


def _band_hashes_cols(bands: int, rows_per_band: int) -> Column:
    """Band-bucket array from ``mh_i`` signature COLUMNS (the
    ``_min_agg_signatures`` layout), as one SQL expression."""
    hashes = ", ".join(
        f"xxhash64({b}, concat_ws('_', "
        + ", ".join(
            f"CAST(mh_{b * rows_per_band + r} AS STRING)"
            for r in range(rows_per_band)
        )
        + "))"
        for b in range(bands)
    )
    return F.expr(f"array({hashes})")


def _check_bands(op: str, n_hashes: int, bands: int) -> None:
    """Refuse a band count outside ``1..n_hashes`` before any persist or
    write: 0 bands divides by zero and more bands than hashes leaves
    bands with no hash to concatenate."""
    if not 1 <= bands <= n_hashes:
        raise ValueError(
            f"{op}: bands must be in 1..n_hashes={n_hashes}, got {bands}"
        )


def _band_buckets(sh: DataFrame, id_col: str, n_hashes: int, bands: int):
    """(id_col, band, bucket) LSH rows of the hashed-shingle arrays
    ``sh`` (bands already checked by :func:`_check_bands`)."""
    sig = _min_agg_signatures(
        sh.select(id_col, F.explode("sh").alias("x")), id_col, n_hashes
    )
    return sig.select(
        id_col,
        F.posexplode(_band_hashes_cols(bands, n_hashes // bands)).alias(
            "band", "bucket"
        ),
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two array-set columns."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return inter / union


def minhash_neardup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    shingle_fn=None,
) -> DataFrame:
    """A12 end-to-end: LSH candidates → exact Jaccard verification →
    pairs with similarity ≥ threshold. Returns (id_a, id_b, jaccard).

    The HASHED shingle table (31-bit longs, not strings) is computed
    ONCE and persisted (MEMORY_AND_DISK) — it feeds both the
    signature/banding pass and the verify joins; without it the whole
    shingling pipeline re-runs three times. Persisting longs instead of
    shingle strings shrinks the cache and the verify-join shuffle, and
    the exact-Jaccard verify intersects long arrays instead of string
    arrays. Signatures explode the cached longs into the codegen'd
    min-aggregation (``_min_agg_signatures``) — the explode+agg shuffle
    is one 32-wide row per doc and measures ~1.8× faster than 32
    interpreted array_min(transform(...)) passes over the arrays."""
    _check_bands("minhash_neardup_pairs", n_hashes, bands)
    fn = shingle_fn or (lambda c: char_shingles(c, k))
    from .. import catalog as _catalog

    docs = _catalog.spread_narrow(docs)
    sh = _persist_tracked(
        docs.select(
            F.col(id_col), hashed_shingles(fn(F.col(text_col))).alias("sh")
        )
    )
    sized = _band_buckets(sh, id_col, n_hashes, bands).withColumn(
        "bucket_n", F.count("*").over(Window.partitionBy("band", "bucket"))
    ).filter(F.col("bucket_n") <= 1000)
    cands = (
        sized.select("band", "bucket", F.col(id_col).alias("id_a"))
        .join(
            sized.select("band", "bucket", F.col(id_col).alias("id_b")),
            on=["band", "bucket"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # Verify strategy — the wide rows (full shingle-hash array per doc,
    # TBs at corpus scale, MB-sized single rows for long docs) must
    # never be (a) broadcast, (b) sort-merge-sorted, or (c) the build
    # side of a hash join. Measured on a 10x corpus under a small heap:
    # the naive attach-both-arrays plan broadcast the shingle table
    # (cached-plan size underestimate slips under the profile's raised
    # 64 MB threshold) and OOM'd; hint("merge") moved the OOM into the
    # SMJ's humongous-allocation sort of the wide rows; hinting one join
    # shuffle_hash left Catalyst free to broadcast the OTHER side's
    # arrays. So the exact-Jaccard verify never joins arrays at all:
    #   1. semi-prune sh to candidate ids (SHUFFLE_HASH built on the
    #      DISTINCT id set, bounded at one long per corpus doc — wide
    #      rows stream past a hash set of longs);
    #   2. EXPLODE the pruned table to narrow (id, shingle, |doc|)
    #      postings and count per-pair intersections: cands ⋈
    #      postings(id_a) on id_a and postings(id_b) on (id_b, shingle),
    #      BOTH with MERGE hints — the pair list is superlinear in
    #      clone-cluster size and the postings are corpus-scaled, so
    #      big-big SMJ over narrow rows
    #      with spillable sorts is the only safe shape (Catalyst's
    #      size-underestimate of the cached/exploded side otherwise
    #      picks a broadcast that OOMs the driver — measured at 10x/2g);
    #      no per-shingle skew blowup because arrays are distinct so
    #      (id, shingle) is unique;
    #   3. |A∪B| by inclusion-exclusion from the per-doc sizes RIDDEN
    #      ALONG on the posting rows (first/max per pair) — attaching
    #      sizes by join would re-tempt the broadcast planner.
    # Pairs with zero intersection drop out of the inner join — correct
    # here because threshold > 0 discards them anyway.
    cands = _persist_tracked(cands, fresh=False)
    # DISTINCT candidate ids for the semi-prune build side: a left-semi
    # probe tolerates duplicate build keys, but LongHashedRelation
    # appends every build ROW — the raw exploded pair list scales
    # superlinearly with clone-cluster size (each k-clone cluster emits
    # O(k^2) pairs), and at the 100x/4GB stress point the un-distinct
    # build OOM'd the SHJ ("can't acquire 128MB to build hash
    # relation", measured live r11). The distinct is a map-side
    # partial agg and bounds the build at one long per CORPUS doc,
    # which scales linearly with partitions.
    cand_ids = cands.select(
        F.explode(F.array("id_a", "id_b")).alias(id_col)
    ).distinct()
    sh_cand = sh.join(cand_ids.hint("shuffle_hash"), id_col, "left_semi")
    postings = sh_cand.select(
        F.col(id_col), F.explode("sh").alias("x"), F.size("sh").alias("n")
    )
    # The pair list is SUPERLINEAR in clone-cluster size, so it must
    # never be a hash-relation build side either (the former
    # shuffle_hash hint here OOM'd at 100x/4GB, same failure as the
    # semi-prune above): both sides are narrow longs, so the spillable
    # big-big SMJ is the safe shape — the wide-row SMJ objection in the
    # strategy note applies only to the shingle ARRAYS, which never
    # reach a sort.
    inter = (
        cands.hint("merge")
        .join(
            postings.select(
                F.col(id_col).alias("id_a"), "x", F.col("n").alias("n_a")
            ),
            "id_a",
        )
        .join(
            postings.select(
                F.col(id_col).alias("id_b"), "x", F.col("n").alias("n_b")
            ).hint("merge"),
            on=["id_b", "x"],
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").alias("n_inter"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
    )
    return (
        inter.select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components of an undirected pair graph by min-label
    propagation: every node ends up labeled with the smallest id
    reachable from it. Returns (id, component).

    Each round, a node adopts min(own label, neighbors' labels) —
    convergence in O(graph diameter) rounds; near-dup graphs are
    overwhelmingly tiny cliques/chains, so 2-3 rounds typical. All
    DataFrame ops (edges are shuffled on node id; labels are the only
    state), ``localCheckpoint`` per round truncates the otherwise
    exponentially growing lineage, and the round's changed-label count
    is observed on that same job. Raises if ``max_iter`` rounds don't
    converge rather than returning a half-merged labeling.
    """
    # undirected: keep both orientations so labels flow both ways.
    # (A pre-repartition("src") before the checkpoint was measured and
    # reverted: LogicalRDD does not surface the partitioning to
    # Catalyst, so every round's join re-exchanges the edges
    # regardless — the edge shuffle per round is the accepted cost of
    # DataFrame-level label propagation; rounds are few for dedup
    # graphs.)
    fwd = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    # The EDGE checkpoint is DISK_ONLY: a clone-heavy near-dup graph's
    # pair list is superlinear in clone-cluster size (each k-clique
    # emits k^2 edges after doubling), and MEMORY_AND_DISK checkpoint
    # blocks for a few-hundred-million-edge graph exhausted the
    # 100x/4GB heap while tasks were still building them (measured
    # live, r11 — Java heap space in the checkpoint job). The small
    # per-round LABEL checkpoints below stay memory-resident: they are
    # one narrow row per NODE, linear in the corpus.
    from pyspark.storagelevel import StorageLevel

    # EAGER (r12): the first label round's two shuffle stages (the
    # edge-side and the label-init side of the join) launch
    # CONCURRENTLY under AQE, and with a lazy checkpoint each raced to
    # compute the unmaterialized edge blocks — the ENTIRE upstream
    # pair build ran twice, concurrently (measured: twin 1.6 s jobs at
    # the head of p_curation_pipeline). CC executes at build time
    # regardless (the per-round eager label checkpoints), so eagerness
    # here adds no new build-time execution, it only serializes the
    # edge materialization to exactly once.
    edges = (
        fwd.unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    for _ in range(max_iter):
        # smallest label among each node's neighbors this round
        neighbor_min = (
            edges.join(labels, edges.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("component").alias("nbr_min"))
        )
        # The convergence count rides the checkpoint's job as an
        # Observation: one job per round, not a second action.
        obs = Observation()
        labels = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
                (F.col("nbr_min") < F.col("component")).alias("__chg"),
            )
            .observe(obs, F.count_if("__chg").alias("changed"))
            .localCheckpoint(eager=True)
            .drop("__chg")
        )
        if obs.get["changed"] == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — "
        "graph diameter exceeds the bound; raise max_iter"
    )


def minhash_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    transitive: bool = False,
    **kw,
) -> DataFrame:
    """Drop near-duplicates, keeping the min-id representative of each
    duplicate group.

    ``transitive=False`` (default): single-link one hop — any doc that
    is the larger id of some pair is dropped. One pass, fully lazy, but
    a chain A≈B≈C (where A≉C directly) keeps only A while B and C both
    drop — representatives are consistent, yet two docs whose
    similarity is only chain-mediated never merge under a different
    pairing order.

    ``transitive=True``: connected components of the pair graph to a
    fixed point (min-label propagation), keeping exactly the component-
    min representative — a chain A≈B≈C of any length collapses to {A}.
    Runs iterative jobs at call time (not lazy)."""
    pairs = minhash_neardup_pairs(docs, id_col, text_col, threshold=threshold, **kw)
    if transitive:
        comp = connected_components(pairs)
        losers = comp.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias(id_col)
        )
    else:
        losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return docs.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(text: Column, bits: int = 64) -> Column:
    """Charikar SimHash over whitespace tokens: bit b of the signature
    is the sign of Σ_tokens (±1 per token-hash bit b). Near-duplicate
    docs differ in few bits (small Hamming distance).

    EXPRESSION form — ``bits`` interpreted higher-order-function folds
    per row, each of which re-inlines the tokenize+hash subtree after
    projection collapse (the blowup this module documents at
    ``word_ngrams``/``minhash_signatures``). Kept for per-column use on
    small data and as the parity oracle for ``simhash_signatures``,
    which is the scalable whole-table path."""
    tokens = F.filter(F.split(F.lower(text), "\\s+"), lambda w: F.length(w) > 0)
    hashes = F.transform(tokens, lambda t: F.xxhash64(t))
    bit_sums = [
        F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + (F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1).cast("int"),
        )
        for b in range(bits)
    ]
    out = F.lit(0).cast("long")
    for b, s in enumerate(bit_sums):
        # shiftleft instead of 2**b: 2**63 overflows a signed long literal
        out = out + F.when(s > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(F.lit(0).cast("long"))
    return out


def simhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
) -> DataFrame:
    """Whole-table SimHash via explode → codegen'd 64-way sign-bit sum
    aggregation (the ``_min_agg_signatures`` pattern, VERDICT r01
    item 4).

    Each token is string-hashed exactly ONCE; the per-bit ±1 sums run
    as 64 ``sum`` aggregates inside whole-stage-codegen'd hash
    aggregation with map-side partials, so the shuffle carries one
    64-wide row per doc. The expression form re-walks the token array
    64× per row through interpreted HOF folds — measured ~4× slower on
    the sf0.1 documents table.

    Zero-token docs (which explode drops) re-enter with the empty-sum
    signature 0, matching the expression form's sign(0)=unset bits.
    Returns (id_col, sig long)."""
    tokens = F.filter(
        F.split(F.lower(F.col(text_col)), "\\s+"), lambda w: F.length(w) > 0
    )
    from .. import catalog as _catalog

    docs = _catalog.spread_narrow(docs)
    tok = docs.select(F.col(id_col), F.explode(tokens).alias("t")).select(
        F.col(id_col), F.xxhash64(F.col("t")).alias("h")
    )
    sums = tok.groupBy(id_col).agg(
        *[
            F.sum(
                (F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1).cast(
                    "int"
                )
            ).alias(f"s_{b}")
            for b in range(bits)
        ]
    )
    sig = F.lit(0).cast("long")
    for b in range(bits):
        sig = sig + F.when(
            F.col(f"s_{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
    sigs = sums.select(F.col(id_col), sig.alias("sig"))
    # re-attach zero-token docs with the empty signature
    return docs.select(id_col).join(sigs, id_col, "left").na.fill({"sig": 0})


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_neardup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_chunks: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs via chunk banding: signatures within
    Hamming < n_chunks of each other are GUARANTEED to agree on ≥1
    chunk (pigeonhole); larger Hamming targets are caught
    probabilistically — raise ``n_chunks`` (8 chunks of 8 bits) to
    trade candidate volume for recall at higher ``max_hamming``."""
    chunk_bits = 64 // n_chunks
    mask = (1 << chunk_bits) - 1
    sigs = simhash_signatures(docs, id_col, text_col)
    chunks = sigs.select(
        id_col,
        "sig",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("sig"), chunk_bits * c)
                    .bitwiseAND(F.lit(mask))
                    .alias(f"c{c}")
                    for c in range(n_chunks)
                ]
            )
        ).alias("chunk", "cval"),
    )
    a = chunks.select("chunk", "cval", F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    b = chunks.select("chunk", "cval", F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    return (
        a.join(b, ["chunk", "cval"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            hamming64(F.col("sig_a"), F.col("sig_b")).cast("int").alias("hamming"),
        )
        # filter BEFORE distinct: hamming is deterministic per pair, so
        # the result is identical but the distinct's shuffle only
        # carries surviving pairs instead of every candidate duplicate
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (direct, for blocked/small candidate sets)
# ---------------------------------------------------------------------------


def word_ngrams(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams.

    Built by zip_with-ing the token array against its shifted slices
    (n-1 zips) rather than indexing with element_at inside a
    transform: lambda-captured expressions are re-inlined PER ELEMENT
    by projection collapse, so the element_at form re-tokenizes the
    text ~3·len times per row (measured ~40× slower). zip_with
    operands evaluate once per row; nulls from the shorter shifted
    slice propagate through concat and are filtered at the end."""
    toks = F.filter(F.split(F.lower(text), "\\s+"), lambda w: F.length(w) > 0)
    grams = toks
    for shift in range(1, n):
        shifted = F.slice(
            toks, shift + 1, F.greatest(F.size(toks), F.lit(1))
        )
        grams = F.zip_with(
            grams, shifted, lambda g, t: F.concat(g, F.lit(" "), t)
        )
    return F.array_distinct(F.filter(grams, lambda g: g.isNotNull()))


def ngram_jaccard_pairs(
    docs: DataFrame,
    block_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """All-pairs n-gram Jaccard within a blocking key (use when blocks
    are small; otherwise use minhash_neardup_pairs)."""
    g = docs.select(
        F.col(block_col).alias("block"),
        F.col(id_col),
        word_ngrams(F.col(text_col), n).alias("ng"),
    )
    a = g.select("block", F.col(id_col).alias("id_a"), F.col("ng").alias("ng_a"))
    b = g.select("block", F.col(id_col).alias("id_b"), F.col("ng").alias("ng_b"))
    return (
        a.join(b, "block")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "block",
            "id_a",
            "id_b",
            F.round(jaccard(F.col("ng_a"), F.col("ng_b")), 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_fn=None,
) -> tuple[DataFrame, DataFrame]:
    """Build the PERSISTABLE MinHash index of a corpus — the 100 TB
    maintenance story (VERDICT r04 item 6): dedup an INCOMING batch
    against an already-indexed corpus without recomputing the corpus.

    Returns two lazy DataFrames meant to be written as tables:
    ``postings`` (band, bucket, id) — the LSH band-bucket inverted
    index the incremental join probes — and ``shingles`` (id, sh) —
    the 31-bit hashed shingle arrays the exact-Jaccard verify step
    reads, so verification never touches corpus TEXT again. Both are
    narrow: postings is bands rows of 3 longs per doc; shingles is
    one long-array row per doc (the same representation
    minhash_neardup_pairs persists in-memory, made durable).

    Incremental maintenance is append-only: indexing a new batch is
    ``minhash_index(batch)`` unioned onto both tables — no global
    rebuild, no read-modify-write."""
    _check_bands("minhash_index", n_hashes, bands)
    shingles = _shingle_table(docs, id_col, text_col, k, shingle_fn)
    return _postings(shingles, n_hashes, bands), shingles


def _shingle_table(docs: DataFrame, id_col, text_col, k, shingle_fn):
    """The (id, sh) hashed-shingle table of ``minhash_index``."""
    fn = shingle_fn or (lambda c: char_shingles(c, k))
    return docs.select(
        F.col(id_col).alias("id"),
        hashed_shingles(fn(F.col(text_col))).alias("sh"),
    )


def _postings(shingles: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    """The (band, bucket, id) postings of a hashed-shingle table."""
    return _band_buckets(shingles, "id", n_hashes, bands).select(
        "band", "bucket", "id"
    )


def minhash_dedup_incremental(
    new_docs: DataFrame,
    postings: DataFrame,
    corpus_shingles: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    shingle_fn=None,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Near-dup pairs (new_id, corpus_id, jaccard) of an incoming
    batch against an INDEXED corpus (``minhash_index`` output read
    back as tables) — the corpus side is never re-shingled: the batch
    computes its own signatures, probes the band-bucket postings, and
    the verify join reads the stored hashed-shingle arrays.

    Scale shape: the probe join is new-batch-sized against the
    postings table on (band, bucket) — with a bucketed/partitioned
    postings layout this is an index lookup, not a corpus scan; the
    verify join touches only candidate corpus ids (semi-join
    pushdown via the candidate set). ``max_bucket_size`` caps
    boilerplate mega-buckets exactly as in minhash_neardup_pairs —
    computed on the POSTINGS side (index-time statistic, cheap to
    maintain incrementally)."""
    from pyspark.sql import Window

    _check_bands("minhash_dedup_incremental", n_hashes, bands)
    fn = shingle_fn or (lambda c: char_shingles(c, k))
    new_sh = _persist_tracked(
        new_docs.select(
            F.col(id_col).alias("new_id"),
            hashed_shingles(fn(F.col(text_col))).alias("sh"),
        )
    )
    probe = _band_buckets(new_sh, "new_id", n_hashes, bands)
    sized = postings.withColumn(
        "bucket_n", F.count("*").over(Window.partitionBy("band", "bucket"))
    ).filter(F.col("bucket_n") <= max_bucket_size)
    cands = (
        probe.join(sized, ["band", "bucket"])
        .filter(F.col("new_id") != F.col("id"))
        .select("new_id", F.col("id").alias("corpus_id"))
        .distinct()
    )
    verified = (
        cands.join(new_sh, "new_id")
        .join(
            corpus_shingles.select(
                F.col("id").alias("corpus_id"), F.col("sh").alias("sh_c")
            ),
            "corpus_id",
        )
        .select(
            "new_id",
            "corpus_id",
            F.round(jaccard(F.col("sh"), F.col("sh_c")), 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified


# ---------------------------------------------------------------------------
# Persisted MinHash index lifecycle (VERDICT r06 item 6): the on-disk
# build/append/probe/compact protocol every persisted index shares
# (operators/ledger.py), applied to the dedup index — without it, an
# incremental corpus that churns forever accumulates delta postings
# unboundedly. The MinHash index folds TWO tables per compaction
# (band-bucket postings + hashed-shingle arrays) under ONE commit
# point, so any crash leaves them mutually consistent.
# ---------------------------------------------------------------------------

#: The two tables a persisted MinHash index maintains: ``postings``
#: (band, bucket, id — the LSH inverted index probes hit) and
#: ``shingles`` (id, sh — the hashed-shingle arrays exact verification
#: reads, so verify never touches corpus text).
_MINHASH_TABLES = ("postings", "shingles")


def minhash_index_build(
    docs: DataFrame,
    base_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_fn=None,
) -> None:
    """Materialize :func:`minhash_index` as a new generation of the
    persisted on-disk index at ``base_dir`` (tables ``postings`` +
    ``shingles``, committed atomically by :func:`.ledger.build`) — the
    durable form the append/probe/compact lifecycle below maintains.
    The corpus is scanned and shingled once: ``shingles`` is written
    first and ``postings`` is derived from that staged table read back,
    with no persist. Both tables are narrow (3 longs per band per doc;
    one long-array row per doc)."""
    from .. import catalog as _catalog
    from . import ledger

    _check_bands("minhash_index_build", n_hashes, bands)
    shingles = _shingle_table(docs, id_col, text_col, k, shingle_fn)
    with ledger.build(base_dir) as root:
        shingles.write.parquet(f"{root}/shingles")
        staged = _catalog.read_parquet(docs.sparkSession, f"{root}/shingles")
        _postings(staged, n_hashes, bands).write.parquet(f"{root}/postings")


def minhash_index_append(
    base_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_fn=None,
):
    """foreachBatch sink: keep a persisted MinHash index fresh as new
    documents stream in — WITHOUT re-shingling the corpus. Each batch
    shingles/signs itself (one batch-sized scan) and lands as a delta
    directory holding BOTH subtables under the shared delta-index
    protocol (:func:`.ledger.delta_append_sink`: root ``_SUCCESS``
    commit marker, aborted-write redo on replay, ledger tombstones
    after compaction). The batch's hashed shingles are persisted (the
    module's tracked set; the next dedup call evicts them) and written
    first: that write fills the cache and the ``postings`` write reads
    it, so the batch is scanned and shingled once, in 3 jobs. Written
    the other way round, AQE materializes the cache as a job of its
    own (4)."""
    from . import ledger

    _check_bands("minhash_index_append", n_hashes, bands)

    def tables(batch_df: DataFrame, root: str) -> dict:
        postings, shingles = minhash_index(
            batch_df, id_col, text_col, k, n_hashes, bands, shingle_fn
        )
        # dict order is write order
        return {"shingles": _persist_tracked(shingles), "postings": postings}

    return ledger.delta_append_sink(base_dir, tables)


def _minhash_resolve(spark, base_dir: str) -> tuple[DataFrame, DataFrame]:
    """READ-ONLY snapshot resolution of a persisted MinHash index:
    (postings, shingles) via :func:`.ledger.resolve_delta_tables` —
    never mutates the directory; destructive recovery belongs to the
    compactor (the single writer)."""
    from . import ledger

    out = ledger.resolve_delta_tables(spark, base_dir, _MINHASH_TABLES)
    return out["postings"], out["shingles"]


def minhash_index_probe(
    new_docs: DataFrame,
    base_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    shingle_fn=None,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Dedup an incoming batch against the PERSISTED index: read-only
    snapshot of base + deltas → :func:`minhash_dedup_incremental`.
    Identical output before and after compaction (test- and
    driver-pinned): maintenance changes WHERE the postings live, never
    a result row."""
    _check_bands("minhash_index_probe", n_hashes, bands)
    postings, shingles = _minhash_resolve(new_docs.sparkSession, base_dir)
    return minhash_dedup_incremental(
        new_docs,
        postings,
        shingles,
        id_col,
        text_col,
        k,
        n_hashes,
        bands,
        threshold,
        shingle_fn,
        max_bucket_size,
    )


def minhash_index_compact(spark, base_dir: str) -> None:
    """Fold accumulated append deltas back into the base layout — the
    small-files maintenance step that keeps an eternally-churning
    incremental corpus bounded (VERDICT r06 item 6: without this,
    delta postings accumulate forever). Both subtables fold under ONE
    atomic ledger commit via :func:`.ledger.compact_delta_index`
    (version-then-swap; crash-recoverable at every step; ledger
    tombstones block replayed appends from double-inserting). Probe
    results are identical before and after (test- and driver-pinned);
    only the file layout changes — fewer, larger files, restoring scan
    efficiency after long append streaks."""
    from . import ledger

    ledger.compact_delta_index(spark, base_dir, _MINHASH_TABLES)


def decontaminate(
    corpus: DataFrame,
    probe: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_probe: bool = True,
) -> DataFrame:
    """Benchmark DECONTAMINATION (the GPT-3 appendix-C / PaLM
    discipline): flag every training document that shares at least one
    word ``n``-gram with a held-out probe set (benchmark / eval
    corpus), so evaluation data can be cut from the training mix.
    Returns (id, n_gram_hits, n_grams, hit_frac) for contaminated
    documents only — n_gram_hits counts the doc's DISTINCT shared
    grams, hit_frac = hits / distinct grams (1.0 = the whole document
    is benchmark text).

    Distinct from the dedup family: near-dup dedup asks "are these two
    documents similar", decontamination asks "does this document leak
    ANY probe n-gram" — exact, asymmetric, zero-tolerance (a 13-gram
    hit in GPT-3's recipe is a hit no matter how dissimilar the rest
    of the page is).

    Scale shape: the probe side is benchmark-sized — its distinct-gram
    set aggregates to a small table and BROADCASTS, so the corpus side
    is one scan + a broadcast hash semi-probe per gram, no corpus
    shuffle. For a probe too large to broadcast, drop the hint and the
    same plan becomes a shuffle join on the gram key (the corpus side
    still shuffles gram rows, never text). n-gram extraction is the
    shared zero-UDF word_ngrams expression."""
    g = corpus.select(
        F.col(id_col).alias("id"),
        word_ngrams(F.col(text_col), n).alias("ng"),
    ).select("id", F.size("ng").alias("n_grams"), F.explode("ng").alias("g"))
    probe_g = (
        probe.select(F.explode(word_ngrams(F.col(text_col), n)).alias("g"))
        .distinct()
    )
    # broadcast_probe=False is the big-benchmark shape the docstring
    # promises: the same plan becomes a shuffle join on the gram key
    # (corpus side shuffles gram rows, never text) — required when the
    # probe's distinct-gram set outgrows executor memory (a benchmark
    # side that scales with the corpus, as in p_curation_pipeline's
    # 20% split, eventually will; the broadcast form stays the default
    # for the real fixed-size-benchmark use)
    probe_side = F.broadcast(probe_g) if broadcast_probe else probe_g
    return (
        g.join(probe_side, "g")
        .groupBy("id", "n_grams")
        .agg(F.count("*").alias("n_gram_hits"))
        .select(
            "id",
            F.col("n_gram_hits").cast("long").alias("n_gram_hits"),
            F.col("n_grams").cast("long").alias("n_grams"),
            F.round(F.col("n_gram_hits") / F.col("n_grams"), 6).alias(
                "hit_frac"
            ),
        )
    )


def positional_word_ngrams(text: Column, n: int = 5) -> Column:
    """Word n-grams WITH positions preserved (``word_ngrams`` minus
    the distinct/compaction): element i is the n-gram starting at
    token i, null for the last n-1 slots (shorter shifted slices
    propagate nulls through concat). posexplode + isNotNull gives
    (pos, gram) rows whose pos is the true token offset — the input
    the span extractor needs."""
    toks = F.filter(F.split(F.lower(text), "\\s+"), lambda w: F.length(w) > 0)
    grams = toks
    for shift in range(1, n):
        shifted = F.slice(
            toks, shift + 1, F.greatest(F.size(toks), F.lit(1))
        )
        grams = F.zip_with(
            grams, shifted, lambda g, t: F.concat(g, F.lit(" "), t)
        )
    return grams


def repeated_span_extract(
    docs: DataFrame,
    n: int = 5,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MAXIMAL cross-document repeated spans — the Lee et al.
    "Deduplicating Training Data" extraction step itself, not just the
    per-doc shared fraction (dedup_span_fraction): for every document,
    the maximal token runs whose every word n-gram also appears in
    ≥ ``min_df`` documents. These spans are what a training-data
    pipeline actually cuts (or down-weights): boilerplate banners,
    licenses, templated paragraphs.

    Pipeline (all lazy, no UDF): positional n-grams per doc →
    document frequency over per-doc-DISTINCT grams (partial-agg'd;
    the df table is the small side) → keep positions whose gram is
    shared → gaps-and-islands per doc (pos − row_number, the same
    window arithmetic the BPE merge step uses) → one row per maximal
    island: (doc_id, span_start, span_len) with span_len counted in
    TOKENS (run length + n − 1, since a run of m consecutive shared
    n-grams covers m+n−1 tokens).

    Scale shape: the gram join is fact×df keyed on a 128-bit gram
    hash — Zipf-hot boilerplate grams are exactly AQE skew-join
    territory; the islands windows partition by doc_id (bounded
    per-doc work). r12 (§2.3 narrower types / fewer exchanges): the
    join used to carry the ~35-byte gram STRING; it now carries the
    16-byte two-seed xxhash64 composite (the duplicated_token_spans
    removal-mode key — span_cut DELETES text, so a single-64-bit
    collision could merge a unique gram into a shared group; the
    128-bit birthday bound is ~2^64 grams). The document-frequency
    side also dedupes grams WITHIN each doc map-side
    (array_distinct before the explode) instead of a full
    (doc_id, gram) distinct exchange — one exchange of the gram
    stream removed outright (§2.4). The oracle replays the readable
    string form; their equality at the oracle scales is what the
    cross-engine hash checks prove."""
    from pyspark.sql import Window

    ng = positional_word_ngrams(F.col(text_col), n)
    pg = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(ng).alias("pos", "gram"),
    ).filter(F.col("gram").isNotNull())
    pk = pg.select(
        "doc_id",
        "pos",
        F.xxhash64("gram").alias("k"),
        F.xxhash64(F.lit(0x9E3779B9), F.col("gram")).alias("k2"),
    )
    df_tbl = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.array_distinct(F.filter(ng, lambda g: g.isNotNull()))
            ).alias("gram"),
        )
        .select(
            F.xxhash64("gram").alias("k"),
            F.xxhash64(F.lit(0x9E3779B9), F.col("gram")).alias("k2"),
        )
        .groupBy("k", "k2")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_df)
    )
    # The df side SCALES WITH THE CORPUS (shared grams grow with the
    # doc count), so pin a shuffled hash join: near the broadcast
    # threshold AQE would otherwise pick BHJ from the compressed
    # shuffle size and the deserialized build can blow the driver —
    # observed as a broadcast OOM at the 100x/4 GB stress point. SHJ
    # builds per-partition (spillable) maps and keeps the Zipf-hot
    # gram skew inside AQE's skew-join handling.
    shared = pk.join(df_tbl.hint("shuffle_hash"), ["k", "k2"]).select(
        "doc_id", "pos"
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = shared.withColumn(
        "grp", F.col("pos") - F.row_number().over(w)
    )
    return runs.groupBy("doc_id", "grp").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") - F.min("pos") + F.lit(n)).cast("long").alias(
            "span_len"
        ),
    ).select("doc_id", "span_start", "span_len")


def repeated_span_cut(
    docs: DataFrame,
    n: int = 5,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply the Lee et al. cut: remove every maximal repeated span
    found by :func:`repeated_span_extract` from each document and
    reassemble the remaining tokens. Returns (doc_id, clean_text,
    n_tokens, n_removed) — n_tokens counts the SURVIVING tokens.

    A token at position p is removed when it lies inside any span
    [start, start+len): computed by joining the (sparse) span rows to
    the token stream per doc with a range predicate — spans per doc
    are few and short relative to the doc, so the join explodes by
    ~coverage, not |doc|² — then anti-selecting covered positions and
    rebuilding text with an ordered collect_list (per-doc grouping,
    bounded state). Docs with no tokens keep an empty clean_text via
    the left join + coalesce."""
    spans = repeated_span_extract(docs, n, min_df, id_col, text_col)
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.filter(
                F.split(F.lower(F.col(text_col)), "\\s+"),
                lambda w: F.length(w) > 0,
            )
        ).alias("pos", "sym"),
    )
    # spans / covered / rebuilt all SCALE WITH THE CORPUS — pin
    # SORT-MERGE joins: AQE broadcast of a near-threshold build side
    # OOM'd the 100x/4 GB stress point, and a shuffled-hash retry hit
    # "not enough memory to build hash map" on the per-partition build
    # (SHJ builds aren't fully spillable); SMJ sorts both sides and
    # spills freely. All three joins co-partition on doc_id, so the
    # sorted exchange of the token stream is reused.
    covered = (
        toks.join(spans.hint("merge"), "doc_id")
        .filter(
            (F.col("pos") >= F.col("span_start"))
            & (F.col("pos") < F.col("span_start") + F.col("span_len"))
        )
        .select("doc_id", "pos")
        .distinct()
    )
    kept = toks.join(
        covered.hint("merge"), ["doc_id", "pos"], "left_anti"
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ", F.array_sort(F.collect_list(F.struct("pos", "sym"))).sym
        ).alias("clean_text"),
        F.count("*").cast("long").alias("n_tokens"),
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(
            F.filter(
                F.split(F.lower(F.col(text_col)), "\\s+"),
                lambda w: F.length(w) > 0,
            )
        )
        .cast("long")
        .alias("n_orig"),
    )
    return base.join(rebuilt.hint("merge"), "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
        (F.col("n_orig") - F.coalesce(F.col("n_tokens"), F.lit(0)))
        .cast("long")
        .alias("n_removed"),
    )


# ---------------------------------------------------------------------------
# Exact-substring dedup (the Lee et al. "ExactSubstr" rung)
# ---------------------------------------------------------------------------


def duplicated_token_spans(
    docs: DataFrame,
    min_tokens: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_grams: bool = True,
    keep_first: bool = False,
) -> DataFrame:
    """EXACT-SUBSTRING duplication spans — the strongest dedup rung
    for training corpora (Lee et al., "Deduplicating Training Data
    Makes Language Models Better": remove any substring of >= N
    tokens that occurs elsewhere in the corpus). The suffix-array
    formulation is single-machine; the distributed equivalent used
    here is window-cover: a token belongs to a duplicated span iff
    some ``min_tokens``-token window containing it occurs at >= 2
    positions in the corpus (within- OR cross-document — both are
    duplication), and the union of covered windows, merged per
    document into maximal runs, is exactly the token set the
    suffix-array method removes.

    Shape: token posexplode -> positioned L-grams via lead()-window
    concat (L-1 leads over the per-doc window — whole-stage codegen;
    the zip_with-shift array build word_ngrams uses is interpreted
    per element and fell off a cliff at this depth: 4.2 s vs 0.7 s
    at sf0.1/L=20, measured — HOF nesting is fine at n<=13, not at
    20) -> one shuffle by gram key (window count — no second scan of
    the gram build) -> one shuffle by doc for the gaps-and-islands
    merge of covered windows. Returns SPAN-level rows
    (doc_id, n_tokens, span_start, span_tokens) — the removal-ready
    artifact a rewrite job joins back on doc_id.

    ``hash_grams=True`` (the 100 TB path) shuffles hash keys instead
    of ~6·L-char gram strings. In the AUDIT form (keep_first=False) a
    single 8-byte xxhash64 suffices: a collision merges two gram
    groups and can only ADD a span, never drop one — safe-direction
    error, and the marked set stays a superset of the true duplicate
    set. In the REMOVAL form (keep_first=True) that direction flips:
    a collision would merge a unique gram into another group's
    row_number partition and DELETE unique text, and at 100 TB the
    distinct-gram count (~2^43) is far past the 64-bit birthday bound
    (~2^32), so removal mode keys on a 128-bit composite (two
    independently-seeded xxhash64 values — birthday bound ~2^64,
    collision probability ~2^-42 at 2^43 grams): 16 bytes per shuffle
    row, still ~40x narrower than the gram string. The exact-string
    form (hash_grams=False) remains the belt-and-braces removal path
    and the oracle replay (DuckDB has no xxhash64); equality of the
    forms on the fixture is test-pinned.

    ``keep_first=False`` (the AUDIT form) marks every occurrence of a
    duplicated window; ``keep_first=True`` is the REMOVAL form Lee et
    al. actually apply — the corpus-first occurrence of each window
    (by (doc_id, pos)) is kept, so the returned spans are exactly the
    tokens a rewrite job deletes while one copy of every substring
    survives. Same shuffles: the occurrence count window becomes a
    row_number over the same gram key."""
    ln = min_tokens
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "\\s+"), lambda w: F.length(w) > 0
    )
    tok = docs.select(
        F.col(id_col).alias("doc_id"), F.posexplode(toks).alias("pos0", "w")
    )
    w_seq = Window.partitionBy("doc_id").orderBy("pos0")
    w_doc = Window.partitionBy("doc_id")
    # concat_ws skips nulls, so a short tail window would emit a
    # truncated gram — the fullwin guard keeps exactly the positions
    # 1..n-L+1 the oracle enumerates
    gram = F.concat_ws(
        " ", F.col("w"), *[F.lead("w", i).over(w_seq) for i in range(1, ln)]
    )
    g = tok.select(
        "doc_id",
        F.count("*").over(w_doc).alias("n_tokens"),
        (F.col("pos0") + 1).alias("pos"),
        gram.alias("gram"),
        F.lead("w", ln - 1).over(w_seq).isNotNull().alias("fullwin"),
    ).filter("fullwin")
    if keep_first:
        # removal mode: collisions delete unique text, so the hashed
        # key is the 128-bit composite (xxhash64 under two seeds via
        # a leading literal — independent mixes of the same string)
        key_cols = (
            [F.xxhash64("gram").alias("k"),
             F.xxhash64(F.lit(0x9E3779B9), F.col("gram")).alias("k2")]
            if hash_grams
            else [F.col("gram").alias("k"), F.lit(0).alias("k2")]
        )
        g = g.select("doc_id", "n_tokens", "pos", *key_cols)
        w_k = Window.partitionBy("k", "k2").orderBy("doc_id", "pos")
        cov = (
            g.withColumn("rn", F.row_number().over(w_k))
            .filter(F.col("rn") >= 2)
            .drop("k", "k2", "rn")
        )
    else:
        g = g.select(
            "doc_id",
            "n_tokens",
            "pos",
            (F.xxhash64("gram") if hash_grams else F.col("gram")).alias("k"),
        )
        w_k = Window.partitionBy("k")
        cov = (
            g.withColumn("occ", F.count("*").over(w_k))
            .filter(F.col("occ") >= 2)
            .drop("k", "occ")
        )
    w_d = Window.partitionBy("doc_id").orderBy("pos")
    isl = cov.withColumn(
        "brk",
        F.when(
            F.coalesce(
                F.col("pos") - F.lag("pos").over(w_d), F.lit(ln + 1)
            )
            > ln,
            1,
        ).otherwise(0),
    ).withColumn(
        "span",
        F.sum("brk").over(
            w_d.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return isl.groupBy("doc_id", "n_tokens", "span").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") - F.min("pos") + ln).alias("span_tokens"),
    ).select(
        F.col("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_tokens").cast("long").alias("span_tokens"),
    )
