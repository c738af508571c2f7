"""Text-analysis operators for LLM training-data pipelines
(SURVEY.md A14 [N]): token counting, quality scoring, language ID,
document fingerprinting.

All hot-path logic is built-in column expressions (JVM, whole-stage
codegen) — at 100 TB a Python UDF here would dominate the job. The
only data-dependent artifacts (stopword marker sets) are explicit
literals, not learned state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: BPE-ish pre-tokenization: alnum runs or single non-alnum-non-space
#: symbols (the GPT-2 pre-tokenizer's coarse shape, minus byte tricks).
TOKEN_REGEX = "[A-Za-z0-9]+|[^A-Za-z0-9\\s]"

#: Tiny per-language function-word markers for the n-gram/stopword
#: language heuristic. Deliberately small + explicit (an artifact, not
#: a model); extend per corpus.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "a", "that", "it", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "zu", "den"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une", "que", "pour"],
    "es": ["el", "la", "de", "que", "y", "los", "es", "un", "una", "por"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "不", "人", "这"],
}

STOPWORDS_EN = LANG_MARKERS["en"] + ["on", "with", "as", "at", "by", "an"]


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


# The word-level helpers take a column NAME and return one ``F.expr``:
# built from Python-lambda higher-order functions, the same expression
# costs one Py4J round trip per node and lambda variable at plan build,
# ~15-20 ms per higher-order function; the SQL text is parsed in one.


def _words_sql(text: str) -> str:
    return f"filter(split(lower(`{text}`), '\\\\s+'), w -> length(w) > 0)"


def words(text: str) -> Column:
    """Whitespace tokens of lowercased ``text`` (empty strings removed)."""
    return F.expr(_words_sql(text))


def token_count(text: Column) -> Column:
    """BPE-ish token count via the pre-tokenization regex.

    ``regexp_count`` (not ``size(regexp_extract_all(...))``): counting
    matches without materializing the match array saves one
    ArrayData of strings per row — at 100 TB the extract_all form
    allocates the whole token stream just to take its length."""
    return F.regexp_count(text, F.lit(TOKEN_REGEX)).cast("long")


def _stopword_ratio_sql(text: str, stopwords: list[str] | None = None) -> str:
    # try_divide: empty/whitespace-only docs have zero words; ANSI mode
    # (Spark 4 default) turns x/0 into a hard error, and real corpora
    # contain empty documents
    ws = _words_sql(text)
    sw = ", ".join(_sql_str(s) for s in (stopwords or STOPWORDS_EN))
    return (
        f"try_divide(size(filter({ws}, w -> array_contains(array({sw}), w))),"
        f" size({ws}))"
    )


def stopword_ratio(text: str, stopwords: list[str] | None = None) -> Column:
    return F.expr(_stopword_ratio_sql(text, stopwords))


def _punct_ratio_sql(text: str) -> str:
    punct = _sql_str("[^.,;:!?'\"()-]")
    return (
        f"try_divide(length(regexp_replace(`{text}`, {punct}, '')),"
        f" length(`{text}`))"
    )


def punct_ratio(text: str) -> Column:
    return F.expr(_punct_ratio_sql(text))


def _mean_word_len_sql(text: str) -> str:
    ws = _words_sql(text)
    return (
        f"try_divide(aggregate(transform({ws}, w -> CAST(length(w) AS DOUBLE)),"
        f" 0D, (acc, x) -> acc + x), size({ws}))"
    )


def mean_word_len(text: str) -> Column:
    return F.expr(_mean_word_len_sql(text))


def quality_score(text: str) -> Column:
    """Composite [0,1] heuristic quality: length in a sane band, words
    not too short/long, some stopword mass, punctuation not dominant.
    (The C4/Gopher-style rule family, expression-only.)"""
    n_words = f"size({_words_sql(text)})"
    mwl = _mean_word_len_sql(text)
    return F.expr(
        f"(CASE WHEN {n_words} >= 5 AND {n_words} <= 10000 THEN 1D ELSE 0D END"
        f" + CASE WHEN {mwl} >= 2D AND {mwl} <= 12D THEN 1D ELSE 0D END"
        f" + CASE WHEN {_stopword_ratio_sql(text)} >= 0.05D THEN 1D ELSE 0D END"
        f" + CASE WHEN {_punct_ratio_sql(text)} <= 0.2D THEN 1D ELSE 0D END) / 4D"
    )


def dup_line_fraction(text: Column) -> Column:
    """Fraction of non-empty lines that are duplicates of an earlier
    line (Gopher-style repetition signal: boilerplate/spam pages repeat
    nav lines and CTAs). Expression-only."""
    lines = F.filter(
        F.transform(F.split(text, "\n"), lambda l: F.trim(l)),
        lambda l: F.length(l) > 0,
    )
    return F.try_divide(
        (F.size(lines) - F.size(F.array_distinct(lines))).cast("double"),
        F.size(lines),
    )


def repeated_token_fraction(text: str) -> Column:
    """1 - distinct/total tokens: high values mean keyword-stuffed or
    looping text (another Gopher repetition rule). Expression-only."""
    ws = words(text)
    return F.try_divide(
        (F.size(ws) - F.size(F.array_distinct(ws))).cast("double"), F.size(ws)
    )


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the canonical form
    (lowercase, punctuation stripped, whitespace collapsed). The exact
    near-canonical dedup key — catches case/spacing/punct variants."""
    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(text), "[^a-z0-9\\s]", ""), "\\s+", " "
        )
    )
    return F.md5(canon)


def lang_scores(text: str) -> list[tuple[str, Column]]:
    """Per-language marker-hit ratio: the stopword ratio against each
    language's marker set."""
    return [
        (lang, stopword_ratio(text, markers))
        for lang, markers in LANG_MARKERS.items()
    ]


def lang_id(text: str, default: str = "und") -> Column:
    """Heuristic language ID: argmax of marker-hit ratios; ``und`` when
    nothing matches. Pure expressions — no UDF, no model file."""
    scores = lang_scores(text)
    best = scores[0][1]
    for _, s in scores[1:]:
        best = F.greatest(best, s)
    expr = F.lit(default)
    # build reverse so earlier langs win ties (deterministic order)
    for lang, s in reversed(scores):
        expr = F.when((s == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def profile(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One-pass text profile: id, token stats, quality, fingerprint,
    predicted language."""
    t = F.col(text_col)
    return docs.select(
        id_col,
        F.length(t).cast("long").alias("n_chars"),
        F.size(words(text_col)).cast("long").alias("n_words"),
        token_count(t).alias("n_tokens"),
        F.round(mean_word_len(text_col), 4).alias("mean_word_len"),
        F.round(stopword_ratio(text_col), 4).alias("stopword_ratio"),
        F.round(punct_ratio(text_col), 4).alias("punct_ratio"),
        F.round(quality_score(text_col), 2).alias("quality"),
        fingerprint(t).alias("fingerprint"),
        lang_id(text_col).alias("pred_lang"),
    )


def nfc_normalize_udf():
    """Unicode NFC normalization as an Arrow-vectorized pandas_udf.

    Spark has no built-in Unicode-normalization expression, so this is
    a sanctioned Python seam (SURVEY.md §2.10): one Arrow batch
    round-trip, `str` normalization vectorized per batch. Real corpora
    mix composed and decomposed forms (e.g. ``e`` + U+0301 vs ``é``);
    canonical-equivalent texts must fingerprint/dedup identically, so
    normalization belongs BEFORE fingerprinting in an intake pipeline.
    Cross-checked against DuckDB's ``nfc_normalize`` by the
    text_unicode_normalize oracle query.
    """
    import pandas as pd

    def nfc(s):
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    # real annotation objects: this module's `from __future__ import
    # annotations` would stringify inline hints, which pandas_udf's
    # signature inspection cannot resolve
    nfc.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return F.pandas_udf(nfc, "string")


def bpe_merge_rounds(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    return_tokens: bool = False,
) -> DataFrame:
    """Iterative BPE-style tokenizer induction: ``k`` merge rounds over
    the whitespace-token corpus, returning the chosen merge per round
    as (round, sym_a, sym_b, cnt) — the merge TABLE a tokenizer trainer
    emits, not just the first candidate list (the round-4 verdict's
    named gap in text_bigram_merges).

    Each round: count adjacent symbol pairs (lead() per doc — no
    self-join of the token stream), pick the (cnt DESC, sym_a ASC,
    sym_b ASC) winner, then apply the merge GREEDY LEFT-TO-RIGHT the
    way real BPE does — and the application is pure WINDOW arithmetic,
    no recursion and no Python: a candidate position matches when
    (sym, next) equals the winner; maximal runs of consecutive matches
    merge at even offsets only, which reduces to per-match-run parity —
    for sym_a ≠ sym_b every match is a singleton run, and for the
    self-adjacent sym_a = sym_b case ("a a a a" → "aa aa") the parity
    rule IS the greedy scan. The parity is computed as a RUN-START
    scan over the SAME (doc_id, pos) ordering every other window in
    the round uses (offset within run = running-match-count minus the
    run-start's running-match-count, carried by last(ignoreNulls)) —
    the round-11 optimization pass replaced the original
    gaps-and-islands (doc_id, pos − match-count) window, whose
    different partition key forced a SECOND sort of the token stream
    per round (guide §2.4: operations keyed the same way share one
    sort). The merged symbol is the space-join of
    its parts (whitespace tokens contain no spaces, so fused symbols
    can never collide with base tokens or with a different parse).
    A 1-row broadcast joins the winner into the token stream, so the
    whole k-round computation stays LAZY — the plan is inspectable
    and the driver never collects.

    Scale notes: every window partitions by doc_id (bounded per-doc
    work, never a global sort); pair counting is map-side partial;
    the winner is TakeOrdered(1). Survivor positions keep their
    ORIGINAL pos (gaps are fine: every window only needs a monotone
    per-doc sequence, and greedy adjacency is sequence order, not pos
    arithmetic) — so when rounds are PERSISTED each round's output leaves
    the round boundary already hash-partitioned by doc_id AND sorted
    by (doc_id, pos), and rounds after the first run ZERO sorts
    (round-11 measured: the renumbering row_number broke the
    sort-order carry and every round re-sorted). A CHECKPOINTED
    LogicalRDD carries neither property (Spark 4.1, repro'd r12),
    which is why the boundary carries ANN — see the in-loop comment.
    ``return_tokens`` output is renumbered dense 0..n-1 at the END
    (one extra window pass total, not per round) to keep its public
    contract.

    The round boundary is chosen from ``k`` and ``return_tokens``:

    - ``k > 3`` CHECKPOINTS every round. Each round's logical plan
      embeds the previous round's ~3 times (via the winner subtree and
      the stream), so the analyzed plan grows exponentially (measured
      38 KB at k=3 → 875 KB at k=6; k=16 would not even explain). A
      lazy persist bounds re-execution but not plan size;
      ``localCheckpoint(eager=False)`` per round truncates lineage at
      the LOGICAL level immediately — linear plan growth (measured
      ~1 KB/round flat, test-pinned). Honesty note on build-time
      laziness: the checkpoint itself defers data materialization, but
      converting each round's plan to the checkpoint RDD finalizes its
      AdaptiveSparkPlan, which runs the round's SHUFFLE STAGES as jobs
      at build time (bounded — O(k) stages over the token stream).
    - ``k <= 3`` with ``return_tokens`` PERSISTS each round's token
      stream lazily (build stays action-free — the build notes' laziness
      rule). The plan references round r's tokens from round r+1 twice
      (via the winner and via the stream), so without the cache
      execution work grows ~2^k (measured 3.6 → 2.78 s median at sf0.1
      for k=3). The cache is the token stream (MEMORY_AND_DISK, spills
      at corpus scale).
    - ``k <= 3`` returning the merge table adds NO cache: the
      per-round winner branches share their pair-count aggregate
      exchanges, so ReusedExchange already dedupes the heavy work and
      per-round cache fills only add jobs.

    The checkpoint path is the sanctioned inherently-iterative
    exception (the IVF-quantizer precedent):
    depth is impossible without lineage cuts, and every lineage cut
    in Spark executes. The checkpointed round RDDs live on executor
    block storage; at 100 TB this is the same trade every iterative
    Spark algorithm makes (pagerank, operators/graph.py).

    ``return_tokens=True`` returns the TOKENIZED corpus after the k
    merges — (doc_id, pos, sym) rows — i.e. "apply the trained
    tokenizer", the other half of tokenizer induction. Note the final
    round's merge is then applied too (k merges learned, k merges
    applied), whereas the merge-table output stops at choosing round
    k's winner."""
    from pyspark.sql import Window

    from .. import catalog as _catalog

    if k < 1:
        raise ValueError(f"bpe_merge_rounds needs k >= 1, got {k}")
    # The round boundary (see the docstring). k > 3: lineage growth is
    # the binding constraint, checkpoint every round. k <= 3 merge
    # table: ReusedExchange already shares the winner branches' pair
    # counts, and per-round cache fills only added jobs (r11
    # interleaved A/B: no-persist 2.3-2.6 s vs persist 2.5-3.0 s
    # steady, first run 3.5 vs 11.2 s). k <= 3 token stream: measured
    # FASTER with persist.
    checkpoint = k > 3
    persist = return_tokens and not checkpoint
    base = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col))
    # ONE exchange up front: hashpartitioning(doc_id, n) satisfies every
    # round's window ClusteredDistribution, and the per-round lazy
    # persists pin THIS partitioning instead of the session default (a
    # plain driver session's 200 shuffle partitions otherwise run 200
    # tiny tasks per window pass per round — cached plans block AQE
    # coalescing; VERDICT r10 item 6, measured 71 s -> bounded at sf0.01
    # --plain). n grows one partition per 4 MB of the input's plan
    # statistics, floored at defaultParallelism (catalog.est_width).
    # The exchange sits BELOW the explode (r12, guide §2.3): it moves
    # document text (narrower than the exploded per-token rows) and the
    # explode itself then runs n-wide instead of as one serial task per
    # scan split; Generate preserves the hash partitioning, so the
    # windows still see it.
    base = base.repartition(_catalog.est_width(base, 4 << 20), "doc_id")
    tok = base.select(
        "doc_id",
        F.posexplode(words(text_col)).alias("pos", "sym"),
    )
    from .dedup import _persist_tracked

    w = Window.partitionBy("doc_id").orderBy("pos")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rounds = []
    # The round boundary carries ANN — the token stream WITH its lead
    # column (doc_id, pos, sym, nxt) — not the bare stream (r12
    # optimization, guide §2.4/§5): a checkpointed LogicalRDD carries
    # NEITHER partitioning NOR ordering in Spark 4.1 (verified by
    # repro), so with the boundary before the lead window BOTH
    # per-round consumers (the pair-count aggregate and the apply)
    # re-sorted the full stream — two concurrent ~equal stages per
    # round, measured as the twin 0.4 s jobs that dominated k16's
    # wall. With nxt computed in the PREVIOUS round's window pass
    # (same (doc_id, pos) sort — free), the winner aggregate becomes
    # sort-free (partial agg straight off the boundary scan) and the
    # sort+window work runs ONCE per round, in the apply.
    ann = tok.withColumn("nxt", F.lead("sym").over(w))
    for r in range(k):
        if checkpoint:
            # Round 0 IS checkpointed even though there is no lineage
            # to cut yet: the winner's persisted 1-row plan and the
            # apply run as SEPARATE AQE plan instances, and exchange
            # reuse never crosses plan instances — without the cut each
            # re-ran the explode+sort (measured: twin 1.7 s single-task
            # jobs at round 0).
            # DISK_ONLY (r12): the checkpointed round boundary IS the
            # corpus-scaled token stream — memory-resident checkpoint
            # blocks starved execution memory at the 100x/4GB stress
            # point (UNABLE_TO_ACQUIRE_MEMORY in the round-window sort;
            # same failure class as the r11 curation-pipeline lesson:
            # corpus payloads to disk, narrow state in memory).
            from pyspark.storagelevel import StorageLevel

            ann = ann.localCheckpoint(
                eager=False, storageLevel=StorageLevel.DISK_ONLY
            )
        elif persist:
            ann = _persist_tracked(ann, fresh=(r == 0))
        counts = (
            ann.filter(F.col("nxt").isNotNull())
            .groupBy(F.col("sym").alias("a"), F.col("nxt").alias("b"))
            .agg(F.count("*").alias("cnt"))
        )
        top1 = counts.orderBy(
            F.desc("cnt"), F.asc("a"), F.asc("b")
        ).limit(1)
        if persist or checkpoint:
            # The 1-row winner is referenced TWICE: by the apply's
            # broadcast and by the final merge-table union. Without its
            # own (lazy, tiny) persist the union re-runs every round's
            # pair-count aggregate over the round cache — k extra full
            # passes over the token stream (guide §5: cache exactly the
            # reused-and-expensive intermediates). fresh only on the
            # checkpoint path's FIRST persist (the persist path's round-0
            # tok cache already evicted prior operator caches).
            top1 = _persist_tracked(top1, fresh=(checkpoint and r == 0))
        rounds.append(
            top1.select(
                F.lit(r + 1).cast("long").alias("round"),
                F.col("a").alias("sym_a"),
                F.col("b").alias("sym_b"),
                F.col("cnt"),
            )
        )
        if r == k - 1 and not return_tokens:
            break
        t = ann.crossJoin(F.broadcast(top1.select("a", "b")))
        t = t.withColumn(
            "mt",
            F.when(
                (F.col("sym") == F.col("a")) & (F.col("nxt") == F.col("b")),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        # Greedy-scan parity over ONE ordering: mc = running match
        # count; a match row starts a run when the previous row did not
        # match; carry the run-start's mc forward (last ignoreNulls) —
        # offset-in-run = mc − mc_at_run_start, merge at even offsets.
        # All four window expressions share w's (doc_id, pos) sort, so
        # the whole apply is ONE sort (zero once the round boundary
        # already carries the order — see the docstring).
        t = t.withColumn("mc", F.sum("mt").over(wsum))
        t = t.withColumn(
            "pmt", F.coalesce(F.lag("mt").over(w), F.lit(0))
        )
        t = t.withColumn(
            "rs",
            F.when((F.col("mt") == 1) & (F.col("pmt") == 0), F.col("mc")),
        )
        t = t.withColumn(
            "mcrs", F.last("rs", ignorenulls=True).over(wsum)
        )
        t = t.withColumn(
            "sel",
            F.when(
                (F.col("mt") == 1)
                & (
                    F.pmod(F.col("mc") - F.col("mcrs"), F.lit(2))
                    == 0
                ),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        t = t.withColumn("psel", F.coalesce(F.lag("sel").over(w), F.lit(0)))
        surv = t.filter(F.col("psel") == 0).select(
            "doc_id",
            "pos",
            F.when(
                F.col("sel") == 1, F.concat_ws(" ", F.col("sym"), F.col("b"))
            )
            .otherwise(F.col("sym"))
            .alias("sym"),
        )
        # next round's lead, fused into THIS round's sorted pass
        # (filter/project preserve the (doc_id, pos) ordering)
        ann = surv.withColumn("nxt", F.lead("sym").over(w))
    if return_tokens:
        # public contract: dense 0..n-1 positions (internal rounds keep
        # the gapped originals so the sort order carries across rounds)
        return ann.select(
            "doc_id", (F.row_number().over(w) - 1).alias("pos"), "sym"
        )
    out = rounds[0]
    for rdf in rounds[1:]:
        out = out.unionByName(rdf)
    return out


def chunk_tokens(
    text: str, size: int = 64, stride: int = 48
) -> Column:
    """Fixed-size overlapping token windows — the CHUNKING step every
    retrieval / pretraining pipeline applies before embedding or
    packing: window i covers tokens [i·stride, i·stride + size). The
    final partial window is kept (standard practice — dropping it
    loses document tails). Returns an array of structs
    (chunk_id, n_tokens, chunk_text); pure expressions
    (sequence + slice + array_join), zero shuffle, zero UDF — at 100 TB
    chunking is a map-only pass whose output feeds repartitioning by
    chunk count, never the other way around."""
    toks = words(text)
    # coalesce: size(NULL array) is NULL (or -1 under the legacy conf),
    # and least/greatest IGNORE nulls, so an unguarded NULL text would
    # fabricate one phantom 64-token chunk with NULL body (caught by
    # the null-input test)
    n = F.coalesce(F.size(toks), F.lit(0))
    n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
        F.floor((F.greatest(n - size, F.lit(0)) + stride - 1) / stride) + 1
    )
    # guard the empty case explicitly: sequence(0, -1) DESCENDS in
    # Spark (step defaults to -1 when start > stop), so an empty doc
    # would otherwise fabricate two phantom chunks
    return F.when(n_chunks <= 0, F.array()).otherwise(F.transform(
        F.sequence(F.lit(0), n_chunks.cast("int") - 1),
        lambda i: F.struct(
            i.cast("long").alias("chunk_id"),
            F.least(n - i * stride, F.lit(size))
            .cast("long")
            .alias("n_tokens"),
            F.array_join(
                F.slice(toks, i * stride + 1, size), " "
            ).alias("chunk_text"),
        ),
    ))
