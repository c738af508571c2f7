"""Persisted BM25 retrieval index — the third instantiation of the
shared delta-index maintenance protocol (:mod:`.ledger`; the other two
are the IVF ANN index in :mod:`.similarity` and the MinHash dedup
index in :mod:`.dedup`).

Why an index: the registered ``text_bm25`` query re-tokenizes the
corpus per keyword query. A curation pipeline that mines a crawl with
MANY topical queries pays the token-stream shuffle once at BUILD time
instead: the index persists

- ``postings`` (term, doc_id, tf) — clustered by term (repartition +
  sortWithinPartitions) so a query's term filter prunes parquet
  row-groups instead of scanning the full posting file;
- ``doclens`` (doc_id, dl) — the per-document lengths BM25's length
  normalization needs.

Global statistics (N, avgdl, per-term df) are NOT materialized: they
are one-row / |query-terms|-row aggregates derived lazily from the
resolved tables at query time, so appends never invalidate stored
stats — the freshness problem that makes naive indexed BM25 stale is
dissolved by construction. Query results are REQUIRED to equal the
from-scratch ``text_bm25`` computation exactly (same oracle string —
the registered ``text_bm25_indexed`` query is hash-checked against
it).

Incremental maintenance is the shared protocol: a build commits a new
generation atomically, streaming appends land as committed delta
directories, reads resolve base + committed deltas without mutating
anything, and compaction folds deltas under one atomic ledger commit
with tombstoned batch ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import ledger, text

#: The two tables a persisted BM25 index maintains.
_BM25_TABLES = ("postings", "doclens")


def _bm25_tables(
    docs: DataFrame, id_col: str, text_col: str
) -> dict[str, DataFrame]:
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        text.words(text_col).alias("ws"),
    )
    doclens = toks.select(
        "doc_id", F.size("ws").cast("long").alias("dl")
    )
    postings = (
        toks.select("doc_id", F.explode("ws").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    return {"postings": postings, "doclens": doclens}


def bm25_index_build(
    docs: DataFrame,
    base_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_files: int = 8,
) -> None:
    """Materialize the full-vocabulary index as a new generation at
    ``base_dir`` (:func:`.ledger.build`): one token-stream shuffle (the
    cost a per-query scan pays EVERY time), ``postings`` written
    term-clustered so query-time term filters prune row-groups via
    parquet min/max stats instead of reading the whole posting file."""
    t = _bm25_tables(docs, id_col, text_col)
    with ledger.build(base_dir) as root:
        t["postings"].repartition(n_files, "term").sortWithinPartitions(
            "term"
        ).write.parquet(f"{root}/postings")
        t["doclens"].write.parquet(f"{root}/doclens")


def bm25_index_append(
    base_dir: str, id_col: str = "doc_id", text_col: str = "text"
):
    """foreachBatch sink: tokenize ONLY the batch and land its postings
    + doclens as a committed delta (shared protocol:
    :func:`.ledger.delta_append_sink` — _SUCCESS commit marker,
    aborted-write redo, ledger tombstones after compaction). Stored
    global stats never go stale because none are stored — df/N/avgdl
    derive from the resolved tables at query time."""
    return ledger.delta_append_sink(
        base_dir, lambda batch, root: _bm25_tables(batch, id_col, text_col)
    )


def bm25_index_query(
    spark,
    base_dir: str,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Score every indexed document against ``terms`` — identical
    output to the from-scratch BM25 pass (driver-hash-pinned via
    ``text_bm25_indexed``), but the only corpus-sized work is a
    term-pruned postings read: the term filter is pushed to the
    clustered parquet scan, df is a |terms|-row aggregate OF THE
    FILTERED postings, and (N, avgdl) is a one-row aggregate of
    doclens — both broadcast. READ-ONLY on the index directory
    (resolve_delta_tables), so queries can race appends/compaction."""
    t = ledger.resolve_delta_tables(spark, base_dir, _BM25_TABLES)
    tf = t["postings"].filter(F.col("term").isin(terms))
    dl = t["doclens"]
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    stats = dl.agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl"))
    idf = F.log(1.0 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    tf_norm = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", (idf * tf_norm).alias("s"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("s"), 4).alias("bm25"))
    )


def bm25_index_compact(spark, base_dir: str) -> None:
    """Fold append deltas into the base layout (shared protocol:
    :func:`.ledger.compact_delta_index` — version-then-swap, one
    atomic ledger commit for both subtables, tombstoned batch ids,
    crash-recoverable at every step). Query results are identical
    before and after (test-pinned)."""
    ledger.compact_delta_index(spark, base_dir, _BM25_TABLES)
