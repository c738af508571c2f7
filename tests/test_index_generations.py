"""Index builds commit through the ledger as one atomic generation swap
(operators/ledger.build), for all five persisted indexes: a rebuild
serves exactly its own corpus and accepts batch ids the old generation
had folded, and a build that dies at any of its writes leaves the old
index serving identical rows."""

from __future__ import annotations

import os
import re
import shutil
from typing import Callable, NamedTuple

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from end_to_end_mlops_airflow_cloudformation_great_expectations_spark import (
    catalog,
)
from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.operators import (
    dedup,
    ledger,
    similarity,
    textindex,
)
from tests.conftest import SF_DIR


def _docs(spark, lo, hi):
    d = catalog.load(spark, SF_DIR, "documents")
    return d.filter(F.col("doc_id").between(lo, hi - 1))


def _vecs(spark, lo, hi):
    e = catalog.load(spark, SF_DIR, "embeddings")
    return e.filter(F.col("vec_id").between(lo, hi - 1))


def _ivf_rows(spark, lo, hi):
    return _vecs(spark, lo, hi).select(
        F.col("vec_id").alias("neighbor_id"),
        similarity._as_double(F.col("embedding")).alias("cv"),
    )


class Index(NamedTuple):
    tables: tuple
    corpus: Callable  # (spark, lo, hi) -> build input
    batch: Callable  # (spark, lo, hi) -> append input
    build: Callable  # (df, base_dir)
    sink: Callable  # base_dir -> foreachBatch sink
    compact: Callable  # (spark, base_dir)
    query: Callable  # (spark, base_dir) -> search / probe output
    writes: int  # parquet writes + params write + the _CURRENT swap


INDEXES = {
    "minhash": Index(
        dedup._MINHASH_TABLES,
        _docs,
        _docs,
        dedup.minhash_index_build,
        dedup.minhash_index_append,
        dedup.minhash_index_compact,
        lambda spark, base: dedup.minhash_index_probe(
            _docs(spark, 400, 440), base, threshold=0.3
        ),
        3,
    ),
    "bm25": Index(
        textindex._BM25_TABLES,
        _docs,
        _docs,
        textindex.bm25_index_build,
        textindex.bm25_index_append,
        textindex.bm25_index_compact,
        lambda spark, base: textindex.bm25_index_query(
            spark, base, ["data", "table", "fast"]
        ),
        3,
    ),
    "ivf": Index(
        similarity._IVF_TABLES,
        _vecs,
        _ivf_rows,
        lambda df, base: similarity.ivf_index_build(
            df, base, n_centroids=4, max_iter=2
        ),
        similarity.ivf_index_append,
        similarity.ivf_index_compact,
        lambda spark, base: similarity.ivf_index_search(
            _vecs(spark, 0, 10), base, k=3, n_probe=2
        ),
        3,
    ),
    "embdedup": Index(
        similarity._EMBDEDUP_TABLES,
        _vecs,
        _vecs,
        similarity.embdedup_index_build,
        similarity.embdedup_index_append,
        similarity.embdedup_index_compact,
        lambda spark, base: similarity.embdedup_index_probe(
            _vecs(spark, 400, 440), base, threshold=0.35
        ),
        4,
    ),
    "hnsw": Index(
        similarity._HNSW_TABLES,
        _vecs,
        _vecs,
        lambda df, base: similarity.hnsw_index_build(
            df, base, m=4, n_tables=4, n_entry=4, beam=8, rounds=1
        ),
        similarity.hnsw_index_append,
        similarity.hnsw_index_compact,
        lambda spark, base: similarity.hnsw_index_search(
            spark,
            base,
            _vecs(spark, 0, 10).withColumnRenamed("vec_id", "query_id"),
            k=3,
        ),
        4,
    ),
}


def _state(spark, ix: Index, base: str) -> dict:
    """Every resolved table's rows plus the search / probe output."""
    out = {
        name: sorted(tuple(r) for r in df.collect())
        for name, df in ledger.resolve_delta_tables(
            spark, base, ix.tables
        ).items()
    }
    out["query"] = sorted(tuple(r) for r in ix.query(spark, base).collect())
    return out


def _generations(base: str) -> list:
    return sorted(d for d in os.listdir(base) if re.fullmatch(r"g\d+", d))


class _Injected(Exception):
    pass


def _fail_at(monkeypatch, k: int) -> None:
    """Make the ``k``-th write of the next build raise: its parquet
    writes in order, then the params write and the ``_CURRENT`` swap
    (both ``ledger._write_atomic``)."""
    calls = []

    def counted(real):
        def write(*args, **kwargs):
            calls.append(1)
            if len(calls) == k:
                raise _Injected
            return real(*args, **kwargs)

        return write

    monkeypatch.setattr(DataFrameWriter, "parquet", counted(DataFrameWriter.parquet))
    monkeypatch.setattr(ledger, "_write_atomic", counted(ledger._write_atomic))


def _files(base: str) -> dict:
    """Every file under ``base`` with its size and modification time."""
    out = {}
    for root, _, names in os.walk(base):
        for n in names:
            st = os.stat(os.path.join(root, n))
            out[os.path.join(root, n)] = (st.st_size, st.st_mtime_ns)
    return out


@pytest.mark.parametrize("name", list(INDEXES))
def test_rebuild_serves_only_the_new_corpus_and_survives_crashes(
    spark, tmp_path, monkeypatch, name
):
    """Rebuild: build, append b0, compact, append b1, rebuild over a
    smaller corpus, then append a new batch as id 0 through the SAME
    sink: the index equals a fresh index over the rebuild corpus plus
    that batch. (A rebuild that kept the old deltas and ledger served
    b1's rows and dropped the new batch 0 as already folded.) The
    rebuild is left as a crash after its swap, before the old
    generation is retired: the new generation serves all the same.

    Crashes: the next build removes that orphan on entry; a build
    failing at each of its writes in turn leaves every file of the live
    generation untouched and no other generation behind, so the index
    still searches or probes with identical rows; a following build
    succeeds with exactly one generation."""
    ix = INDEXES[name]
    base, fresh = str(tmp_path / "idx"), str(tmp_path / "fresh")
    ix.build(ix.corpus(spark, 0, 120), base)
    sink = ix.sink(base)
    sink(ix.batch(spark, 120, 140), 0)
    ix.compact(spark, base)
    sink(ix.batch(spark, 140, 160), 1)
    # manufacture the crash state: the old generation (base, delta b1,
    # ledger listing b0) still on disk after the rebuild's swap
    old = {g: str(tmp_path / "old" / g) for g in _generations(base)}
    for g, keep in old.items():
        shutil.copytree(os.path.join(base, g), keep)
    ix.build(ix.corpus(spark, 0, 40), base)
    for g, keep in old.items():
        shutil.copytree(keep, os.path.join(base, g))
    sink(ix.batch(spark, 200, 220), 0)

    ix.build(ix.corpus(spark, 0, 40), fresh)
    ix.sink(fresh)(ix.batch(spark, 200, 220), 0)
    want = _state(spark, ix, fresh)
    assert _state(spark, ix, base) == want
    assert len(_generations(base)) == 2  # the old one is an orphan

    live = ledger.current(base)
    files = _files(live)
    for k in range(1, ix.writes + 1):
        with monkeypatch.context() as m:
            _fail_at(m, k)
            with pytest.raises(_Injected):
                ix.build(ix.corpus(spark, 0, 40), base)
        assert _generations(base) == [os.path.basename(live)], k
        assert ledger.current(base) == live and _files(live) == files, k
    assert _state(spark, ix, base) == want
    ix.build(ix.corpus(spark, 0, 40), base)
    assert len(_generations(base)) == 1


def test_read_of_an_unbuilt_index_names_it(spark, tmp_path):
    """A directory without ``_CURRENT`` (never built, or written before
    generations existed) is refused with an error naming it."""
    base = str(tmp_path / "flat")
    os.makedirs(os.path.join(base, "postings"))
    with pytest.raises(FileNotFoundError, match="no index built at .*flat"):
        dedup.minhash_index_probe(_docs(spark, 0, 10), base)
