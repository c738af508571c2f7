"""Persisted MinHash index lifecycle (VERDICT r06 item 6): the
build/append/probe/compact protocol of operators/dedup.py, including
crash recovery and the read-only probe path — the same contract suite
the IVF index has in test_llm_ops.py, applied to the dedup index.
Every test pins probe-result INVARIANCE: maintenance changes where the
postings/shingle tables live, never an emitted pair."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from end_to_end_mlops_airflow_cloudformation_great_expectations_spark import (
    catalog,
)
from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.operators import (
    dedup,
    ledger,
)
from tests.conftest import SF_DIR, build_jobs



def _tri(c):
    return dedup.word_ngrams(c, 3)


def _probe_rows(spark, probe, base):
    return sorted(
        tuple(x)
        for x in dedup.minhash_index_probe(
            probe, base, threshold=0.3, shingle_fn=_tri
        ).collect()
    )


def _mh_fixture(spark, tmp_path, name):
    """Index doc_id<150, append 150–250 as two delta batches; return
    (base_dir, probe_df, truth) where truth = probe rows every
    maintenance/recovery path must reproduce exactly."""
    d = catalog.load(spark, SF_DIR, "documents")
    base = str(tmp_path / name)
    dedup.minhash_index_build(
        d.filter(F.col("doc_id") < 150), base, shingle_fn=_tri
    )
    sink = dedup.minhash_index_append(base, shingle_fn=_tri)
    sink(d.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 200)), 0)
    sink(d.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 250)), 1)
    probe = d.filter((F.col("doc_id") >= 250) & (F.col("doc_id") < 350))
    truth = _probe_rows(spark, probe, base)
    assert truth  # nonvacuous: real pairs exist at the fixture scale
    return base, probe, truth


def test_probe_equals_one_shot_index(spark, tmp_path):
    """Incremental build+append sees exactly what a one-shot index of
    the same corpus sees — and at the fixture scale at least one pair's
    corpus side lives in an appended delta, so deltas are provably
    probed."""
    base, probe, truth = _mh_fixture(spark, tmp_path, "mh_oneshot")
    d = catalog.load(spark, SF_DIR, "documents")
    one = str(tmp_path / "mh_oneshot_twin")
    dedup.minhash_index_build(
        d.filter(F.col("doc_id") < 250), one, shingle_fn=_tri
    )
    assert _probe_rows(spark, probe, one) == truth
    assert any(corpus_id >= 150 for _, corpus_id, _ in truth)


#: Spark jobs of one MinHash index build: the ``shingles`` write, the
#: footer-schema inference of reading it back (the first probe of the
#: generation then runs none for it), and the two-stage ``postings``
#: write over the staged shingles. Deriving ``postings`` from the
#: documents instead shingles the corpus a second time (3 jobs).
_MINHASH_BUILD_JOBS = 4


def test_minhash_build_shingles_the_corpus_once(spark, tmp_path):
    d = catalog.load(spark, SF_DIR, "documents")
    base = str(tmp_path / "mh_build")
    jobs = build_jobs(
        spark, lambda: dedup.minhash_index_build(d, base), "minhash-build"
    )
    assert len(jobs) == _MINHASH_BUILD_JOBS, jobs


def test_compact_preserves_probe_and_folds_layout(spark, tmp_path):
    """Compaction folds both subtables into the base, drops the delta
    dirs, tombstones the batch ids — and changes zero probe rows."""
    base, probe, truth = _mh_fixture(spark, tmp_path, "mh_compact")
    dedup.minhash_index_compact(spark, base)
    assert _probe_rows(spark, probe, base) == truth
    root = ledger.current(base)
    assert not os.path.isdir(os.path.join(root, "delta"))
    assert not os.path.isdir(os.path.join(root, "postings_new"))
    assert not os.path.isdir(os.path.join(root, "shingles_new"))
    with open(os.path.join(root, "compacted_deltas.txt")) as fh:
        assert set(fh.read().split()) == {"b0", "b1"}
    # idempotent: nothing left to fold
    dedup.minhash_index_compact(spark, base)
    assert _probe_rows(spark, probe, base) == truth


def test_append_replay_after_compaction_is_noop(spark, tmp_path):
    """A re-delivered batch id that compaction already folded must hit
    the ledger tombstone and no-op — replaying it as a fresh delta
    would double-insert its postings."""
    d = catalog.load(spark, SF_DIR, "documents")
    base, probe, truth = _mh_fixture(spark, tmp_path, "mh_replay")
    dedup.minhash_index_compact(spark, base)
    sink = dedup.minhash_index_append(base, shingle_fn=_tri)
    sink(d.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 200)), 0)
    assert not os.path.isdir(os.path.join(ledger.current(base), "delta"))
    assert _probe_rows(spark, probe, base) == truth


def test_append_partial_delta_is_redone(spark, tmp_path):
    """A crash between the two subtable writes leaves a delta without
    the root _SUCCESS: probes must skip it (a half-applied batch would
    emit pairs whose shingle rows are missing) and the replay must
    re-apply, not no-op."""
    d = catalog.load(spark, SF_DIR, "documents")
    base, probe, truth = _mh_fixture(spark, tmp_path, "mh_partial")
    batch2 = d.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 250))
    delta = os.path.join(ledger.current(base), "delta", "b1")
    os.remove(os.path.join(delta, "_SUCCESS"))
    shutil.rmtree(os.path.join(delta, "shingles"))
    partial_view = _probe_rows(spark, probe, base)
    assert partial_view != truth  # b1's pairs invisible, not half-applied
    sink = dedup.minhash_index_append(base, shingle_fn=_tri)
    sink(batch2, 1)
    assert os.path.exists(os.path.join(delta, "_SUCCESS"))
    assert _probe_rows(spark, probe, base) == truth


def test_compact_precommit_crash_rolls_back(spark, tmp_path):
    """Fully-materialized _new tables but NO ledger entry: the probe
    (read-only) ignores them and keeps base+deltas authoritative; the
    writer's recovery rolls them back and a re-run compact converges."""
    base, probe, truth = _mh_fixture(spark, tmp_path, "mh_precommit")
    twin = str(tmp_path / "mh_precommit_twin")
    shutil.copytree(base, twin)
    dedup.minhash_index_compact(spark, twin)
    root, twin_root = ledger.current(base), ledger.current(twin)
    for t in ("postings", "shingles"):
        shutil.copytree(
            os.path.join(twin_root, t), os.path.join(root, f"{t}_new")
        )
        # manufacture the manifest a crashed compactor would have left
        with open(os.path.join(root, f"{t}_new", "_FOLDED"), "w") as fh:
            fh.write("b0\nb1\n")
    assert not os.path.isfile(os.path.join(root, "compacted_deltas.txt"))
    assert _probe_rows(spark, probe, base) == truth
    # read path is READ-ONLY: the crashed _new dirs survive the probe
    assert os.path.isdir(os.path.join(root, "postings_new"))
    dedup.minhash_index_compact(spark, base)
    assert not os.path.isdir(os.path.join(root, "postings_new"))
    assert not os.path.isdir(os.path.join(root, "shingles_new"))
    assert _probe_rows(spark, probe, base) == truth


def test_compact_postcommit_crash_rolls_forward(spark, tmp_path):
    """Ledger committed, swap not finished — including the HALF-SWAPPED
    state (postings folded into place, shingles_new still pending):
    the read-only probe must resolve a consistent snapshot at every
    point, and the writer's recovery finishes the swap."""
    base, probe, truth = _mh_fixture(spark, tmp_path, "mh_postcommit")
    twin = str(tmp_path / "mh_postcommit_twin")
    shutil.copytree(base, twin)
    dedup.minhash_index_compact(spark, twin)
    root, twin_root = ledger.current(base), ledger.current(twin)
    for t in ("postings", "shingles"):
        shutil.copytree(
            os.path.join(twin_root, t), os.path.join(root, f"{t}_new")
        )
        with open(os.path.join(root, f"{t}_new", "_FOLDED"), "w") as fh:
            fh.write("b0\nb1\n")
    with open(os.path.join(root, "compacted_deltas.txt"), "w") as fh:
        fh.write("b0\nb1\n")
    # state 1: both _new committed, neither swapped
    assert _probe_rows(spark, probe, base) == truth
    assert os.path.isdir(os.path.join(root, "postings_new"))  # read-only
    # state 2: half-swapped — postings done, shingles_new pending
    shutil.rmtree(os.path.join(root, "postings"))
    os.rename(
        os.path.join(root, "postings_new"), os.path.join(root, "postings")
    )
    assert _probe_rows(spark, probe, base) == truth
    dedup.minhash_index_compact(spark, base)  # writer finishes the swap
    assert not os.path.isdir(os.path.join(root, "shingles_new"))
    assert not os.path.isdir(os.path.join(root, "delta"))
    assert _probe_rows(spark, probe, base) == truth


def test_compact_preserves_inflight_partial_delta(spark, tmp_path):
    """Compact must not delete an unmarked (no-_SUCCESS) delta dir — it
    may be an append mid-write; only ledger-listed dirs are removable
    (the ADVICE r06 contract, same as the IVF side)."""
    d = catalog.load(spark, SF_DIR, "documents")
    base, probe, truth = _mh_fixture(spark, tmp_path, "mh_inflight")
    partial = os.path.join(ledger.current(base), "delta", "b7")
    os.makedirs(partial)
    dedup.minhash_index_compact(spark, base)  # real fold of b0+b1
    assert os.path.isdir(partial)
    assert _probe_rows(spark, probe, base) == truth
    dedup.minhash_index_compact(spark, base)  # nothing-to-fold path
    assert os.path.isdir(partial)
    # the append replay overwrites the aborted write and completes it
    sink = dedup.minhash_index_append(base, shingle_fn=_tri)
    sink(d.filter((F.col("doc_id") >= 250) & (F.col("doc_id") < 260)), 7)
    assert os.path.exists(os.path.join(partial, "_SUCCESS"))


def test_ledger_commit_is_atomic(spark, tmp_path):
    """The ledger write is temp+fsync+rename (shared operators/ledger
    helper): no stale .tmp, ids merged across successive compactions,
    never duplicated."""
    d = catalog.load(spark, SF_DIR, "documents")
    base, probe, truth = _mh_fixture(spark, tmp_path, "mh_ledger")
    dedup.minhash_index_compact(spark, base)
    path = os.path.join(ledger.current(base), "compacted_deltas.txt")
    assert not os.path.exists(path + ".tmp")
    with open(path) as fh:
        lines = fh.read().split()
    assert lines == sorted(set(lines)) and set(lines) == {"b0", "b1"}
    sink = dedup.minhash_index_append(base, shingle_fn=_tri)
    sink(d.filter((F.col("doc_id") >= 250) & (F.col("doc_id") < 260)), 2)
    dedup.minhash_index_compact(spark, base)
    with open(path) as fh:
        lines2 = fh.read().split()
    assert lines2 == sorted(set(lines2))
    assert set(lines2) == {"b0", "b1", "b2"}
    assert not os.path.exists(path + ".tmp")


if __name__ == "__main__":
    pytest.main([__file__, "-q"])


# ------------------------------------------------------- BM25 index
# (lives here because it exercises the SAME shared delta-index
# protocol the MinHash tests pin — operators/ledger.py)


def test_bm25_index_lifecycle_matches_from_scratch(spark, tmp_path):
    """The persisted BM25 index must score identically to the
    from-scratch text_bm25 pass at every lifecycle point: after build,
    after two streaming appends (tokenizing only the batches), and
    after compaction. Scores are on the 4dp grid so equality is
    exact."""
    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.operators import (
        textindex,
    )
    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.queries.llm import (
        text_bm25,
    )

    terms = ["data", "table", "fast"]
    d = catalog.load(spark, SF_DIR, "documents")
    truth = sorted(
        (r.doc_id, r.bm25) for r in text_bm25(spark, SF_DIR).collect()
    )

    base = str(tmp_path / "bm25_inc")
    textindex.bm25_index_build(d.filter(F.col("doc_id") < 250), base)
    sink = textindex.bm25_index_append(base)
    sink(d.filter((F.col("doc_id") >= 250) & (F.col("doc_id") < 350)), 0)
    sink(d.filter(F.col("doc_id") >= 350), 1)

    def got():
        return sorted(
            (r.doc_id, r.bm25)
            for r in textindex.bm25_index_query(spark, base, terms).collect()
        )

    assert got() == truth  # base + deltas
    textindex.bm25_index_compact(spark, base)
    assert not os.path.isdir(os.path.join(ledger.current(base), "delta"))
    assert got() == truth  # compacted

    # replayed appends hit the ledger tombstones — scores unchanged
    sink(d.filter((F.col("doc_id") >= 250) & (F.col("doc_id") < 350)), 0)
    assert got() == truth


def test_bm25_index_query_prunes_by_term(spark, tmp_path):
    """The clustered postings layout makes the query's term filter a
    pushed parquet predicate — the plan must show the pushdown, not a
    full posting scan followed by a Spark-side filter only."""
    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.operators import (
        textindex,
    )

    d = catalog.load(spark, SF_DIR, "documents")
    base = str(tmp_path / "bm25_plan")
    textindex.bm25_index_build(d, base)
    df = textindex.bm25_index_query(spark, base, ["data"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "term" in plan


# -------------------------------------------- embedding-dedup index
# (fourth instantiation of the shared protocol)


def test_embdedup_index_lifecycle(spark, tmp_path):
    """Incremental semantic dedup == one-shot at every lifecycle
    point; replayed appends hit the ledger tombstones; the generation's
    params make the index self-describing (append/probe regenerate the
    same planes)."""

    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.operators import (
        similarity,
    )

    e = catalog.load(spark, SF_DIR, "embeddings")
    probe = e.filter(F.col("vec_id") < 100)
    rest = e.filter(F.col("vec_id") % 2 == 1)

    def rows(base):
        return sorted(
            tuple(r)
            for r in similarity.embdedup_index_probe(
                probe, base, threshold=0.35
            ).collect()
        )

    inc = str(tmp_path / "ed_inc")
    similarity.embdedup_index_build(e.filter(F.col("vec_id") % 2 == 0), inc)
    assert ledger.read_params(ledger.current(inc)) == {
        "n_planes": 4,
        "n_tables": 16,
        "seed": 42,
    }
    sink = similarity.embdedup_index_append(inc)
    sink(rest.filter(F.col("vec_id") % 4 == 1), 0)
    sink(rest.filter(F.col("vec_id") % 4 == 3), 1)

    one = str(tmp_path / "ed_one")
    similarity.embdedup_index_build(e.filter(F.col("vec_id") % 2 == 0), one)
    similarity.embdedup_index_append(one)(rest, 0)

    truth = rows(one)
    assert truth  # nonvacuous: the fixture's planted near-dups
    # appended vectors are found (some corpus_id is odd = from a delta)
    assert any(c % 2 == 1 for _, c, _ in truth)
    assert rows(inc) == truth
    similarity.embdedup_index_compact(spark, inc)
    inc_root = ledger.current(inc)
    assert not os.path.isdir(os.path.join(inc_root, "delta"))
    assert rows(inc) == truth
    # replay after compaction: tombstoned, no double-insert
    sink(rest.filter(F.col("vec_id") % 4 == 1), 0)
    assert not os.path.isdir(os.path.join(inc_root, "delta"))
    assert rows(inc) == truth


# ----------------------------------------------- band-count argument


@pytest.mark.parametrize("bands", [0, 40], ids=["no-bands", "over-hashes"])
@pytest.mark.parametrize(
    "op",
    [
        "minhash_neardup_pairs",
        "minhash_index",
        "minhash_dedup_incremental",
        "minhash_index_build",
        "minhash_index_append",
        "minhash_index_probe",
    ],
)
def test_minhash_rejects_bands_outside_hash_count(
    spark, tmp_path, monkeypatch, op, bands
):
    """0 bands (a division by zero) and more bands than the 32 hashes
    (a band with no hash to concatenate) are refused with a ValueError
    at entry, before any persist or any write under the index dir."""

    def no_persist(df):
        raise AssertionError("persisted before the band check")

    monkeypatch.setattr(dedup, "_persist_tracked", no_persist)
    d = catalog.load(spark, SF_DIR, "documents")
    base = str(tmp_path / "mh_bands")
    calls = {
        "minhash_neardup_pairs": lambda: dedup.minhash_neardup_pairs(
            d, bands=bands
        ),
        "minhash_index": lambda: dedup.minhash_index(d, bands=bands),
        "minhash_dedup_incremental": lambda: dedup.minhash_dedup_incremental(
            d, d, d, bands=bands
        ),
        "minhash_index_build": lambda: dedup.minhash_index_build(
            d, base, bands=bands
        ),
        "minhash_index_append": lambda: dedup.minhash_index_append(
            base, bands=bands
        ),
        "minhash_index_probe": lambda: dedup.minhash_index_probe(
            d, base, bands=bands
        ),
    }
    with pytest.raises(ValueError, match="bands"):
        calls[op]()
    assert not os.path.exists(base)
