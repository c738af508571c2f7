"""Randomized-interleaving test of the shared delta-index protocol
(operators/ledger.py): drive a minimal two-table index through random
sequences of appends, replays, aborted (partial) appends, compactions,
rebuilds and manufactured crash states, checking after EVERY step that
the read-only resolution equals a python reference model. The enumerated
crash-state tests (test_minhash_index.py, test_llm_ops.py) pin each
transition once; this pins that arbitrary compositions of them can
never double-count, lose, or half-apply a batch."""

from __future__ import annotations

import os
import random
import shutil

import pytest

from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.operators import (
    ledger,
)

TABLES = ("alpha", "beta")
#: plus a third subtable whose base is written ``partitionBy("part")``,
#: so the partitioned read and compaction branch runs too
PARTITIONED = TABLES + ("gamma",)


def _tables_fn(batch_df, tables=TABLES):
    # derived subtables from one batch: identity, a doubled and a
    # tripled copy, so a half-applied batch is detectable as
    # cross-table skew
    out = {
        "alpha": batch_df,
        "beta": batch_df.selectExpr("id", "val * 2 AS val"),
    }
    if "gamma" in tables:
        out["gamma"] = batch_df.selectExpr(
            "id", "val * 3 AS val", "CAST(id % 3 AS INT) AS part"
        )
    return out


class _Crash(Exception):
    pass


def _write_base(spark, base, tables, crash=False):
    """Build a generation holding only row 0; ``crash`` dies right
    after the first table is written."""
    first = spark.createDataFrame([(0, 0)], "id long, val long")
    with ledger.build(base) as root:
        for name, df in _tables_fn(first, tables).items():
            writer = df.write
            if name == "gamma":
                writer = writer.partitionBy("part")
            writer.parquet(os.path.join(root, name))
            if crash:
                raise _Crash


def _check(spark, base, model, tables=TABLES):
    """Every subtable must contain exactly the model's batches —
    mutually consistent (each a multiple of alpha), nothing lost,
    nothing double-counted."""
    out = ledger.resolve_delta_tables(spark, base, tables)
    for mult, name in enumerate(tables, 1):
        rows = out[name].collect()
        got = sorted((r.id, r.val) for r in rows)
        want = sorted((i, i * 10 * mult) for i in model)
        assert got == want, f"{name} diverged: {got} != {want}"
        if name == "gamma":
            assert all(r.part == r.id % 3 for r in rows)


@pytest.mark.parametrize(
    "seed, tables",
    [pytest.param(s, TABLES, id=str(s)) for s in (7, 23, 101)]
    + [
        pytest.param(s, PARTITIONED, id=f"{s}-partitioned")
        for s in (7, 23, 101)
    ],
)
def test_random_interleavings_never_lose_or_double_count(
    spark, tmp_path, seed, tables
):
    rng = random.Random(seed)
    base = str(tmp_path / f"chaos_{seed}")
    _write_base(spark, base, tables)
    model = {0}
    sink = ledger.delta_append_sink(
        base, lambda df, root: _tables_fn(df, tables)
    )
    next_id = 1

    def batch(i):
        return spark.createDataFrame([(i, i * 10)], "id long, val long")

    for _ in range(14):
        op = rng.choice(
            [
                "append",
                "replay",
                "partial",
                "compact",
                "crash_precommit",
                "rebuild",
                "crash_midbuild",
            ]
        )
        root = ledger.current(base)
        if op == "append":
            sink(batch(next_id), next_id)
            model.add(next_id)
            next_id += 1
        elif op == "replay" and model:
            # re-deliver a random ALREADY-APPLIED batch id with the
            # same content — must no-op whether folded or still a delta
            i = rng.choice(sorted(model - {0}) or [1])
            if i in model:
                sink(batch(i), i)
        elif op == "partial":
            # an append that crashed mid-write: delta dir, no marker
            d = os.path.join(root, "delta", f"b{next_id}")
            os.makedirs(os.path.join(d, "alpha"), exist_ok=True)
            # replay completes it (the sink overwrites the aborted dir)
            sink(batch(next_id), next_id)
            model.add(next_id)
            next_id += 1
        elif op == "compact":
            ledger.compact_delta_index(spark, base, tables)
        elif op == "crash_precommit":
            # a compactor that died after materializing _new tables but
            # before the ledger commit: readers must ignore them and
            # the next compact must roll back then converge
            for t in tables:
                new = os.path.join(root, f"{t}_new")
                if os.path.isdir(new):
                    shutil.rmtree(new)
                shutil.copytree(os.path.join(root, t), new)
                ledger.write_folded_manifest(new, ["b999"])
        elif op == "rebuild":
            # a new generation over row 0 alone retires every delta and
            # the ledger: ids the old generation folded must land again
            _write_base(spark, base, tables)
            model = {0}
            next_id = 1
        elif op == "crash_midbuild":
            # a build that dies after its first table leaves the live
            # generation untouched and no staged one behind
            with pytest.raises(_Crash):
                _write_base(spark, base, tables, crash=True)
            assert [d for d in os.listdir(base) if d.startswith("g")] == [
                os.path.basename(root)
            ]
        _check(spark, base, model, tables)

    # settle: a final compact folds whatever is left; invariants hold
    ledger.compact_delta_index(spark, base, tables)
    _check(spark, base, model, tables)
    root = ledger.current(base)
    assert not os.path.isdir(os.path.join(root, "delta"))
    if "gamma" in tables:  # compaction kept the base partitioned
        assert any(
            d.startswith("part=") for d in os.listdir(os.path.join(root, "gamma"))
        )


@pytest.mark.parametrize("seed", [11, 47])
def test_two_appenders_disjoint_ids_one_compactor(spark, tmp_path, seed):
    """VERDICT r07 item 6 — the concurrency contract the 4 index
    lifecycles inherit, pinned: TWO appenders may feed one index
    concurrently IFF their batch-id spaces are disjoint (each Spark
    streaming query's ids are distinct within itself by checkpoint;
    two queries must namespace — here writer A uses even ids, writer
    B odd, exactly the "two sources, one index" deployment). Every
    interleaving of their appends, replays, partial crashes, and a
    racing compactor must keep the resolved view exact. SAME-id
    concurrent writers are OUT OF CONTRACT (they would share one
    delta dir mid-write) — that exclusion is what Spark's checkpoint
    lock provides per query, documented in ledger.py."""
    rng = random.Random(seed)
    base = str(tmp_path / f"two_writers_{seed}")
    _write_base(spark, base, TABLES)
    model = {0}
    # two independent sink instances — separate factory state, same
    # index directory (what two foreachBatch queries would hold)
    sink_a = ledger.delta_append_sink(base, lambda df, root: _tables_fn(df))
    sink_b = ledger.delta_append_sink(base, lambda df, root: _tables_fn(df))
    next_a, next_b = 2, 1  # A: even ids, B: odd ids

    def batch(i):
        return spark.createDataFrame([(i, i * 10)], "id long, val long")

    root = ledger.current(base)
    for _ in range(16):
        op = rng.choice(
            ["a_append", "b_append", "a_replay", "b_partial",
             "compact", "inflight_compact"]
        )
        if op == "a_append":
            sink_a(batch(next_a), next_a)
            model.add(next_a)
            next_a += 2
        elif op == "b_append":
            sink_b(batch(next_b), next_b)
            model.add(next_b)
            next_b += 2
        elif op == "a_replay":
            evens = [i for i in model if i and i % 2 == 0]
            if evens:
                i = rng.choice(evens)
                sink_a(batch(i), i)  # must no-op, folded or live
        elif op == "b_partial":
            # B crashes mid-append, then its replay completes it
            d = os.path.join(root, "delta", f"b{next_b}")
            os.makedirs(os.path.join(d, "alpha"), exist_ok=True)
            sink_b(batch(next_b), next_b)
            model.add(next_b)
            next_b += 2
        elif op == "compact":
            ledger.compact_delta_index(spark, base, TABLES)
        elif op == "inflight_compact":
            # A is mid-append (delta dir exists, no _SUCCESS yet) when
            # the compactor runs: the unmarked dir must survive, NOT
            # fold, and A's completion afterwards must commit it
            d = os.path.join(root, "delta", f"b{next_a}")
            os.makedirs(os.path.join(d, "alpha"), exist_ok=True)
            ledger.compact_delta_index(spark, base, TABLES)
            assert os.path.isdir(d), "compactor deleted in-flight append"
            assert f"b{next_a}" not in ledger.read_ledger(root)
            sink_a(batch(next_a), next_a)
            model.add(next_a)
            next_a += 2
        _check(spark, base, model)

    ledger.compact_delta_index(spark, base, TABLES)
    _check(spark, base, model)


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
