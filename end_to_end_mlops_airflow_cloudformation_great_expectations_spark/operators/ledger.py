"""Commit-ledger primitives for persisted, incrementally-maintained
indexes (MinHash: :mod:`.dedup`; BM25: :mod:`.textindex`; IVF,
embedding-dedup and HNSW: :mod:`.similarity`).

All five share one maintenance protocol (the LSM-ish discipline a
100 TB index needs — an object store gives you atomic rename and
nothing else):

- a build writes the whole index as a new GENERATION directory beside
  the live one, makes it current with one atomic ``_CURRENT`` write,
  and retires the old one with its deltas and ledger (:func:`build`);
- streaming appends land as per-batch DELTA directories of the live
  generation, committed by a ``_SUCCESS`` marker (no marker = aborted
  write, redone on replay);
- compaction folds committed deltas into a rewritten base
  (version-then-swap: write ``{table}_new`` + a ``_FOLDED`` manifest,
  commit the fold in the LEDGER, then rename over the old base);
- the ledger doubles as the TOMBSTONE set: a replayed append whose
  batch id is already folded must no-op, and readers skip folded
  delta dirs even if a crash left them on disk.

Functions taking ``base_dir`` read ``_CURRENT`` once per call, then work
in that generation's ``root``; functions taking ``root`` run in one the
caller resolved, so one operation never mixes two generations.

PARTITIONED BASES (the IVF postings, ``partitionBy("cell")`` so a
probe reads only its cells' directories): a table's partition columns
are read off its resolved base directory (Hive-style ``col=value``
subdirectories), never passed in. Deltas are always written
unpartitioned — the sink needs no partition spec, so it cannot race a
compactor that is swapping the base. Spark cannot read a partitioned
root and unpartitioned roots in one scan (nor several partitioned
roots: CONFLICTING_DIRECTORY_STRUCTURES), so a partitioned table is
read as the base scan ``unionByName`` one scan of all live deltas, and
compaction rewrites it with the same ``partitionBy``. Unpartitioned
tables stay one scan of base + deltas. A partition column must be a
type its directory names infer back to (int or string): the delta scan
reuses the base's schema.

The ledger write IS the compaction commit point (and ``_CURRENT`` the
build's), so it must be all-or-nothing (ADVICE r06): a buffered
in-place append can persist a PREFIX of the folded ids on a crash —
recovery would then roll back the new base (manifest ⊄ ledger) yet
treat those delta dirs as 'already folded' and delete them, permanently
losing their rows; a torn final line can even poison an unrelated batch
id. Hence :func:`_write_atomic`: write the FULL content to a temp file,
flush+fsync, ``os.rename`` over the real one — POSIX rename is atomic,
so readers see either the old or the new complete file, never a prefix.

CONCURRENCY CONTRACT (VERDICT r07 item 6, pinned by
tests/test_ledger_chaos.py::test_two_appenders_disjoint_ids_one_compactor):

- **Appenders**: any number may feed one index concurrently IFF their
  batch-id spaces are DISJOINT — each batch id owns its own
  ``delta/b{id}`` directory, so disjoint writers never touch the same
  path, and the compactor/readers only consume ``_SUCCESS``-committed
  dirs. Within one Spark streaming query, ids are unique by
  checkpoint; TWO queries feeding the same index must namespace their
  ids (e.g. writer-stride or a writer prefix). Two writers REUSING an
  id concurrently are out of contract: they would interleave file
  writes inside one delta dir (Spark's per-checkpoint lock is what
  rules this out in a real deployment). An append racing a build lands
  in the generation it resolved and is retired with it; after a
  rebuild, batch ids start again from an empty ledger.
- **Build / compactor**: exactly ONE build or compaction at a time
  (the compactor owns ``{table}_new`` and the roll-forward/back
  decision, a build the staged generation and ``_CURRENT``). The
  compactor may freely race appenders: an in-flight append (no ``_SUCCESS``) is
  skipped, never deleted, and commits normally afterwards; an append
  committing after the compactor lists its fold set simply stays live
  for the next fold.
- **Readers**: unrestricted (resolve_delta_tables is read-only).
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil

LEDGER_NAME = "compacted_deltas.txt"
#: names the live generation; ``_``-prefixed, so parquet readers skip it
CURRENT = "_CURRENT"
PARAMS_NAME = "_PARAMS.json"
_GENERATION = re.compile(r"g\d+")


def _write_atomic(path: str, text: str) -> None:
    """Replace ``path`` with ``text``: temp + fsync + rename."""
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(text)
        fh.flush()
        os.fsync(fh.fileno())
    os.rename(tmp, path)


def current(base_dir: str) -> str:
    """Root of the live generation of the index at ``base_dir``."""
    try:
        with open(os.path.join(base_dir, CURRENT)) as fh:
            return os.path.join(base_dir, fh.read().strip())
    except FileNotFoundError:
        raise FileNotFoundError(f"no index built at {base_dir}") from None


@contextlib.contextmanager
def build(base_dir: str, params: dict | None = None):
    """Stage a new generation of the index at ``base_dir`` and yield
    its empty root for the base tables. On normal exit ``params`` go to
    ``_PARAMS.json``, one atomic ``_CURRENT`` write makes the
    generation live, and the old one (base, deltas, ledger, params) is
    retired: its memoized schemas forgotten, its directory deleted. On
    an exception the staged root is deleted and the live index is
    untouched. Generations a crashed build or retire left behind are
    deleted on entry."""
    from .. import catalog

    os.makedirs(base_dir, exist_ok=True)
    live = os.path.isfile(os.path.join(base_dir, CURRENT)) and current(base_dir)
    for name in os.listdir(base_dir):
        path = os.path.join(base_dir, name)
        if _GENERATION.fullmatch(name) and path != live:
            shutil.rmtree(path)
    name = f"g{int(os.path.basename(live)[1:]) + 1 if live else 1}"
    root = os.path.join(base_dir, name)
    os.makedirs(root)
    try:
        yield root
        if params is not None:
            _write_atomic(os.path.join(root, PARAMS_NAME), json.dumps(params))
        # COMMIT POINT: readers resolve the new generation from here on
        _write_atomic(os.path.join(base_dir, CURRENT), name + "\n")
    except BaseException:
        # a staged table read back during the build memoized its schema
        catalog.forget_schemas(root)
        shutil.rmtree(root, ignore_errors=True)
        raise
    if live:
        catalog.forget_schemas(live)
        shutil.rmtree(live, ignore_errors=True)


def read_params(root: str) -> dict:
    """The parameters a build recorded for generation ``root``."""
    with open(os.path.join(root, PARAMS_NAME)) as fh:
        return json.load(fh)


def read_ledger(root: str) -> set:
    """Batch ids already folded into the base by compaction — the
    commit manifest readers consult to skip folded delta dirs and
    appends consult as the tombstone set."""
    path = os.path.join(root, LEDGER_NAME)
    if not os.path.isfile(path):
        return set()
    with open(path) as fh:
        return set(fh.read().split())


def committed_new(root: str, new_dir: str) -> bool:
    """True iff ``new_dir`` (a ``{table}_new`` versioned rewrite) is
    COMMITTED: its write finished (``_SUCCESS``), its ``_FOLDED``
    manifest exists, and every manifest id is in the ledger (the
    ledger write is the commit point). Used by the writer's recovery
    (roll forward vs roll back) and by read paths resolving a readable
    snapshot WITHOUT mutating the directory."""
    manifest = os.path.join(new_dir, "_FOLDED")
    if not (
        os.path.isdir(new_dir)
        and os.path.exists(os.path.join(new_dir, "_SUCCESS"))
        and os.path.isfile(manifest)
    ):
        return False
    with open(manifest) as fh:
        ids = set(fh.read().split())
    return bool(ids) and ids <= read_ledger(root)


def write_folded_manifest(new_dir: str, ids) -> None:
    """Record which delta ids a ``{table}_new`` rewrite folded — written
    BEFORE the ledger commit so recovery can tell a committed compaction
    (manifest ids ⊆ ledger → roll forward) from a pre-commit crash
    (roll back). Underscore-prefixed files are ignored by parquet
    readers, so the manifest rides along through the rename."""
    with open(os.path.join(new_dir, "_FOLDED"), "w") as fh:
        fh.write("\n".join(ids) + "\n")


# ---------------------------------------------------------------------------
# Generic multi-table delta index (the protocol instantiated by the
# MinHash dedup index — operators/dedup.py — the BM25 retrieval index
# — operators/textindex.py — and the IVF, embedding-dedup and HNSW
# indexes in similarity.py). Layout:
#
#   {base_dir}/_CURRENT           name of the live generation g{n}
#   {base_dir}/g{n}/{table}/      per-table base parquet (may be
#                                 partitioned: see module docstring),
#                                 plus _PARAMS.json and tables appends
#                                 never touch (IVF centroids)
#   {base_dir}/g{n}/delta/b{id}/{table}  per-batch delta, committed by
#                                 a root _SUCCESS written after ALL
#                                 subtables finish
#   {base_dir}/g{n}/{table}_new   compaction rewrite (+ _FOLDED)
#   {base_dir}/g{n}/compacted_deltas.txt  the atomic commit ledger
# ---------------------------------------------------------------------------


def _partition_cols(path: str) -> list:
    """Hive-style partition columns of the parquet table at ``path``:
    the ``col=value`` names down its first partition directory chain
    (``[]`` for an unpartitioned or missing table)."""
    cols = []
    while os.path.isdir(path):
        with os.scandir(path) as entries:
            sub = next(
                (e.name for e in entries if e.is_dir() and "=" in e.name),
                None,
            )
        if sub is None:
            break
        cols.append(sub.split("=", 1)[0])
        path = os.path.join(path, sub)
    return cols


def _read_table(spark, root, table, base_path, deltas):
    """One table of a snapshot: ``base_path`` plus ``deltas``' copies of
    it, every scan with the footer schema memoized under
    ``{root}/{table}``. An unpartitioned table is ONE scan; a
    partitioned base cannot share a scan with the unpartitioned deltas,
    so it is the base scan ``unionByName`` one scan of the deltas."""
    from .. import catalog

    key = os.path.join(root, table)
    paths = [os.path.join(d, table) for d in deltas]
    if not _partition_cols(base_path):
        return catalog.read_parquet(spark, base_path, *paths, key=key)
    df = catalog.read_parquet(spark, base_path, key=key)
    if paths:
        df = df.unionByName(catalog.read_parquet(spark, *paths, key=key))
    return df


def read_generation(spark, root: str, tables) -> dict:
    """READ-ONLY snapshot of generation ``root``: each table as its base
    + committed, unfolded deltas (one scan, or two for a partitioned
    base), its footer schema memoized under ``{root}/{table}``
    (``catalog.read_parquet``), so a new generation is never read with
    an old one's schema. Never mutates the directory (ADVICE r06: a
    reader racing a live compactor must not delete its in-flight
    output): a committed-but-unswapped ``{table}_new`` already contains
    the folded deltas, so it is read AS the base; ledger-folded delta
    dirs are skipped either way, so every appended row is counted
    exactly once at any crash point."""
    folded = read_ledger(root)
    delta_root = os.path.join(root, "delta")
    live = []
    if os.path.isdir(delta_root):
        live = [
            os.path.join(delta_root, d)
            for d in sorted(os.listdir(delta_root))
            if d not in folded
            and os.path.exists(os.path.join(delta_root, d, "_SUCCESS"))
        ]
    out = {}
    for table in tables:
        base_path = os.path.join(root, table)
        new_dir = os.path.join(root, f"{table}_new")
        if committed_new(root, new_dir):
            base_path = new_dir
        out[table] = _read_table(spark, root, table, base_path, live)
    return out


def resolve_delta_tables(spark, base_dir: str, tables) -> dict:
    """:func:`read_generation` of the live generation at ``base_dir``."""
    return read_generation(spark, current(base_dir), tables)


def delta_append_sink(base_dir: str, tables_fn):
    """foreachBatch sink factory: ``tables_fn(batch_df, root) ->
    {table: DataFrame}`` computes the batch's contribution to every
    subtable, reading any build-time state from ``root``, the live
    generation the batch lands in; the batch lands as
    ``{root}/delta/b{batch_id}`` with the root ``_SUCCESS`` written only
    after all subtable writes finish (a crash between them leaves an
    uncommitted delta the replay overwrites — at-least-once →
    exactly-once). A batch id already in the ledger was folded into
    the base: the tombstone check makes its replay a no-op instead of
    a double-insert."""

    def apply(batch_df, batch_id: int) -> None:
        root = current(base_dir)
        delta = os.path.join(root, "delta", f"b{batch_id}")
        marker = os.path.join(delta, "_SUCCESS")
        if os.path.isdir(delta):
            if os.path.exists(marker):
                return  # committed append — replay no-ops
            shutil.rmtree(delta, ignore_errors=True)  # aborted — redo
        if f"b{batch_id}" in read_ledger(root):
            return  # folded into base by compaction
        for name, df in tables_fn(batch_df, root).items():
            df.write.mode("overwrite").parquet(os.path.join(delta, name))
        with open(marker, "w"):
            pass

    return apply


def recover_delta_index(root: str, tables) -> None:
    """Finish or roll back an interrupted compaction — DESTRUCTIVE,
    writer-only (the compactor calls it; read paths use
    read_generation). All subtables commit under ONE ledger
    write, so recovery decides once and applies per table: committed
    ``{table}_new`` → roll the swap forward; uncommitted → delete it
    (base + deltas stay authoritative). Folded delta dirs are removed;
    unmarked (no ``_SUCCESS``) dirs are left for the append sink's
    replay — they may be an in-flight append mid-write."""
    for table in tables:
        new_dir = os.path.join(root, f"{table}_new")
        if os.path.isdir(new_dir):
            if committed_new(root, new_dir):
                swap_forward(root, table)
            else:
                shutil.rmtree(new_dir, ignore_errors=True)
        aside = os.path.join(root, f"{table}_old")
        if os.path.isdir(aside) and os.path.isdir(os.path.join(root, table)):
            shutil.rmtree(aside, ignore_errors=True)
    folded = read_ledger(root)
    delta_root = os.path.join(root, "delta")
    if os.path.isdir(delta_root):
        live = [d for d in sorted(os.listdir(delta_root)) if d not in folded]
        for d in os.listdir(delta_root):
            if d in folded:
                shutil.rmtree(os.path.join(delta_root, d), ignore_errors=True)
        if not live:
            shutil.rmtree(delta_root, ignore_errors=True)


def compact_delta_index(spark, base_dir: str, tables) -> None:
    """Fold accumulated append deltas of the live generation back into
    its base layout — version-then-swap with ONE atomic commit point
    for ALL subtables: write every ``{table}_new`` (each carrying the
    ``_FOLDED`` manifest), commit the folded ids to the ledger
    atomically, then swap each table into place. Read results are
    identical before and after; only the file layout changes (fewer,
    larger files). Crash-recoverable at every step via
    recover_delta_index; ledger entries tombstone folded batch ids so
    re-delivered appends cannot double-insert. A partitioned base is
    rewritten with the same ``partitionBy``."""
    root = current(base_dir)
    recover_delta_index(root, tables)
    delta_root = os.path.join(root, "delta")
    if not os.path.isdir(delta_root):
        return
    already = read_ledger(root)
    folded = [
        d
        for d in sorted(os.listdir(delta_root))
        # skip already-folded ids (double-fold = permanent duplication)
        # and partial deltas (no root _SUCCESS — possibly an append
        # mid-write; its replay will redo an aborted one)
        if d not in already
        and os.path.exists(os.path.join(delta_root, d, "_SUCCESS"))
    ]
    if not folded:
        if not os.listdir(delta_root):
            shutil.rmtree(delta_root, ignore_errors=True)
        return
    for table in tables:
        base_path = os.path.join(root, table)
        df = _read_table(
            spark,
            root,
            table,
            base_path,
            [os.path.join(delta_root, d) for d in folded],
        )
        new_dir = os.path.join(root, f"{table}_new")
        writer = df.write.mode("overwrite")
        parts = _partition_cols(base_path)
        if parts:
            writer = writer.partitionBy(*parts)
        writer.parquet(new_dir)
        write_folded_manifest(new_dir, folded)
    # COMMIT POINT: all _new tables fully materialized; one atomic
    # ledger write commits the fold for every subtable, so readers and
    # recovery can never see one table folded and another not.
    merged = sorted(read_ledger(root) | set(folded))
    _write_atomic(os.path.join(root, LEDGER_NAME), "\n".join(merged) + "\n")
    for table in tables:
        swap_forward(root, table)
    for d in folded:
        shutil.rmtree(os.path.join(delta_root, d), ignore_errors=True)
    if not os.listdir(delta_root):
        shutil.rmtree(delta_root, ignore_errors=True)


def swap_forward(root: str, table: str) -> None:
    """Finish a committed version-then-swap for one table: move the old
    base aside (never delete first), rename ``{table}_new`` into place,
    drop the aside copy. Safe to resume from any crash point when the
    caller has verified the new dir is committed."""
    new_dir = os.path.join(root, f"{table}_new")
    old_dir = os.path.join(root, table)
    aside = os.path.join(root, f"{table}_old")
    if os.path.isdir(new_dir):
        if os.path.isdir(old_dir):
            if os.path.isdir(aside):
                shutil.rmtree(aside)
            os.rename(old_dir, aside)
        os.rename(new_dir, old_dir)
    if os.path.isdir(aside) and os.path.isdir(old_dir):
        shutil.rmtree(aside, ignore_errors=True)
