"""The benchmark's workloads.

Each workload has three phases:

* ``setup``: generate the seeded inputs and warm the catalog, the
  tables and the Python workers. ``run.py`` repeats it, each time on a
  new SparkContext, and its median is part of the ``setup_s`` metric.
  The other two phases run on the last one.
* ``warmup``: untimed executions of every operation, whose outputs are
  checked.
* ``measure``: the workload's fixed number (``rounds``) of whole rounds
  of timed operations. A traced run times two such regions.

Every call into the package goes through ``Tracer.call(layer, ...)``,
so a traced run attributes time and Spark work to the package's
modules: ``catalog``, ``queries`` (building query plans), ``spark`` (the
engine running the built plan), ``operators`` (persisted indexes) and
``orchestration`` (the trips DAG).
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from dataclasses import dataclass, field

import datagen
from spans import Tracer


@dataclass
class Results:
    """What one run observed, besides the spans."""

    samples: list = field(default_factory=list)  # (kind, seconds) of timed operations
    rounds: list = field(default_factory=list)  # seconds per timed round
    attempted: int = 0
    failures: list = field(default_factory=list)  # "<operation>: <reason>"

    def fail(self, what: str, why: str) -> None:
        self.failures.append(f"{what}: {why}")
        print(f"perfbench: FAILED {what}: {why}", file=sys.stderr)


def noop_write(df) -> None:
    """Materialize every row of ``df`` without keeping it."""
    df.write.format("noop").mode("overwrite").save()


def _warm_workers(it):
    import numpy  # noqa: F401 - the imports pandas/Arrow UDFs pay once per worker
    import pandas  # noqa: F401

    yield from it


def warm_python_workers(spark, slots: int) -> None:
    noop_write(spark.range(slots * 4, numPartitions=slots).mapInPandas(_warm_workers, "id long"))


def warm_tables(spark, tracer, sf_dir: str, names) -> None:
    """First (schema-inferring) load of each table, a full scan, then
    three memo-hit loads per table."""
    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark import catalog

    for name in names:
        df = tracer.call("catalog", "load_miss", catalog.load, spark, sf_dir, name)
        tracer.call("catalog", "scan", noop_write, df)
    for _ in range(3):
        for name in names:
            tracer.call("catalog", "load_hit", catalog.load, spark, sf_dir, name)


class AnalyticsTail:
    """Warm session, round-robin over analytics queries whose Python plan
    build is a large share of their wall (README.md: how they were chosen)."""

    name = "analytics_tail"
    sf = 0.01
    rounds = 4
    queries = [
        "text_quality",
        "a_odds_ratio",
        "a_brier_score",
        "a_power_analysis",
    ]
    #: the tables those queries read; set-up warms these
    tables = ["documents", "embeddings", "events"]

    def __init__(self, work_dir: str, seed: int, slots: int):
        self.work_dir, self.seed, self.slots = work_dir, seed, slots
        self.sf_dir = None  # set by setup
        self.expected = {}  # query name -> normalized oracle rows

    def setup(self, spark, tracer, data_dir: str) -> None:
        if self.sf_dir:
            shutil.rmtree(self.sf_dir, ignore_errors=True)
        self.sf_dir = data_dir
        # every table: the DuckDB oracle connection views all of them
        datagen.write_tables(self.sf_dir, self.sf, self.seed)
        warm_tables(spark, tracer, self.sf_dir, self.tables)
        warm_python_workers(spark, self.slots)

    def oracle(self):
        """Normalized DuckDB oracle result of every query over the same files."""
        from tools.check import duck_conn, normalize

        from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.queries import ORACLES

        conn = duck_conn(self.sf_dir)
        try:
            return {q: normalize(conn.execute(ORACLES[q]).df()) for q in self.queries}
        finally:
            conn.close()

    def _run(self, spark, tracer, q: str, sink):
        from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.queries import QUERIES

        df = tracer.call("queries", q, QUERIES[q], spark, self.sf_dir)
        return tracer.call("spark", q, sink, df)

    def warmup(self, spark, tracer, res: Results) -> None:
        """One pass whose results are checked against the oracle, then one
        untimed round: query plans keep getting faster over their first
        few executions (codegen, JIT)."""
        from tools.check import normalize

        if not self.expected:
            self.expected = self.oracle()
        for q in self.queries:
            res.attempted += 1
            try:
                got = normalize(self._run(spark, tracer, q, lambda df: df.toPandas()))
            except Exception as exc:  # noqa: BLE001 - a failing query is reported, not fatal
                res.fail(q, f"{type(exc).__name__}: {exc}"[:300])
            else:
                if got != self.expected[q]:
                    res.fail(q, "result differs from the DuckDB oracle")
            tracer.collect()
            spark.catalog.clearCache()
        self._round(spark, tracer, res, timed=False)

    def _round(self, spark, tracer, res: Results, timed: bool) -> None:
        r0 = time.perf_counter()
        for q in self.queries:
            res.attempted += 1
            t0 = time.perf_counter()
            try:
                self._run(spark, tracer, q, noop_write)
            except Exception as exc:  # noqa: BLE001
                res.fail(q, f"{type(exc).__name__}: {exc}"[:300])
            else:
                if timed:
                    res.samples.append((q, time.perf_counter() - t0))
            tracer.collect()
            spark.catalog.clearCache()
        if timed:
            res.rounds.append(time.perf_counter() - r0)

    def measure(self, spark, tracer, res: Results, rounds: int) -> None:
        for _ in range(rounds):
            self._round(spark, tracer, res, timed=True)


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring markers and checksums."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


class IngestRounds:
    """Trips micro-batches through the DAG, beside appends to and probes
    of a persisted MinHash index and a persisted IVF index."""

    name = "ingest_rounds"
    rounds = 2
    sf = 0.1  # documents and embeddings only
    trips_per_round = 20_000
    docs_base, docs_per_round, docs_per_probe = 300, 50, 100  # docs_base >= datagen.NEAR_DUP_SOURCES
    vecs_base, vecs_per_round, vecs_per_probe = 500, 25, 20
    compact_every = 2
    max_rounds = 1 + 2 * rounds  # trips batches generated in set-up: warm-up, untraced and traced rounds

    def __init__(self, work_dir: str, seed: int, slots: int):
        self.work_dir, self.seed, self.slots = work_dir, seed, slots
        self.data_dir = None  # set by setup
        self.mh_dir = os.path.join(work_dir, "index", "minhash")
        self.ivf_dir = os.path.join(work_dir, "index", "ivf")
        self.round_no = 0

    def _trips_path(self, r: int) -> str:
        return os.path.join(self.data_dir, "trips", f"batch={r}")

    def setup(self, spark, tracer, data_dir: str) -> None:
        from pyspark.sql import functions as F

        if self.data_dir:
            shutil.rmtree(self.data_dir, ignore_errors=True)
        self.data_dir = data_dir
        datagen.write_tables(self.data_dir, self.sf, self.seed, ["documents", "embeddings"])
        n = self.trips_per_round
        trips = datagen.trips_batch(spark, 0, self.max_rounds * n, self.seed)
        trips.withColumn("batch", (F.col("trip_id") / n).cast("int")).repartition("batch").write.partitionBy(
            "batch"
        ).parquet(os.path.join(self.data_dir, "trips"))
        warm_tables(spark, tracer, self.data_dir, ["documents", "embeddings"])
        warm_python_workers(spark, self.slots)

    # -- index inputs -----------------------------------------------------
    def _table(self, spark, name: str, lo: int, n: int):
        from pyspark.sql import functions as F

        from end_to_end_mlops_airflow_cloudformation_great_expectations_spark import catalog

        key = "doc_id" if name == "documents" else "vec_id"
        return catalog.load(spark, self.data_dir, name).where(F.col(key).between(lo, lo + n - 1))

    def _doc_slice(self, spark, r: int):
        return self._table(spark, "documents", self.docs_base + r * self.docs_per_round, self.docs_per_round)

    def _vec_slice(self, spark, r: int):
        from pyspark.sql import functions as F

        lo = self.vecs_base + r * self.vecs_per_round
        return self._table(spark, "embeddings", lo, self.vecs_per_round).select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding").cast("array<double>").alias("cv")
        )

    def _probe_docs(self, spark, r: int):
        """Probe batch of round ``r``: documents never indexed, some of
        them near-duplicates of indexed ones."""
        first = self.docs_base + self.max_rounds * self.docs_per_round
        n_slots = (datagen.row_counts(self.sf)["documents"] - first) // self.docs_per_probe
        slot = r % n_slots
        return self._table(spark, "documents", first + slot * self.docs_per_probe, self.docs_per_probe)

    def _query_vecs(self, spark, r: int):
        n_slots = self.vecs_base // self.vecs_per_probe
        slot = r % n_slots
        return self._table(spark, "embeddings", slot * self.vecs_per_probe, self.vecs_per_probe)

    def _probe(self, spark, tracer, r: int):
        from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.operators import dedup

        def probe():
            return dedup.minhash_index_probe(self._probe_docs(spark, r), self.mh_dir).collect()

        return sorted(tuple(x) for x in tracer.call("operators", "minhash_probe", probe))

    def _search(self, spark, tracer, r: int):
        from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.operators import similarity

        def search():
            return similarity.ivf_index_search(self._query_vecs(spark, r), self.ivf_dir, k=5, n_probe=4).collect()

        return sorted(tuple(x) for x in tracer.call("operators", "ivf_search", search))

    # -- the round --------------------------------------------------------
    def _round(self, spark, tracer, res: Results) -> None:
        """One timed round: the trips DAG on batch ``r``, then append slice
        ``r`` to both indexes and probe both; every ``compact_every``
        rounds, compact both. Every call is one timed operation, counted
        as attempted before the round starts; the round's latency ends
        when the batch is probe-able, before compaction."""
        from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.operators import dedup, similarity
        from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.orchestration import dag_factory

        r = self.round_no
        self.round_no += 1
        out = os.path.join(self.work_dir, "dag_out", f"b{r}")
        spec = dag_factory.trips_pipeline_spec(datagen.VENDORS, self._trips_path(r), out)
        step_kind = {"validate_raw": "validate", "featurize_split_write": "featurize_write"}
        compact = (r + 1) % self.compact_every == 0
        res.attempted += len(spec.topo_order()) + 4 + (2 if compact else 0)
        first_span = len(tracer.spans)
        r0 = time.perf_counter()
        for task in spec.topo_order():
            tracer.call("orchestration", step_kind.get(task.task_id, "vendor_check"), task.fn, spark, task.conf)
        tracer.call("operators", "minhash_append", dedup.minhash_index_append(self.mh_dir), self._doc_slice(spark, r), r)
        tracer.call("operators", "ivf_append", similarity.ivf_index_append(self.ivf_dir), self._vec_slice(spark, r), r)
        probes = [
            ("minhash_probe", self._probe(spark, tracer, r)),
            ("ivf_search", self._search(spark, tracer, r)),
        ]
        round_s = time.perf_counter() - r0
        if compact:
            tracer.call("operators", "minhash_compact", dedup.minhash_index_compact, spark, self.mh_dir)
            tracer.call("operators", "ivf_compact", similarity.ivf_index_compact, spark, self.ivf_dir)
        ops = tracer.spans[first_span:]
        tracer.collect()
        res.rounds.append(round_s)
        res.samples += [(s.name, s.dur) for s in ops]
        self._check_round(spark, res, r, out, probes, compacted=compact)
        spark.catalog.clearCache()

    def _check_round(self, spark, res: Results, r: int, out: str, probes: list, compacted: bool) -> None:
        """Untimed: the DAG wrote every row of the batch for every vendor,
        the IVF search returned k rows per query, and compaction changed
        no probe or search result."""
        n_in = spark.read.parquet(self._trips_path(r)).count()
        per_vendor = {x.vendor: x["count"] for x in spark.read.parquet(out).groupBy("vendor").count().collect()}
        n_out = sum(per_vendor.values())
        if n_out != n_in:
            res.fail(f"round {r}", f"partitioned output has {n_out} rows, batch has {n_in}")
        vendors = set(per_vendor)
        if vendors != set(datagen.VENDORS):
            res.fail(f"round {r}", f"output vendors {sorted(vendors)}")
        rows = dict(probes)["ivf_search"]
        if len(rows) != 5 * self.vecs_per_probe:
            res.fail(f"round {r} ivf_search", f"{len(rows)} rows, want k=5 per query")
        if compacted:
            untraced = Tracer(spark, enabled=False)
            again = [
                ("minhash_probe", self._probe(spark, untraced, r)),
                ("ivf_search", self._search(spark, untraced, r)),
            ]
            for (kind, before), (_, after) in zip(probes, again):
                if before != after:
                    res.fail(f"round {r} {kind}", "result changed by compaction")

    def warmup(self, spark, tracer, res: Results) -> None:
        """Build both indexes on the base slices, append slice 0 to each,
        run the DAG on batch 0, probe both indexes once and compact both,
        untimed: round 1 is the first round whose every call has run
        before, and every timed round probes the base and one delta."""
        from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.operators import dedup, similarity
        from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.orchestration import dag_factory

        docs = self._table(spark, "documents", 0, self.docs_base)
        vecs = self._table(spark, "embeddings", 0, self.vecs_base)
        out = os.path.join(self.work_dir, "dag_out", "b0")
        spec = dag_factory.trips_pipeline_spec(datagen.VENDORS, self._trips_path(0), out)
        self.round_no = 1
        try:
            tracer.call("operators", "minhash_build", dedup.minhash_index_build, docs, self.mh_dir)
            tracer.call(
                "operators", "ivf_build", similarity.ivf_index_build, vecs, self.ivf_dir, n_centroids=16, max_iter=4
            )
            dedup.minhash_index_append(self.mh_dir)(self._doc_slice(spark, 0), 0)
            similarity.ivf_index_append(self.ivf_dir)(self._vec_slice(spark, 0), 0)
            spec.run_locally(spark)
            probes = [("minhash_probe", self._probe(spark, tracer, 0)), ("ivf_search", self._search(spark, tracer, 0))]
            dedup.minhash_index_compact(spark, self.mh_dir)
            similarity.ivf_index_compact(spark, self.ivf_dir)
        except Exception as exc:  # noqa: BLE001
            res.fail("warm-up", f"{type(exc).__name__}: {exc}"[:300])
            return
        finally:
            res.attempted += 1
            tracer.collect()
        self._check_round(spark, res, 0, out, probes, compacted=False)
        if not dict(probes)["minhash_probe"]:
            res.fail("warm-up", "MinHash probes found no near-duplicates")

    def measure(self, spark, tracer, res: Results, rounds: int) -> None:
        """``rounds`` rounds; a failing round ends the region, because the
        indexes may be left half-written."""
        for _ in range(rounds):
            attempted = res.attempted
            try:
                self._round(spark, tracer, res)
            except Exception as exc:  # noqa: BLE001
                # a round that fails before counting its operations is one
                res.attempted = max(res.attempted, attempted + 1)
                res.fail(f"round {self.round_no - 1}", f"{type(exc).__name__}: {exc}"[:300])
                return

    def index_stats(self) -> dict:
        """Index bytes and files, and the parquet bytes of the rows indexed so far."""
        counts = datagen.row_counts(self.sf)
        input_bytes = 0.0
        for name, base, step in (
            ("documents", self.docs_base, self.docs_per_round),
            ("embeddings", self.vecs_base, self.vecs_per_round),
        ):
            size = os.path.getsize(os.path.join(self.data_dir, f"{name}.parquet"))
            input_bytes += size * (base + self.round_no * step) / counts[name]
        mh, ivf = _dir_stats(self.mh_dir), _dir_stats(self.ivf_dir)
        return {"index_bytes": mh[0] + ivf[0], "index_files": mh[1] + ivf[1], "input_bytes": input_bytes}

    def output_ratio(self) -> float:
        """DAG output bytes per trips input byte, over every round run."""
        rounds = range(self.round_no)
        out = sum(_dir_stats(os.path.join(self.work_dir, "dag_out", f"b{r}"))[0] for r in rounds)
        return out / sum(_dir_stats(self._trips_path(r))[0] for r in rounds)


WORKLOADS = {w.name: w for w in (AnalyticsTail, IngestRounds)}

