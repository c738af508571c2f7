"""Table loading / view registration over a scale-factor directory.

The reference moves data between pipeline stages as S3 objects
(/root/reference/aws_infrastructure/airflow-setup.py:172-192 — buckets
are the hand-off substrate). Here the substrate is any Hadoop-compatible
path (local fs in tests, s3a:// in production); ``load`` is a thin
wrapper over ``spark.read.parquet`` with the explicit schema applied so
Catalyst gets non-nullable columns and the analyzer never depends on
footer inference.

``read_parquet`` is the one schema-memo reader: every parquet read the
package repeats against its own data (canonical tables via ``load``,
persisted index tables, the DAG's fan-out output) goes through it. It
memoizes ONE thing, the footer schema Spark reported on the first read,
in ``_SCHEMA_MEMO``; every call still returns a fresh DataFrame. A
persisted index table is keyed ``<abs generation root>/<table>``
whichever physical directories (base, ``{table}_new``, deltas) a read
resolves to, so base + deltas share one schema; a rebuild writes a new
generation root (``operators/ledger.build``), so a rebuild with new
column types is inferred again, and the ledger calls
``forget_schemas`` on the generation it retires. A writer that knows
the footer schema of what it just wrote records it with
``remember_schema`` instead of leaving the first read to infer it.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

from . import schemas

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: FOOTER schemas per (applicationId, key) — metadata memoization
#: only. ``spark.read.parquet`` without a schema pays footer schema
#: inference (a ~0.1 s Spark job) on EVERY call, and a full query run
#: calls ``load`` a few hundred times against an immutable directory;
#: re-reading with the schema Spark itself reported on the first call
#: skips that job while returning a FRESH DataFrame (fresh attribute
#: ids) per call — a memoized DataFrame handle broke self-joins of a
#: table with itself ("ambiguous column" on tpch_q2/q9/q11_partsupp,
#: caught by the full sf0.001 sweep). No rows, results or
#: intermediates are cached; this is exactly what a metastore does
#: with table schemas. Keyed on the applicationId so a
#: fresh SparkContext never sees stale entries.
_SCHEMA_MEMO: dict[tuple[str, str], object] = {}


def read_parquet(
    spark: SparkSession, *paths: str, key: str | None = None
) -> DataFrame:
    """Read ``paths`` in ONE scan, with the footer schema memoized under
    ``(applicationId, abspath(key or paths[0]))``: the first read infers
    it, later reads pass it back and launch no inference job."""
    memo_key = _memo_key(spark, key or paths[0])
    schema = _SCHEMA_MEMO.get(memo_key)
    if schema is None:
        df = spark.read.parquet(*paths)
        _SCHEMA_MEMO[memo_key] = df.schema
        return df
    return spark.read.schema(schema).parquet(*paths)


def remember_schema(spark: SparkSession, path: str, schema) -> None:
    """Memoize ``schema`` for ``path`` as if a first read had inferred
    it — for a directory the package has just written itself, whose
    footer schema it already knows, so its first read runs no
    inference job."""
    _SCHEMA_MEMO[_memo_key(spark, path)] = schema


def _memo_key(spark: SparkSession, path: str) -> tuple[str, str]:
    return (spark.sparkContext.applicationId, os.path.abspath(path))


def forget_schemas(base_dir: str) -> None:
    """Drop every memoized schema keyed at or under ``base_dir`` (in any
    application) — called before a directory is rewritten in place, so
    its next read infers the new footer, and by ``operators/ledger``
    when it retires an index generation."""
    root = os.path.abspath(base_dir)
    for memo_key in [
        k
        for k in _SCHEMA_MEMO
        if k[1] == root or k[1].startswith(root + os.sep)
    ]:
        del _SCHEMA_MEMO[memo_key]


#: Sessions ``load`` has set its two runtime confs on (weakly held: a
#: stopped session's entry goes with it).
_CONFIGURED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one canonical table as a DataFrame.

    Schema note: we deliberately read with the footer schema (parquet
    already carries exact physical types written by the generator) and
    assert congruence with the declared schema's column names — applying
    a HAND-DECLARED ``.schema(...)`` to parquet would disable vectorized
    reading when nullability differs; the memoized re-read in
    ``read_parquet`` passes back the exact schema the footer read itself
    reported, so it is congruent by construction. Name congruence is
    cheap and catches drift.
    """
    if spark not in _CONFIGURED:
        # Defensive runtime confs: the caller's session (e.g. a plain
        # SparkSession) may not carry our SCALE_PROFILE. Both are
        # runtime-settable SQL confs; UTC keeps timestamp↔epoch
        # conversions aligned with DuckDB. Set once per session: two
        # Py4J round trips per load otherwise.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        _CONFIGURED.add(spark)
    df = read_parquet(spark, table_path(sf_dir, name))
    # TIMESTAMP(NANOS) columns surface as LongType nanos under
    # spark.sql.legacy.parquet.nanosAsLong; truncate to micros (exactly
    # what DuckDB's reader does) and restore TimestampType.
    expected_schema = schemas.TABLES.get(name)
    if expected_schema is not None:
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        actual = {f.name: f.dataType for f in df.schema.fields}
        for field in expected_schema.fields:
            if isinstance(field.dataType, T.TimestampType) and isinstance(
                actual.get(field.name), T.LongType
            ):
                # integer DIV: double division would lose precision on
                # ~1.7e18 nanosecond values (double mantissa is 53 bits)
                df = df.withColumn(
                    field.name,
                    F.timestamp_micros(F.expr(f"`{field.name}` DIV 1000")),
                )
    expected = expected_schema
    if expected is not None:
        got = set(df.columns)
        want = {f.name for f in expected.fields}
        if got != want:
            raise ValueError(f"table {name}: columns {got} != declared {want}")
    return df


def local_df(spark: SparkSession, rows: list, schema) -> DataFrame:
    """``createDataFrame`` for SMALL driver-side row lists (centroids,
    band tables, stream fixtures) as a SINGLE-slice RDD.

    The default ``spark.createDataFrame(rows, schema)`` parallelizes to
    ``defaultParallelism`` slices — 32 near-empty Python partitions for
    a 16-row table — and every downstream task that evaluates them pays
    one Python-runner round-trip PER SLICE. Measured (r11, guide §4):
    a 16-row centroid table written through ``coalesce(1)`` evaluated
    all 32 slices SERIALLY inside the one write task — 5.4 s for 16
    rows, every index build — vs 0.3 s from a 1-slice RDD. One slice is
    exact for driver-local literals: they are bounded by construction,
    and consumers either broadcast them or reduce them immediately."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )


def _plan_bytes(df: DataFrame) -> int | None:
    """The optimizer's size estimate of ``df`` in bytes (file-backed for
    scans), or None when the plan has none: a relation without
    statistics, such as a frame built from local rows, reports
    ``spark.sql.defaultSizeInBytes`` (Long.MaxValue), which as a width
    would ask for the 1 << 20 partition cap. Pure driver-side plan
    analysis, zero jobs."""
    try:
        size = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
        conf = df.sparkSession._jsparkSession.sessionState().conf()
        unknown = conf.defaultSizeInBytes()
    except Exception:
        return None
    return None if size >= unknown else size


def spread_narrow(df: DataFrame, key: str | None = None) -> DataFrame:
    """Repartition ``df`` to defaultParallelism when its input is
    narrow — WITHOUT finalizing its plan. The old guard
    ``df.rdd.getNumPartitions() < par`` converted the frame to an RDD,
    which under AQE finalizes the AdaptiveSparkPlan and RUNS its
    upstream shuffle stages at build time, discarding the result
    (measured r12: twin 1.6 s javaToPython jobs inside
    p_curation_pipeline — guide §1.4 warns about exactly this
    conversion). The width here is ESTIMATED from the optimizer's
    size statistics (``_plan_bytes``, so it mirrors the scan
    splitter: bytes / maxPartitionBytes) — zero jobs. Small inputs
    still spread before CPU-bound hashing/explode work; corpus-scale
    inputs no-op exactly as before. Derived frames whose statistics
    overestimate (joins) simply skip the spread, which is the safe
    direction at scale."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    size = _plan_bytes(df)
    if size is None:
        return df
    try:
        # Spark's own byte-string parser: "1g", "64k", "128m" and plain
        # byte counts all mean what the scan splitter takes them to mean
        java_utils = spark._jvm.org.apache.spark.network.util.JavaUtils
        mpb = java_utils.byteStringAsBytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
        )
    except Exception:
        return df
    if mpb <= 0:
        return df
    if size // mpb + 1 < par:
        return df.repartition(par, key) if key else df.repartition(par)
    return df


def est_width(df: DataFrame, bytes_per_part: int = 32 << 20) -> int:
    """Scale-adaptive partition count for an explicit keyed
    repartition feeding CPU-bound per-group work (grouped-map pandas,
    per-group model fits, per-doc window rounds): max(defaultParallelism,
    ``_plan_bytes`` / ``bytes_per_part``). AQE coalesces post-shuffle
    partitions by BYTES, which is the wrong objective when the per-row
    cost is Python-side CPU (measured r12: a_ewma_user's grouped-map ran ~30k
    pandas groups on the 6 byte-coalesced tasks of a ~15 MB shuffle —
    4.5 s on a 32-core host). An explicit repartition(est_width, key)
    pins cores-many partitions at bench scale and grows with the data
    at corpus scale; the downstream groupBy on the same key reuses the
    exchange (§2.4). Zero jobs."""
    par = df.sparkSession.sparkContext.defaultParallelism
    size = _plan_bytes(df)
    if size is None:
        return par
    return max(par, min(size // bytes_per_part, 1 << 20))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every canonical table as a temp view (for spark.sql paths)."""
    for name in schemas.TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
