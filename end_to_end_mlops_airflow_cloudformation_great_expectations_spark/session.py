"""SparkSession factory with the 100 TB-hygiene configuration profile.

SURVEY.md §4.3: AQE on (runtime re-plan, partition coalescing, skew-join
split), Arrow for every pandas seam, UTC session timezone so results are
comparable with the DuckDB oracle, shuffle partitions sized for the
local[*] test harness (on a real cluster this is overridden to
~2-3x total cores or left to AQE's coalescing).

The profile is a plain dict so an Airflow ``SparkSubmitOperator`` (the
reference's orchestration layer — /root/reference/aws_infrastructure/
airflow-setup.py:457-468 runs Airflow 2.10.4) can pass the same conf to
``spark-submit --conf`` on a 1000-executor cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Scale-hygiene configuration (SURVEY.md §4.3). Values chosen to be
#: correct on local[*] AND sensible on a large cluster:
#: - AQE handles runtime partition sizing + skew, so a mis-set static
#:   shuffle.partitions is recoverable.
#: - autoBroadcastJoinThreshold raised to 64 MB: every dimension table in
#:   the star schema (region/nation/customer/supplier/part) broadcasts.
#: - maxPartitionBytes 128 MB: scan-side parallelism at 100 TB ≈ 800k
#:   tasks, which AQE coalesces after the first shuffle.
#: - Arrow on: every pandas_udf / applyInPandas / toPandas crossing is
#:   columnar-batched, not row-pickled.
SCALE_PROFILE: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.maxRecordsPerFile": "5000000",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.sql.shuffle.partitions": "32",
    # testdata events.parquet carries TIMESTAMP(NANOS) which the Spark
    # reader rejects by default; read as long and convert in catalog.load.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Call-site capture off: PySpark otherwise wraps every
    # pyspark.sql.functions call to fetch the active session and
    # spark.sql.stackTracesInDataFrameContext, set and clear
    # PySparkCurrentOrigin in the JVM, and retry `import ipykernel` —
    # several Py4J round trips per call, ~70 % of a typical query build's
    # trips (a_odds_ratio: 1,223 -> 323).
    # Errors then name no Python call site. PySpark reads this once per
    # Python process: pyspark.errors.utils.is_debugging_enabled caches
    # the value it sees at the first wrapped call.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(
    app_name: str = "pyspark_engine",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the scale profile applied.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    cluster the caller leaves it None and spark-submit supplies it.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is not None:
        builder = builder.master(master)
    conf = dict(SCALE_PROFILE)
    # Local-mode JVMs default to a 1 GB driver heap — with 8-32 task
    # threads that is ~10 MB execution memory per task, which mis-models
    # any real executor (4-16 GB) and fails hash-relation builds that a
    # cluster absorbs trivially. Only effective when this call launches
    # the JVM (ignored on an already-running gateway); a cluster deploy
    # sets --driver-memory itself.
    if master is not None and master.startswith("local"):
        conf.setdefault("spark.driver.memory", "8g")
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
