"""Dynamic pipeline generator — the reference's headline feature
("dynamic Airflow pipeline generator", /root/reference/README.md:3),
re-expressed for Spark jobs.

The reference's orchestration stack is Airflow 2.10.4 on EC2/Docker
with the DAG directory S3-mounted (airflow-setup.py:445-468) and a
generator that emits one pipeline per vendor dataset (evidenced by the
directory-per-vendor outputs, source_data/datasets/*/). Here the same
idea is a *pipeline spec factory*: a plain-data DAG description
(tasks + dependencies + spark-submit payloads) that

- compiles to a real Airflow DAG when airflow is importable
  (``to_airflow_dag`` — SparkSubmitOperator per task), and
- otherwise stays an inspectable/testable spec and can be executed
  locally in topological order against a SparkSession
  (``run_locally``) — which is also what CI uses.

The crucial structural difference from the reference: per-vendor work
is NOT one Airflow task per vendor doing pandas work — the whole
vendor fan-out is a single Spark job (``partitionBy`` write,
SURVEY.md §3.3): the DAG stays O(stages), not O(vendors).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field


@dataclass
class TaskSpec:
    task_id: str
    #: dotted python callable path (for spark-submit) — and, when
    #: running locally, a direct callable(spark, conf).
    fn: Callable | None
    upstream: list[str] = field(default_factory=list)
    conf: dict = field(default_factory=dict)


@dataclass
class PipelineSpec:
    dag_id: str
    schedule: str | None
    tasks: list[TaskSpec] = field(default_factory=list)

    def topo_order(self) -> list[TaskSpec]:
        by_id = {t.task_id: t for t in self.tasks}
        seen: dict[str, int] = {}
        out: list[TaskSpec] = []

        def visit(tid: str, stack: tuple = ()):
            if tid in stack:
                raise ValueError(f"cycle through {tid}")
            if seen.get(tid):
                return
            for up in by_id[tid].upstream:
                visit(up, (*stack, tid))
            seen[tid] = 1
            out.append(by_id[tid])

        for t in self.tasks:
            visit(t.task_id)
        return out

    def run_locally(self, spark) -> dict[str, object]:
        """Execute tasks in dependency order on one SparkSession —
        the in-process twin of the Airflow execution."""
        results: dict[str, object] = {}
        for t in self.topo_order():
            if t.fn is not None:
                results[t.task_id] = t.fn(spark, t.conf)
        return results


def trips_pipeline_spec(
    vendors: list[str],
    input_path: str,
    output_path: str,
    dag_id: str = "trips_feature_pipeline",
    schedule: str | None = "@daily",
) -> PipelineSpec:
    """The reconstructed reference pipeline (SURVEY.md §3.3) as a spec:
    ingest → validate (GX gate) → featurize (A4-A6) → split (A7) →
    single partitioned fan-out write (S3) → per-vendor validation.

    ``vendors`` parameterizes only the *validation* fan-out tasks (one
    light assertion task per vendor, mirroring the reference's
    per-vendor GX checks); the heavy work is vendor-agnostic Spark."""

    def ingest(spark, conf):
        return spark.read.parquet(conf["input_path"])

    def validate(spark, conf):
        from .. import catalog
        from ..operators.expectations import Suite

        # the gate must see the batch's real schema: drop any memo for
        # the input path and infer it afresh; the featurize step then
        # reads the batch through the schema inferred here
        catalog.forget_schemas(conf["input_path"])
        df = catalog.read_parquet(spark, conf["input_path"])
        return (
            Suite("trips_raw")
            .expect_row_count_between(1)
            .expect_no_nulls("trip_id")
            .expect_unique("trip_id")
            .validate(df)
        )

    def featurize_split_write(spark, conf):
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from .. import catalog
        from ..functions.columns import frac_hour, weekday_name
        from ..operators.encode import hash_split_col
        from ..operators.geo import haversine_km

        df = catalog.read_parquet(spark, conf["input_path"])
        feats = df.select(
            "trip_id",
            "vendor",
            "trip_duration",
            "passenger_count",
            F.round(frac_hour(F.col("pickup_ts")), 6).alias("hour"),
            weekday_name(F.col("pickup_ts")).alias("weekday"),
            F.quarter("pickup_ts").alias("quarter"),
            F.round(
                haversine_km(
                    F.col("pickup_lat"),
                    F.col("pickup_lon"),
                    F.col("dropoff_lat"),
                    F.col("dropoff_lon"),
                ),
                4,
            ).alias("distance"),
            hash_split_col(F.col("trip_id")).alias("split"),
        )
        # ONE job writes every vendor × split partition (vs the
        # reference's serial per-vendor pandas writes)
        parts = ("vendor", "split")
        feats.write.mode("overwrite").partitionBy(*parts).parquet(
            conf["output_path"]
        )
        # what a read of the output infers: the data columns, then the
        # partition columns, all nullable; the vendor checks read it
        # without an inference job
        fields = [f for f in feats.schema if f.name not in parts] + [
            feats.schema[p] for p in parts
        ]
        catalog.remember_schema(
            spark,
            conf["output_path"],
            T.StructType([T.StructField(f.name, f.dataType) for f in fields]),
        )
        return conf["output_path"]

    def check_vendor(vendor: str):
        def _check(spark, conf):
            from .. import catalog
            from ..operators.expectations import Suite

            # the package wrote output_path itself and recorded its
            # schema: the vendor checks run no inference job
            part = catalog.read_parquet(spark, conf["output_path"]).where(
                f"vendor = '{vendor}'"
            )
            return Suite(f"vendor_{vendor}").expect_row_count_between(0).validate(
                part
            )

        return _check

    conf = {"input_path": input_path, "output_path": output_path}
    tasks = [
        TaskSpec("validate_raw", validate, [], conf),
        TaskSpec("featurize_split_write", featurize_split_write, ["validate_raw"], conf),
    ] + [
        TaskSpec(f"check_{v}", check_vendor(v), ["featurize_split_write"], conf)
        for v in vendors
    ]
    return PipelineSpec(dag_id, schedule, tasks)


def to_airflow_dag(spec: PipelineSpec, spark_submit_conf: dict | None = None):
    """Compile the spec to a real Airflow DAG (requires airflow; the
    test container ships without it — callers import-guard)."""
    try:
        from airflow import DAG
        from airflow.operators.python import PythonOperator
    except ImportError as exc:  # pragma: no cover - env-gated
        raise NotImplementedError(
            "airflow is not installed in this environment; use "
            "PipelineSpec.run_locally or deploy where airflow exists"
        ) from exc

    import pendulum  # airflow dependency

    dag = DAG(
        spec.dag_id,
        schedule=spec.schedule,
        start_date=pendulum.datetime(2024, 1, 1, tz="UTC"),
        catchup=False,
    )
    ops = {}
    for t in spec.topo_order():
        ops[t.task_id] = PythonOperator(
            task_id=t.task_id,
            python_callable=lambda t=t: t.fn(_get_session(), t.conf),
            dag=dag,
        )
    for t in spec.tasks:
        for up in t.upstream:
            ops[up] >> ops[t.task_id]
    return dag


def _get_session():  # pragma: no cover - airflow path only
    from ..session import get_spark

    return get_spark("airflow_task")
