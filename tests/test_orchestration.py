"""Dynamic pipeline generator tests (the reference's README headline:
'dynamic Airflow pipeline generator') — spec topology, local
execution of the full trips pipeline, cycle detection, airflow seam."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.orchestration import (
    dag_factory,
)
from tests.test_reference_fidelity import VENDORS, make_trips


def test_spec_topology():
    spec = dag_factory.trips_pipeline_spec(VENDORS, "/in", "/out")
    order = [t.task_id for t in spec.topo_order()]
    assert order[0] == "validate_raw"
    assert order[1] == "featurize_split_write"
    assert set(order[2:]) == {f"check_{v}" for v in VENDORS}
    # one pipeline stage per logical step — NOT one task per vendor for
    # the heavy work (the fan-out is a single partitioned write)
    assert len(order) == 2 + len(VENDORS)


def test_cycle_detection():
    spec = dag_factory.PipelineSpec(
        "c", None,
        [
            dag_factory.TaskSpec("a", None, ["b"]),
            dag_factory.TaskSpec("b", None, ["a"]),
        ],
    )
    with pytest.raises(ValueError, match="cycle"):
        spec.topo_order()


def test_run_locally_end_to_end(spark, tmp_path):
    raw = str(tmp_path / "trips_raw")
    out = str(tmp_path / "trips_out")
    make_trips(spark, n=400).write.parquet(raw)

    spec = dag_factory.trips_pipeline_spec(VENDORS, raw, out)
    results = spec.run_locally(spark)

    assert results["validate_raw"]["row_count"] == 400
    back = spark.read.parquet(out)
    assert back.count() == 400
    # vendor × split Hive partitioning round-trips
    assert set(back.select("split").distinct().toPandas()["split"]) == {
        "train",
        "test",
    }
    assert set(back.select("vendor").distinct().toPandas()["vendor"]) == set(VENDORS)
    # features present and sane
    row = back.filter(F.col("hour").isNotNull()).first()
    assert 0.0 <= row["hour"] < 24.0 and row["quarter"] in (1, 2, 3, 4)
    for v in VENDORS:
        assert results[f"check_{v}"]["row_count"] > 0


def test_featurize_records_the_schema_a_read_infers(spark, tmp_path):
    """featurize_split_write memoizes the schema of its partitioned
    output, so the vendor checks read it without an inference job; that
    schema is exactly what a fresh read of the output infers."""
    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark import (
        catalog,
    )

    raw = str(tmp_path / "trips_raw")
    out = str(tmp_path / "trips_out")
    make_trips(spark, n=200).write.parquet(raw)
    spec = dag_factory.trips_pipeline_spec(VENDORS, raw, out)
    task = {t.task_id: t for t in spec.tasks}["featurize_split_write"]
    task.fn(spark, task.conf)
    memo = catalog._SCHEMA_MEMO[
        (spark.sparkContext.applicationId, str(tmp_path / "trips_out"))
    ]
    assert memo == spark.read.parquet(out).schema


def test_airflow_seam_raises_cleanly():
    spec = dag_factory.trips_pipeline_spec(VENDORS, "/in", "/out")
    with pytest.raises(NotImplementedError, match="airflow"):
        dag_factory.to_airflow_dag(spec)
