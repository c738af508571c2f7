from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.session import (  # noqa: E402
    get_spark,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[8]")
    yield s
    s.stop()


def build_jobs(spark, build, group: str) -> list[int]:
    """Ids of the Spark jobs launched while ``build()`` runs, ascending:
    ``build`` runs under job group ``group``, and the status tracker is
    read once the listener bus has delivered every event posted so far
    (the tracker is filled by a listener, so a job can still be missing
    from it right after ``build`` returns)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sorted(sc.statusTracker().getJobIdsForGroup(group) or [])
