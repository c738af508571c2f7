"""tools/profile.py, the one profiler: its counters repeat exactly from
run to run, and the build-time jobs it reads through the benchmark's
span collector are the ones the status tracker sees."""

from __future__ import annotations

import importlib.util
import os

import pytest
from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.queries import (
    QUERIES,
)
from tests.conftest import SF_DIR, build_jobs

_COUNTERS = ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes")


@pytest.fixture(scope="module")
def tool():
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "profile.py",
    )
    spec = importlib.util.spec_from_file_location("profile_tool", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


@pytest.fixture(scope="module")
def tracer(spark, tool):
    return tool.Tracer(spark, enabled=True)


def test_profile_counters_repeat(spark, tool, tracer):
    QUERIES["a_odds_ratio"](spark, SF_DIR)  # warm the catalog memo
    runs = [tool.profile(spark, tracer, SF_DIR, "a_odds_ratio") for _ in range(2)]
    counters = [
        {part: {k: r[part][k] for k in _COUNTERS} for part in ("build", "exec")}
        for r in runs
    ]
    assert counters[0] == counters[1]
    assert counters[0]["exec"]["jobs"] > 0 and counters[0]["exec"]["tasks"] > 0


def test_profile_build_jobs_match_the_status_tracker(spark, tool, tracer):
    name = "g_kcore"
    QUERIES[name](spark, SF_DIR)  # warm the catalog memo
    report = tool.profile(spark, tracer, SF_DIR, name)
    tracked = build_jobs(spark, lambda: QUERIES[name](spark, SF_DIR), "profile-kcore")
    assert report["build"]["jobs"] == len(tracked) > 0
