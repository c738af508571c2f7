"""Per-job profile of one query run: list every Spark job the query
triggers (build-time AND execution), with stage counts, task counts and
durations, from the REST API. The companion to workmeter.py when the
question is WHICH jobs a sequential/iterative query spends its wall on
(guide §1: measure first; §7.1 the UI's Jobs view, scripted).

Usage: python tools/jobprof.py <name> [<name> ...]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = sys.argv[1:]
    if not names:
        print("usage: python tools/jobprof.py <name> [name ...]", file=sys.stderr)
        sys.exit(2)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.queries import (  # noqa: E501
        QUERIES,
    )
    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.session import (  # noqa: E501
        get_spark,
    )
    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark import (
        catalog,
    )

    spark = get_spark("jobprof")
    catalog.load(spark, sf_dir, "documents").write.format("noop").mode(
        "overwrite"
    ).save()
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId

    def _get(url: str):
        return json.load(urllib.request.urlopen(url, timeout=30))

    for name in names:
        jobs0 = _get(f"{ui}/api/v1/applications/{app}/jobs")
        floor = max((j["jobId"] for j in jobs0), default=-1)
        t0 = time.time()
        df = QUERIES[name](spark, sf_dir)
        t_build = time.time() - t0
        df.write.format("noop").mode("overwrite").save()
        t_total = time.time() - t0
        spark.catalog.clearCache()
        jobs = sorted(
            (
                j
                for j in _get(f"{ui}/api/v1/applications/{app}/jobs")
                if j["jobId"] > floor
            ),
            key=lambda j: j["jobId"],
        )
        print(f"== {name}: build {t_build:.2f}s total {t_total:.2f}s "
              f"jobs {len(jobs)}")
        prev_end = None
        for j in jobs:
            comp = j.get("completionTime")
            dur = ""
            gap = ""
            if comp:
                import datetime as _dt

                s = _dt.datetime.strptime(
                    j["submissionTime"][:23], "%Y-%m-%dT%H:%M:%S.%f"
                )
                e = _dt.datetime.strptime(comp[:23], "%Y-%m-%dT%H:%M:%S.%f")
                dur = f"{(e - s).total_seconds():7.3f}s"
                if prev_end is not None:
                    gap = f" gap {(s - prev_end).total_seconds():6.3f}s"
                prev_end = e
            else:
                # no completion time: the next gap must not be measured
                # from an older job's end
                prev_end = None
            desc = (j.get("description") or j.get("name", ""))[:100]
            print(
                f"  job {j['jobId']:4d} {dur}{gap} stages "
                f"{len(j['stageIds'])} tasks {j['numTasks']:5d}  {desc}"
            )
    spark.stop()


if __name__ == "__main__":
    main()
