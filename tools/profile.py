"""Profile named queries with the benchmark's own span collector.

Each query runs as two traced spans (``perfbench/spans.py``): its plan
build, then a ``noop`` execution. Every Spark job a span launches is
tagged with a job group and read after the listener bus has drained,
from the status tracker and the REST API; a reused shuffle stage
counts once and skipped stages not at all. For the last of ``--reps``
runs (the steady state) it prints one JSON line per query:

- ``build`` / ``exec``: wall seconds, jobs, stages, tasks, shuffle
  read/write and spill bytes, task run seconds — the build's jobs are
  the eager ones it launches (checkpoints, footer inference);
- ``driver_gap_s``: build + execution wall minus the union of their
  job spans;
- ``walls``: build + execution wall of every run;

then one line per job: its span and the gap since the previous job
ended. Counters repeat exactly from run to run; walls follow the
host's load, so compare counters.

Given a leading ``<tag> <suffix>``, the formatted physical plan of the
last build of each query is also written, before it runs, to
``plans/<tag>/<name>_<suffix>.txt``.

Usage: python tools/profile.py [--reps N] [<tag> <suffix>] <name> [name ...]
   e.g. python tools/profile.py --reps 2 g_kcore          (steady state)
        python tools/profile.py r11 before p_curation_pipeline

Queries run on ``session.get_spark`` at ``$SPARK_GRAFT_SF_DIR``
(default: the ``sf0.01`` directory beside ``catalog.DEFAULT_SF_DIR``).
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

if __name__ == "profile":
    # A script run from this directory (``python tools/check.py``, this
    # one too) has it first on sys.path, so the standard library's
    # ``profile``, which cProfile and through it pyspark import, resolves
    # to this file: load the real one in its place.
    import importlib.util
    import sysconfig

    _spec = importlib.util.spec_from_file_location(
        "profile", os.path.join(sysconfig.get_path("stdlib"), "profile.py")
    )
    sys.modules["profile"] = importlib.util.module_from_spec(_spec)
    _spec.loader.exec_module(sys.modules["profile"])
else:
    sys.path.insert(0, ROOT)
    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark import (
        catalog,
    )
    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.queries import (  # noqa: E501
        QUERIES,
    )
    from perfbench.spans import Tracer, union_s

_USAGE = "usage: python tools/profile.py [--reps N] [<tag> <suffix>] <name> [name ...]"


def _counts(span) -> dict:
    st, c = span.stats, span.stats.counters
    return {
        "s": round(span.dur, 3),
        "jobs": st.jobs,
        "stages": st.stages,
        "tasks": c["tasks"],
        "shuffle_read_bytes": c["shuffle_read_bytes"],
        "shuffle_write_bytes": c["shuffle_write_bytes"],
        "spill_bytes": c["spill_memory_bytes"] + c["spill_disk_bytes"],
        "task_run_s": c["task_run_ms"] / 1e3,
    }


def _write_plan(spark, df, path: str) -> None:
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write(plan)


def profile(
    spark, tracer, sf_dir: str, name: str, reps: int = 1, plan_path: str | None = None
) -> dict:
    """Build and run query ``name`` ``reps`` times under ``tracer`` (one
    enabled ``Tracer`` per SparkContext: its job-group ids restart with
    each new one); the counters and job spans of the last run (see the
    module docstring)."""
    walls = []
    for rep in range(reps):
        df = tracer.call("build", name, QUERIES[name], spark, sf_dir)
        if plan_path and rep == reps - 1:
            _write_plan(spark, df, plan_path)
        tracer.call("exec", name, df.write.format("noop").mode("overwrite").save)
        spark.catalog.clearCache()
        tracer.collect()
        build, run = tracer.spans[-2:]
        walls.append(round(build.dur + run.dur, 3))
    job_spans = {"build": build.stats.job_spans, "exec": run.stats.job_spans}
    gap = build.dur + run.dur - union_s(job_spans["build"] + job_spans["exec"])
    return {
        "build": _counts(build),
        "exec": _counts(run),
        "driver_gap_s": round(gap, 3),
        "walls": walls,
        "job_spans": job_spans,
    }


def _usage(msg: str = "") -> None:
    print(msg + _USAGE, file=sys.stderr)
    sys.exit(2)


def main(argv: list[str]) -> None:
    reps = 1
    if argv[:1] == ["--reps"]:
        if not argv[1:2] or not argv[1].isdigit() or int(argv[1]) < 1:
            _usage()
        reps, argv = int(argv[1]), argv[2:]
    tag = suffix = None
    if len(argv) >= 3 and argv[0] not in QUERIES:
        tag, suffix, argv = argv[0], argv[1], argv[2:]
    unknown = [n for n in argv if n not in QUERIES]
    if unknown or not argv:
        _usage(f"unknown queries: {unknown}\n" if unknown else "")
    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.session import (
        get_spark,
    )

    sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR",
        os.path.join(os.path.dirname(catalog.DEFAULT_SF_DIR), "sf0.01"),
    )
    spark = get_spark("profile")
    tracer = Tracer(spark, enabled=True)
    # first scan outside the spans: JVM warm-up, not query work
    catalog.load(spark, sf_dir, "documents").write.format("noop").mode("overwrite").save()
    for name in argv:
        plan_path = tag and os.path.join(ROOT, "plans", tag, f"{name}_{suffix}.txt")
        report = profile(spark, tracer, sf_dir, name, reps, plan_path)
        job_spans = report.pop("job_spans")
        print(name, json.dumps(report))
        prev_end = None
        for part in ("build", "exec"):
            for i, (start, end) in enumerate(job_spans[part]):
                gap = "" if prev_end is None else f"  gap {start - prev_end:6.3f}s"
                print(f"  {part:5s} job {i:3d} {end - start:7.3f}s{gap}")
                prev_end = end
        if plan_path:
            print(f"  wrote {plan_path}")
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
