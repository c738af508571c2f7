"""Per-layer metrics of a traced run, computed from its spans.

A layer is a module of the package, and a span is one call into it from
the benchmark (see ``spans.Tracer``). Times and counts of the timed
region are given per round, so runs with different round counts
compare. Layers a workload does not call report 0.

=================  ========================================================
layer              metrics
=================  ========================================================
``session``        ``launch_s`` (the first ``get_spark``: JVM launch and
                   SparkContext), ``get_spark_s`` (median later
                   ``get_spark``: a new SparkContext in the running JVM),
                   ``jvm_peak_rss_mb`` (VmHWM)
``catalog``        in the last set-up: ``warm_s`` (first loads and scans of
                   the tables), ``load_miss_s`` (first loads: footer
                   inference), ``load_hit_ms`` (median memo-hit load)
``queries``        ``build_s``, ``build_jobs``, ``build_job_s`` (union of
                   build-time job spans), ``build_py_s`` (build minus job
                   spans), ``build_share`` (build / build + execution)
``spark``          the engine under every timed call that is not a query
                   build: ``exec_s``, ``jobs``, ``stages``, ``tasks``,
                   ``task_run_s``, ``task_cpu_s``, shuffle and spill bytes,
                   ``driver_gap_s`` (wall minus the union of job spans),
                   ``failed_tasks``
``operators``      median append / probe / compact time of the persisted
                   MinHash and IVF indexes, index bytes per indexed input
                   byte, index data files
``orchestration``  trips DAG steps per round, output bytes per input byte
=================  ========================================================
"""

from __future__ import annotations

import statistics

OPERATOR_KINDS = (
    "minhash_append",
    "minhash_probe",
    "minhash_compact",
    "ivf_append",
    "ivf_search",
    "ivf_compact",
)


def unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_share", "_per_input_byte")):
        return "ratio"
    if name.endswith("_s"):
        return "s"
    return "count"


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def per_layer(spans, *, setup_spans, measured_from, rounds, workload, launch_s, get_spark_s, jvm_rss_mb) -> dict:
    setup = spans[setup_spans[0] : setup_spans[1]]
    timed = spans[measured_from:]
    per_round = 1.0 / max(rounds, 1)

    def total(layer, kind):
        return sum(s.dur for s in timed if s.layer == layer and s.name == kind)

    m = {
        "session.launch_s": launch_s,
        "session.get_spark_s": get_spark_s,
        "session.jvm_peak_rss_mb": jvm_rss_mb,
        "catalog.warm_s": sum(s.dur for s in setup if s.layer == "catalog" and s.name != "load_hit"),
        "catalog.load_miss_s": sum(s.dur for s in setup if s.layer == "catalog" and s.name == "load_miss"),
        "catalog.load_hit_ms": 1000.0 * _median(s.dur for s in setup if s.layer == "catalog" and s.name == "load_hit"),
    }

    build = [s for s in timed if s.layer == "queries"]
    build_s = sum(s.dur for s in build)
    build_job_s = sum(s.stats.job_s for s in build)
    engine = [s for s in timed if s.layer in ("spark", "operators", "orchestration")]
    exec_s = sum(s.dur for s in engine)
    m.update(
        {
            "queries.build_s": build_s * per_round,
            "queries.build_py_s": (build_s - build_job_s) * per_round,
            "queries.build_jobs": sum(s.stats.jobs for s in build) * per_round,
            "queries.build_job_s": build_job_s * per_round,
            "queries.build_share": build_s / (build_s + exec_s) if build else 0.0,
        }
    )

    def counter(key):
        return sum(s.stats.counters[key] for s in engine) * per_round

    m.update(
        {
            "spark.exec_s": exec_s * per_round,
            "spark.jobs": sum(s.stats.jobs for s in engine) * per_round,
            "spark.stages": sum(s.stats.stages for s in engine) * per_round,
            "spark.tasks": counter("tasks"),
            "spark.task_run_s": counter("task_run_ms") / 1e3,
            "spark.task_cpu_s": counter("task_cpu_ns") / 1e9,
            "spark.shuffle_read_bytes": counter("shuffle_read_bytes"),
            "spark.shuffle_write_bytes": counter("shuffle_write_bytes"),
            "spark.spill_bytes": counter("spill_memory_bytes") + counter("spill_disk_bytes"),
            "spark.driver_gap_s": sum(s.dur - s.stats.job_s for s in engine) * per_round,
            "spark.failed_tasks": counter("failed_tasks"),
        }
    )

    for kind in OPERATOR_KINDS:
        m[f"operators.{kind}_s"] = _median(s.dur for s in timed if s.layer == "operators" and s.name == kind)
    idx = workload.index_stats() if hasattr(workload, "index_stats") else None
    m["operators.index_bytes_per_input_byte"] = idx["index_bytes"] / idx["input_bytes"] if idx else 0.0
    m["operators.index_files"] = idx["index_files"] if idx else 0

    m.update(
        {
            "orchestration.validate_s": total("orchestration", "validate") * per_round,
            "orchestration.featurize_write_s": total("orchestration", "featurize_write") * per_round,
            "orchestration.vendor_checks_s": total("orchestration", "vendor_check") * per_round,
            "orchestration.output_bytes_per_input_byte": (
                workload.output_ratio() if hasattr(workload, "output_ratio") else 0.0
            ),
        }
    )
    return m
