"""Benchmark of the PySpark engine: one workload, one seed, one process.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload analytics_tail --seed 1 --seconds 20 --trace 0

The run is one driver process (this one) with ``SLOTS`` Spark task
slots. It generates its inputs from ``--seed`` in a temporary directory
inside the checkout, sets up ``SETUP_REPS`` times, each time on a new
SparkContext from ``session.get_spark`` (the first call also launches
the JVM), runs the workload's untimed, checked warm-up, then times
the workload's fixed number of whole rounds. The round count is fixed, so a slower
program does the same work; ``--seconds`` is accepted because the
command line carries it, and does not set the run's length. The last
line of standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics (``layers.py``) with ``--trace 1``.
A metric that could not be measured, because every operation it needs
failed, is ``null``, and ``correct`` is false. A detail record
(per-operation medians, failures, phase times, the host-speed probe,
every span) goes to ``.perfbench_out/`` in the checkout. Without the
package and ``tools/check.py`` beside this directory the run exits with
status 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "end_to_end_mlops_airflow_cloudformation_great_expectations_spark"
SLOTS = 4
SETUP_REPS = 2
END_TO_END = ("setup_s", "round_s", "op_p50_s", "op_geomean_s")


def host_probe() -> float:
    """Seconds for a fixed pure-Python kernel: a diagnostic of host speed,
    recorded in the detail record and applied to no metric."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def end_to_end(setup_s: float, res, detail: dict) -> dict:
    """The end-to-end metrics of an untraced run (see README.md); all but
    ``setup_s`` are None when no operation was timed."""
    by_kind: dict[str, list[float]] = {}
    for kind, s in res.samples:
        by_kind.setdefault(kind, []).append(s)
    medians = {k: statistics.median(v) for k, v in by_kind.items()}
    detail.update(op_samples=len(res.samples), rounds_s=res.rounds, per_kind_median_s=medians)
    if not res.samples:
        return {"setup_s": setup_s, **dict.fromkeys(END_TO_END[1:])}
    return {
        "setup_s": setup_s,
        "round_s": statistics.median(res.rounds),
        "op_p50_s": statistics.median(s for _, s in res.samples),
        "op_geomean_s": geomean(medians.values()),
    }


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM line in the JVM's /proc status")


def configure_process(work: str) -> None:
    """Spark's Python workers import the package and this directory's
    modules, so both go on their path; temp files go under ``work``."""
    here = os.path.dirname(os.path.abspath(__file__))
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, here, os.environ.get("PYTHONPATH")) if p)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    for p in (ROOT, here):
        if p not in sys.path:
            sys.path.insert(1, p)


def get_session(work: str, app: str):
    """The package's session (``session.get_spark``, with its own
    configuration and driver heap) on ``SLOTS`` slots. The benchmark sets
    only where files go (Spark and JVM temp files and the warehouse
    inside ``work``, no hsperfdata file in the system temp dir) and turns
    the console progress bar off."""
    from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.session import get_spark

    return get_spark(
        app,
        master=f"local[{SLOTS}]",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )


@dataclass
class SetUp:
    """What ``set_up`` measured, and the session it left running."""

    spark: object
    tracer: object
    launch_s: float  # the first get_spark: JVM launch and first SparkContext
    get_spark_s: list  # each later get_spark: a new SparkContext in the running JVM
    setups_s: list  # seconds per set-up, its get_spark included from the second set-up on
    spans: tuple  # span range of the last set-up in ``tracer``

    @property
    def setup_s(self) -> float:
        """The launch plus the median set-up (with two set-ups, their mean:
        one in a fresh JVM, one on a new SparkContext in a warm JVM)."""
        return self.launch_s + statistics.median(self.setups_s)


def set_up(workload, work: str, trace: bool, reps: int) -> SetUp:
    """Set ``workload`` up ``reps`` times, each on a new SparkContext from
    ``get_session``: the first call launches the JVM, later ones stop the
    previous context first, so every set-up creates a SparkContext and
    starts its Python workers. Each generates its inputs into a fresh
    directory, so every catalog load of a set-up misses the memo."""
    from spans import Tracer

    setups, get_spark_s, spark = [], [], None
    for rep in range(reps):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_session(work, f"perfbench-{workload.name}")
        t1 = time.perf_counter()
        if rep == 0:
            launch_s, t0 = t1 - t0, t1
        else:
            get_spark_s.append(t1 - t0)
        tracer = Tracer(spark, enabled=trace)
        workload.setup(spark, tracer, os.path.join(work, f"inputs{rep}"))
        setups.append(time.perf_counter() - t0)
    return SetUp(spark, tracer, launch_s, get_spark_s, setups, (0, len(tracer.spans)))


def measure(spark, workload, tracer, rounds: int, detail: dict):
    """Warm up, then time ``rounds`` rounds. Traced: ``rounds`` untraced
    rounds, then ``rounds`` traced ones; the difference of their round
    medians is the tracing overhead. Returns (results, first measured
    span)."""
    from spans import Tracer
    from workloads import Results

    res = Results()
    t0 = time.perf_counter()
    workload.warmup(spark, tracer, res)
    detail["phases_s"]["warmup"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    if tracer.enabled:
        plain = Results()
        workload.measure(spark, Tracer(spark, enabled=False), plain, rounds)
        res.attempted += plain.attempted
        res.failures += plain.failures
        first = len(tracer.spans)
        workload.measure(spark, tracer, res, rounds)
        detail.update(untraced_rounds_s=plain.rounds, traced_rounds_s=res.rounds)
        if res.rounds and plain.rounds:
            detail["trace_overhead_s"] = statistics.median(res.rounds) - statistics.median(plain.rounds)
    else:
        first = len(tracer.spans)
        workload.measure(spark, tracer, res, rounds)
    detail["phases_s"]["measure"] = time.perf_counter() - t0
    return res, first


def compute_metrics(workload, su: SetUp, res, detail, measured_from):
    """Per-layer metrics of a traced run, end-to-end metrics otherwise."""
    import layers

    if not su.tracer.enabled:
        return end_to_end(su.setup_s, res, detail)
    metrics = layers.per_layer(
        su.tracer.spans,
        setup_spans=su.spans,
        measured_from=measured_from,
        rounds=len(res.rounds),
        workload=workload,
        launch_s=su.launch_s,
        get_spark_s=statistics.median(su.get_spark_s) if su.get_spark_s else None,
        jvm_rss_mb=jvm_peak_rss_mb(),
    )
    metrics["trace.overhead_s"] = detail.get("trace_overhead_s")
    return metrics


def listed_metrics(trace: bool) -> list[str]:
    """The metric names ``BENCHMARK.json`` lists for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return [m["name"] for m in bench["per_layer" if trace else "end_to_end"]]


def run(args, work: str) -> dict:
    import layers
    from workloads import WORKLOADS, Results

    probe_start = host_probe()
    workload = WORKLOADS[args.workload](os.path.join(work, "w"), args.seed, SLOTS)
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "slots": SLOTS, "phases_s": {}}
    metrics, res, su = {}, Results(), None
    try:
        t0 = time.perf_counter()
        try:
            su = set_up(workload, work, bool(args.trace), SETUP_REPS)
        except Exception as exc:  # noqa: BLE001 - a failing set-up is reported, not fatal
            res.attempted += 1
            res.fail("set-up", f"{type(exc).__name__}: {exc}"[:300])
        else:
            detail.update(launch_s=su.launch_s, get_spark_s=su.get_spark_s, setups_s=su.setups_s)
            detail["phases_s"]["setup"] = time.perf_counter() - t0
            res, measured_from = measure(su.spark, workload, su.tracer, workload.rounds, detail)
            metrics = compute_metrics(workload, su, res, detail, measured_from)
    finally:
        detail.update(
            host_probe_s={"start": probe_start, "end": host_probe()},
            failures=res.failures,
            spans=su.tracer.dump() if su else [],
        )
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{args.workload}_seed{args.seed}_trace{args.trace}.json"), "w") as fh:
            json.dump({"metrics": metrics, "detail": detail}, fh, indent=1)
    metrics = {k: metrics.get(k) for k in listed_metrics(bool(args.trace))}
    return {
        "correct": not res.failures and None not in metrics.values(),
        "attempted": res.attempted,
        "failed": len(res.failures),
        "metrics": {k: {"value": v, "unit": layers.unit(k)} for k, v in metrics.items()},
    }


def stop_spark() -> None:
    """Stop the SparkContext and the JVM this process launched, and wait for it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - still running: kill and reap it
            proc.kill()
            proc.wait(timeout=30)


def new_work_dir(prefix: str) -> str:
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    return tempfile.mkdtemp(prefix=f"{prefix}-", dir=tmp_root)


def checkout_complete() -> bool:
    for needed in (PKG, os.path.join("tools", "check.py")):
        if not os.path.exists(os.path.join(ROOT, needed)):
            print(f"perfbench: {needed} not found under {ROOT}; run from a full checkout", file=sys.stderr)
            return False
    return True


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not checkout_complete():
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = new_work_dir(args.workload)
    configure_process(work)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        result = run(args, work)
    finally:
        try:
            stop_spark()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
