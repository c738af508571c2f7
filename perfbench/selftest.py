"""Fast self-test of the benchmark, in one process on a small scale.

    python3 perfbench/selftest.py

Runs ``analytics_tail`` at sf0.001 and ``ingest_rounds`` on 1,000-trip
batches, and checks that:

1. each workload reports every end-to-end and every per-layer metric
   named in ``BENCHMARK.json``, with its unit;
2. a deliberately wrong expected query result counts as a failed
   operation;
3. in a traced run, each timed query's build span plus execution span
   is within 5 % of the query's timed wall.

Prints one line per check and exits with status 1 if any fails.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run

BENCHMARK = os.path.join(run.ROOT, "BENCHMARK.json")
SPAN_TOLERANCE = 0.05


def check(ok: bool, what: str, failures: list) -> None:
    print(f"{'ok  ' if ok else 'FAIL'} {what}", flush=True)
    if not ok:
        failures.append(what)


def metrics_of(workload, trace: bool):
    """Two set-ups and a one-round measured run; returns (results, spans from
    the first measured one, metrics)."""
    su = run.set_up(workload, workload.work_dir, trace, reps=2)
    detail = {"phases_s": {}}
    res, first = run.measure(su.spark, workload, su.tracer, 1, detail)
    metrics = run.compute_metrics(workload, su, res, detail, first)
    return res, su.tracer.spans[first:], metrics


def main() -> int:
    if not run.checkout_complete():
        return 2
    with open(BENCHMARK) as fh:
        bench = json.load(fh)
    work = run.new_work_dir("selftest")
    run.configure_process(work)
    import layers
    import workloads

    failures: list[str] = []
    try:
        small = {"analytics_tail": {"sf": 0.001}, "ingest_rounds": {"trips_per_round": 1_000}}
        for name, cls in workloads.WORKLOADS.items():
            for trace, listed in ((False, bench["end_to_end"]), (True, bench["per_layer"])):
                w = cls(os.path.join(work, f"{name}-{int(trace)}"), seed=7, slots=run.SLOTS)
                vars(w).update(small[name])
                res, spans, metrics = metrics_of(w, trace)
                want = {m["name"]: m["unit"] for m in listed}
                got = {k: layers.unit(k) for k in metrics}
                check(got == want, f"{name} trace={int(trace)}: every metric with its unit", failures)
                check(not res.failures, f"{name} trace={int(trace)}: no failed operation {res.failures}", failures)
                if name == "analytics_tail" and trace:
                    walls = [s for _, s in res.samples]
                    pairs = list(zip(spans[0::2], spans[1::2]))
                    off = [
                        abs(b.dur + e.dur - wall) / wall
                        for (b, e), wall in zip(pairs, walls)
                        if (b.layer, e.layer) == ("queries", "spark")
                    ]
                    check(
                        len(off) == len(walls) > 0 and max(off) <= SPAN_TOLERANCE,
                        f"{name}: build + exec spans within {SPAN_TOLERANCE:.0%} of each query wall "
                        f"(worst {max(off, default=float('nan')):.2%})",
                        failures,
                    )
        w = workloads.AnalyticsTail(os.path.join(work, "wrong"), seed=7, slots=run.SLOTS)
        w.sf = 0.001
        su = run.set_up(w, w.work_dir, False, reps=1)
        w.expected = w.oracle()
        wrong = w.queries[0]
        w.expected[wrong] = [("deliberately", "wrong")]
        res = workloads.Results()
        w.warmup(su.spark, su.tracer, res)
        check(
            len(res.failures) == 1 and res.failures[0].startswith(wrong),
            f"a wrong expected result for {wrong} is one failed operation of {res.attempted}",
            failures,
        )
    finally:
        try:
            run.stop_spark()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(f"{'FAILED: ' + '; '.join(failures) if failures else 'all checks passed'}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
