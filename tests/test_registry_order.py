"""Registration-order contract (VERDICT r01 item 1).

The driver's CORRECTNESS pass covers the first ~50 registered queries;
the registry pins an explicit canonical window so every SURVEY §2
operator ID earns a driver-green row across rounds. A refactor that
perturbs import order must not silently shuffle the window.
"""

import end_to_end_mlops_airflow_cloudformation_great_expectations_spark.queries as _qpkg
from end_to_end_mlops_airflow_cloudformation_great_expectations_spark.queries import (
    ORACLES,
    QUERIES,
)


def test_window_is_the_pinned_canonical_list():
    assert list(QUERIES)[:50] == _qpkg._DRIVER_WINDOW_FIRST


def test_window_queries_all_have_oracles():
    """Window slots are wasted on rows-only checks — everything in the
    driver window must be hash-checkable."""
    missing = [n for n in _qpkg._DRIVER_WINDOW_FIRST if n not in ORACLES]
    assert missing == []


def test_registry_is_consistent():
    assert set(ORACLES) <= set(QUERIES)
    assert len(QUERIES) >= 100


def test_coverage_md_totals_match_registry():
    """VERDICT r07 item 3: COVERAGE.md's totals header drifted once
    (169/160 vs the real 319/310); pin it to the live registry so it
    can't drift again."""
    import pathlib
    import re

    text = pathlib.Path(__file__).resolve().parents[1].joinpath(
        "COVERAGE.md"
    ).read_text()
    m = re.search(
        r"\*\*(\d+) registered queries \((\d+) with DuckDB oracles, "
        r"(\d+) rows-only\)\*\*",
        text,
    )
    assert m, "COVERAGE.md totals header missing or reformatted"
    total, with_oracle, rows_only = map(int, m.groups())
    assert total == len(QUERIES)
    assert with_oracle == len(ORACLES)
    assert rows_only == len(QUERIES) - len(ORACLES)


def test_window_holds_every_oracle_query_not_yet_driver_green():
    """Invariant: every oracle-backed query is driver-green in the
    CORRECTNESS_r01.. artifact union or sits in the driver window — an
    addition that is neither fails here. The window is 50 distinct
    oracle-backed names; its first 14 slots held the final rotation's
    never-checked queries, and every slot after them is a driver-green
    pad."""
    import json
    import pathlib

    w = _qpkg._DRIVER_WINDOW_FIRST
    assert len(w) == 50
    assert len(set(w)) == 50
    assert [n for n in w if n not in ORACLES] == []
    root = pathlib.Path(__file__).resolve().parents[1]
    green = set()
    for f in sorted(root.glob("CORRECTNESS_r*.json")):
        for name, row in json.loads(f.read_text()).items():
            if isinstance(row, dict) and row.get("rows_match") and row.get("err") is None:
                green.add(name)
    assert set(ORACLES) - green <= set(w)
    assert set(w[14:]) <= green


def test_rerecord_refuses_throttled_host():
    """VERDICT r09 item 5: bar re-records must be refused when the
    host-health control query runs slow — machine episodes invalidate
    the RUN, not the bars (synthetic-artifact unit test of the pure
    decision core)."""
    import bench

    bars = {bench._CONTROL_QUERY: 1.0, "q_slow": 2.0}
    # healthy host: control at 1.1x -> accepted
    ok, msg = bench._rerecord_decision(
        {bench._CONTROL_QUERY: 1.1, "q_slow": 3.0}, bars, ["q_slow"]
    )
    assert ok, msg
    # throttled host: control at 1.5x -> refused
    ok, msg = bench._rerecord_decision(
        {bench._CONTROL_QUERY: 1.5, "q_slow": 3.0}, bars, ["q_slow"]
    )
    assert not ok and "host suspect" in msg
    # control missing from the run -> refused
    ok, msg = bench._rerecord_decision({"q_slow": 3.0}, bars, ["q_slow"])
    assert not ok and "not timed" in msg
    # named query missing a timing -> refused
    ok, msg = bench._rerecord_decision(
        {bench._CONTROL_QUERY: 1.0}, bars, ["q_slow"]
    )
    assert not ok and "no timing" in msg


def test_control_query_has_a_stable_bar():
    """The control must exist in both HEADLINE and the bars file, or
    the suspect-host check silently never fires."""
    import json
    import pathlib

    import bench

    root = pathlib.Path(__file__).resolve().parents[1]
    bars = json.loads((root / "BASELINE_bars.json").read_text())["bars"]
    assert bench._CONTROL_QUERY in bench.HEADLINE
    assert bars.get(bench._CONTROL_QUERY)


def test_every_headline_query_has_a_bar_and_is_registered():
    """VERDICT r08 item 5: BASELINE_bars.json is the canonical gate
    input — every bench HEADLINE name must be registered and have a
    bar (a new headline entry without a recorded bar would silently
    escape the 2x gate)."""
    import json
    import pathlib

    import bench

    root = pathlib.Path(__file__).resolve().parents[1]
    bars = json.loads((root / "BASELINE_bars.json").read_text())["bars"]
    missing_bar = [n for n in bench.HEADLINE if n not in bars]
    unregistered = [n for n in bench.HEADLINE if n not in QUERIES]
    assert missing_bar == []
    assert unregistered == []
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))
