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


def test_round9_window_is_greened_history():
    """The r9 window greened in CORRECTNESS_r09 (50/50); keep its
    composition pinned so the ledger accounting stays auditable."""
    w9 = _qpkg._ROUND9_WINDOW
    assert len(w9) == 50
    assert len(set(w9)) == 50
    assert not set(w9) & set(_qpkg._ROUND8_WINDOW)
    assert [n for n in w9 if n not in ORACLES] == []
    assert w9[:42] == _qpkg._ROUND9_QUEUE


def test_round10_window_is_greened_history():
    """The r10 window greened in CORRECTNESS_r10 (50/50); keep its
    composition pinned so the ledger accounting stays auditable."""
    w10 = _qpkg._ROUND10_WINDOW
    assert len(w10) == 50
    assert len(set(w10)) == 50
    assert [n for n in w10 if n not in ORACLES] == []
    pads = set(w10) & set(_qpkg._ROUND8_WINDOW)
    assert pads == {"sql_tpch_q1", "sql_tpch_q6", "sql_tpch_q12"}
    assert set(w10[-3:]) == pads


def test_round11_window_is_greened_history():
    """The r11 window greened in CORRECTNESS_r11 (50/50); keep its
    composition pinned so the ledger accounting stays auditable."""
    w11 = _qpkg._ROUND11_WINDOW
    assert len(w11) == 50
    assert len(set(w11)) == 50
    assert [n for n in w11 if n not in ORACLES] == []
    assert w11[:21] == _qpkg._ROUND11_QUEUE
    assert set(w11[21:]) <= set(_qpkg._ROUND9_QUEUE)
    assert not set(w11) & set(_qpkg._ROUND10_WINDOW)


def test_round12_window_is_live():
    """VERDICT r11 item 8 + the final-round rotation: CORRECTNESS_r11
    landed 50/50 green, so the recomposed r12 window is live — the 7
    round-10 additions + 7 round-11 additions (together the COMPLETE
    never-driver-checked partition), the three queries the r11
    optimization session semantics-touched outside its window
    (train_qr_banded, text_bpe_merges_k explicit; a_hodges_lehmann via
    the r10 pads), and r10-green pads. Greening it closes the ENTIRE
    oracle-backed ledger. Invariant: every oracle-backed query is
    driver-green in the CORRECTNESS_r01.. artifact union or sits in the
    driver window — an addition that is neither fails here."""
    import json
    import pathlib

    w12 = _qpkg._ROUND12_WINDOW
    assert _qpkg._DRIVER_WINDOW_FIRST is w12
    assert len(w12) == 50
    assert len(set(w12)) == 50
    assert [n for n in w12 if n not in ORACLES] == []
    assert w12[:7] == _qpkg._ROUND12_QUEUE
    assert w12[7:14] == _qpkg._ROUND13_QUEUE
    # VERDICT r11 item 8: the three semantics-touched queries are in
    assert {"train_qr_banded", "text_bpe_merges_k", "a_hodges_lehmann"} <= set(
        w12
    )
    # every oracle-backed query is driver-green in some CORRECTNESS_r*
    # artifact or sits in the driver window; pads are all green
    root = pathlib.Path(__file__).resolve().parents[1]
    green = set()
    for f in sorted(root.glob("CORRECTNESS_r*.json")):
        for name, row in json.loads(f.read_text()).items():
            if isinstance(row, dict) and row.get("rows_match") and row.get("err") is None:
                green.add(name)
    assert set(ORACLES) - green <= set(_qpkg._DRIVER_WINDOW_FIRST)
    assert set(w12[14:]) <= green
    assert not set(_qpkg._ROUND12_QUEUE) & set(_qpkg._ROUND13_QUEUE)


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
