"""The bench summary line must survive the driver's tail capture.

The per-round driver records only the last 2000 characters of bench
stdout and parses the final JSON line out of that window; a line longer
than the window loses its head and parses to null (BENCH_r02).  These
tests pin build_summary_line against the REAL query registry so adding
a query can never silently push the line past the window again.
"""

from __future__ import annotations

import json

import bench
from latyas_spark.relational.registry import queries

DRIVER_TAIL_CHARS = 2000


def _scaling_stub() -> dict:
    return {
        "thr_local32": 23456.78,
        "efficiency": 0.869,
        "efficiency_4_16_wh": 0.77,
        "efficiency_8_32": 0.428,
        "efficiency_8_32_wh": 0.693,
    }


def test_summary_line_fits_tail_window_pessimistic():
    # Every registered query at a pessimistically wide timing value.
    qtimes = {name: 141.694 for name in queries()}
    line = bench.build_summary_line(qtimes, 5432.109, 0.1, _scaling_stub())
    assert len(line) + 2 <= DRIVER_TAIL_CHARS  # +2: leading \n + print's \n
    parsed = json.loads(line)
    assert parsed["metric"] == "bench_total_wall"
    assert parsed["unit"] == "sec"
    assert parsed["sf"] == 0.1
    assert parsed["n_queries"] == len(queries())
    assert parsed["scaling_efficiency"] == 0.869
    assert parsed["extraction_docs_per_sec"] == 23456.78


def test_summary_line_keeps_slowest_queries_and_states_the_cut():
    # The kept set is the SLOWEST-N by time (stable rule), the cut is
    # explicit in queries_omitted, and n_queries stays the full count.
    qtimes = {name: float(i) for i, name in enumerate(sorted(queries()))}
    line = bench.build_summary_line(qtimes, 321.0, 0.1, _scaling_stub())
    parsed = json.loads(line)
    want = set(
        sorted(qtimes, key=lambda k: (-qtimes[k], k))[
            : bench.SUMMARY_TOP_QUERIES
        ]
    )
    assert set(parsed["queries"]) == want
    assert parsed["queries_omitted"] == len(queries()) - len(want)
    assert parsed["n_queries"] == len(queries())
    assert len(line) + 2 <= DRIVER_TAIL_CHARS


def test_summary_line_degrades_rather_than_overflows():
    # 400 long-named queries cannot fit; the guard must drop timings,
    # never a contract scalar, and never exceed the window.
    qtimes = {f"extremely_long_query_name_{i:03d}": 99.9 for i in range(400)}
    line = bench.build_summary_line(qtimes, 1.0, 0.01, None)
    assert len(line) + 2 <= DRIVER_TAIL_CHARS
    parsed = json.loads(line)
    assert parsed["n_queries"] == 400
    assert parsed["value"] == 1.0
    assert "scaling_efficiency" in parsed


def _report(tmp_path, monkeypatch, scaling):
    """Run bench._write_report in ``tmp_path``; return the history log's
    text, or None when nothing was appended."""
    monkeypatch.chdir(tmp_path)
    monkeypatch.setattr(bench, "SKIP_SCALING", False)
    bench._write_report(
        {"scaling": scaling, "queries": {"q": 1.0}, "value": 1.0, "unit": "sec"}
    )
    hist = tmp_path / "BENCH" / "HISTORY.md"
    return hist.read_text() if hist.exists() else None


def test_stub_scaling_dict_appends_no_history_row(tmp_path, monkeypatch):
    # A scaling dict that no campaign produced — the stub above, or one
    # with rounds that carry an efficiency but no measured throughput —
    # must leave the append-only log untouched.
    assert _report(tmp_path, monkeypatch, _scaling_stub()) is None
    unmeasured = dict(
        _scaling_stub(),
        rounds=[{"round": r, "efficiency": 1.0, "valid": True,
                 "wall_local4": None, "wall_local16": None}
                for r in range(3)],
    )
    assert _report(tmp_path, monkeypatch, unmeasured) is None


def test_completed_campaign_appends_one_history_row(tmp_path, monkeypatch):
    rounds = [
        {"round": 0, "thr_local4": 5000.0, "thr_local16": 17000.0,
         "wall_local4": 96.0, "wall_local16": 28.2, "efficiency": 0.85,
         "valid": True},
    ]
    text = _report(
        tmp_path, monkeypatch,
        dict(_scaling_stub(), rounds=rounds, n_valid_rounds=1),
    )
    rows = [ln for ln in text.splitlines() if ln.startswith("- ")]
    assert len(rows) == 1
    assert "N->4N median eff 0.869 over 1 valid rounds" in rows[0]
