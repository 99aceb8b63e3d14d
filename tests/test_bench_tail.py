"""The bench's final-stdout-line contract (VERDICT_r13 #1).

The grading driver captures only the LAST ~2000 chars of bench stdout
and extracts per-query data from what it finds there. r13 lost the
whole per-query channel when the big JSON line outgrew that window.
These tests pin the fix: the final line always fits the window
complete, always parses, and always carries the full 20-query r1
headline set (cold + warm) no matter how many extra entries future
rounds add.

No Spark session needed — pure string/JSON logic.
"""

import importlib.util
import json
from pathlib import Path

_spec = importlib.util.spec_from_file_location(
    "bench_for_tail_test", Path(__file__).resolve().parents[1] / "bench.py"
)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def _base(retimed=None):
    return {
        "metric": "headline_summary",
        "value": 32.904,
        "unit": "sec",
        "warm_total": 18.283,
        "value_ex_jit": 18.276,
        "failed": [],
        "calibration": {"single_core_sec": 0.119, "blas_matmul_sec": 0.109},
        "loadavg": {"start": [9.3, 6.57, 5.83], "end": [3.63, 3.86, 4.34]},
        "retimed": retimed or {},
        "sf": 0.1,
    }


def test_tail_line_fits_window_and_parses():
    # worst case: hundreds of long-named extras beyond the headline
    timings = {n: 1.234 for n in bench.HEADLINE}
    timings.update(
        {f"extra_query_with_a_long_name_{i:03d}": 12.345 for i in range(300)}
    )
    warm = dict(timings)
    line = bench._tail_line(_base(), timings, warm, bench.HEADLINE)
    assert len(line) <= 2000 - 1  # line + newline inside the window
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_summary"
    # the r1 headline contract survives in BOTH dicts, complete
    for n in bench.HEADLINE:
        assert n in parsed["queries"], n
        assert n in parsed["queries_warm"], n


def test_tail_line_keeps_scalars_and_compact_separators():
    base = _base(retimed={"winnow_overlap_pairs": 2.359})
    base["failed"] = ["one_query", "two_query"]
    line = bench._tail_line(
        base,
        {n: 1.0 for n in bench.HEADLINE},
        {},
        bench.HEADLINE,
    )
    parsed = json.loads(line)
    # a base inside the budget keeps failed and retimed whole
    assert parsed["failed"] == base["failed"]
    assert parsed["retimed"] == base["retimed"]
    assert "n_failed" not in parsed
    for key in (
        "value",
        "warm_total",
        "value_ex_jit",
        "failed",
        "calibration",
        "loadavg",
        "retimed",
        "sf",
    ):
        assert key in parsed, key
    # compact separators: no ", " / ": " bloat
    assert '": ' not in line and '", ' not in line


def test_tail_line_small_input_includes_everything():
    timings = {n: 1.0 for n in bench.HEADLINE}
    timings["one_extra"] = 2.0
    warm = {bench.HEADLINE[0]: 0.5, "one_extra": 1.5}
    line = bench._tail_line(_base(), timings, warm, bench.HEADLINE)
    parsed = json.loads(line)
    assert parsed["queries"] == {k: v for k, v in timings.items()}
    assert parsed["queries_warm"] == warm


def test_tail_line_base_overflow_cuts_failed_and_retimed():
    # ~50 long failed names plus retimes push the base scalars alone
    # past the budget; the line must still fit and keep the headline
    failed = [f"a_failed_query_with_a_long_name_{i:03d}" for i in range(50)]
    base = _base(retimed={n: 2.5 for n in failed})
    base["failed"] = failed
    timings = {n: 1.234 for n in bench.HEADLINE}
    line = bench._tail_line(base, timings, dict(timings), bench.HEADLINE)
    assert len(line) <= 2000 - 1
    parsed = json.loads(line)
    assert parsed["n_failed"] == 50
    assert parsed["failed"] == failed[:5]
    assert parsed["retimed"] == {}
    for key in ("value", "warm_total", "value_ex_jit", "calibration", "sf"):
        assert parsed[key] == base[key], key
    for n in bench.HEADLINE:
        assert n in parsed["queries"], n
        assert n in parsed["queries_warm"], n
