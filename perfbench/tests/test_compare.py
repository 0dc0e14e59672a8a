"""The compare command's verdicts and its file handling."""

import json

import pytest

from perfbench import compare

SPEC = {"end_to_end": [
    {"name": "latency_ms", "unit": "ms", "better": "lower", "bound": 0.1},
    {"name": "rows_per_s", "unit": "1/s", "better": "higher", "bound": 0.1},
]}


def test_gain_needs_nine_of_ten_wins_and_a_gap_beyond_the_iqr():
    parent = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]
    change = [80, 81, 79, 80, 82, 78, 80, 81, 79, 80]
    v = compare.verdict(parent, change, "lower", 0.1)
    assert v["status"] == "gain" and v["wins"] == 10
    # one pair lost of ten still counts; two do not
    assert compare.verdict(parent, change[:9] + [103], "lower",
                           0.1)["status"] == "gain"
    lost_two = change[:8] + [103, 104]
    assert compare.verdict(parent, lost_two, "lower", 0.1)["status"] \
        != "gain"
    # nor when the change fails more operations than the parent
    assert compare.verdict(parent, change, "lower", 0.1,
                           (0, 1))["status"] != "gain"
    assert compare.verdict(parent, change, "lower", 0.1,
                           (2, 2))["status"] == "gain"


def test_gain_in_the_higher_direction():
    parent = [1000.0 + i for i in range(10)]
    change = [1300.0 + i for i in range(10)]
    assert compare.verdict(parent, change, "higher", 0.1)["status"] \
        == "gain"
    assert compare.verdict(change, parent, "higher", 0.1)["status"] \
        == "regression"


def test_regression_beyond_the_bound():
    parent = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]
    slower = [x * 1.2 for x in parent]
    v = compare.verdict(parent, slower, "lower", 0.1)
    assert v["status"] == "regression"
    assert v["worse_by"] == pytest.approx(0.2)
    slightly = [x * 1.05 for x in parent]
    assert compare.verdict(parent, slightly, "lower", 0.1)["status"] \
        == "within bound"


def test_unresolved_when_spread_exceeds_the_bound():
    noisy = [60, 140, 80, 120, 100, 70, 130, 90, 110, 100]
    v = compare.verdict(noisy, [x * 1.05 for x in noisy], "lower", 0.1)
    assert v["status"] == "unresolved"
    # unless every change run beats every parent run
    better = [x / 3 for x in noisy]
    assert compare.verdict(noisy, better, "lower", 0.1)["status"] \
        != "unresolved"


def _write_run(path, workload, latency, rows, failed=0, traced=None):
    detail = {"workload": workload}
    if traced:
        detail["end_to_end"] = traced
    result = {"correct": failed == 0, "attempted": 10, "failed": failed,
              "metrics": {"latency_ms": {"value": latency, "unit": "ms"},
                          "rows_per_s": {"value": rows, "unit": "1/s"}}}
    path.write_text("noise\n# detail " + json.dumps(detail) + "\n"
                    + json.dumps(result) + "\n")
    return path


def test_compare_prints_one_block_per_workload(tmp_path):
    parent = [_write_run(tmp_path / f"p{i}", "wl_a", 100 + i, 1000)
              for i in range(4)]
    change = [_write_run(tmp_path / f"c{i}", "wl_a", 70 + i, 1000)
              for i in range(4)]
    lines = compare.compare(compare.by_workload(parent),
                            compare.by_workload(change), SPEC)
    assert lines[0].startswith("wl_a: 4 parent / 4 change runs")
    assert "latency_ms" in lines[1] and lines[1].endswith("gain")
    assert lines[2].endswith("within bound")


def test_overhead_is_traced_minus_untraced(tmp_path):
    traced = [_write_run(tmp_path / f"t{i}", "wl_a", 0, 0,
                         traced={"latency_ms": 110.0, "rows_per_s": 900.0})
              for i in range(3)]
    untraced = [_write_run(tmp_path / f"u{i}", "wl_a", 100.0, 1000.0)
                for i in range(3)]
    lines = compare.overhead(compare.by_workload(traced),
                             compare.by_workload(untraced), SPEC)
    assert "+10 (+10.0%)" in lines[1]
    assert "-100 (-10.0%)" in lines[2]
