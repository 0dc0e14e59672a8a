"""Percentile and sample-count selection, /proc/stat parsing, and the
agreement of BENCHMARK.json with the metrics the benchmark prints."""

import json

import pytest

from perfbench import harness, run


def test_percentile_nearest_rank():
    xs = list(range(1, 11))
    assert harness.percentile(xs, 50) == 5
    assert harness.percentile(xs, 90) == 9
    assert harness.percentile(xs, 100) == 10
    assert harness.percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        harness.percentile([], 50)


@pytest.mark.parametrize("n,expected", [
    (10, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
    (99, 75.0), (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0),
    (10_000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    assert harness.tail_percentile(n) == expected
    if expected is not None:
        xs = list(range(n))
        assert sum(x > harness.percentile(xs, expected) for x in xs) >= 10


def test_cpu_stat_counts_guest_once():
    # user nice system idle iowait irq softirq steal guest guest_nice
    total, steal = harness.cpu_stat_fields(
        "cpu  100 0 50 800 0 0 0 30 20 5")
    assert total == 980  # guest fields are already inside user/nice
    assert steal == 30   # steal alone, not steal + guest
    assert harness.steal_pct((0, 0), (total, steal)) == pytest.approx(
        100 * 30 / 980)


def test_read_cpu_stat_is_monotone():
    a = harness.read_cpu_stat()
    b = harness.read_cpu_stat()
    assert b[0] >= a[0] and b[1] >= a[1]


def test_benchmark_json_matches_printed_metrics():
    spec = json.loads((harness.ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] \
        == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] \
        == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.workloads())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())
    assert all(0 < b <= 0.25 for b in bounds.values())
