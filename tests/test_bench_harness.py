"""Bench-harness telemetry units (r14: per-cell noise adjudicability).

The bench's one-line stdout JSON contract is driver-owned and pinned by
inspection (same keys r12→r14); these tests cover the new pure helpers
only — main() needs the full registry plus Spark and is exercised by
the driver itself.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def test_read_cpu_stat_shape():
    total, steal = bench.read_cpu_stat()
    if total is None:
        # non-Linux or unreadable /proc — the bench must degrade, not die
        assert steal is None
        return
    assert isinstance(total, int) and isinstance(steal, int)
    assert total > 0
    assert 0 <= steal <= total


def test_read_cpu_stat_monotone():
    t0, s0 = bench.read_cpu_stat()
    if t0 is None:
        return
    # burn a little CPU so the aggregate counter must advance
    x = 0
    for i in range(2_000_00):
        x += i * i
    t1, s1 = bench.read_cpu_stat()
    assert t1 >= t0
    assert s1 >= s0


def test_read_cpu_stat_counts_guest_once(monkeypatch):
    # guest (8) and guest_nice (9) are already inside user and nice: the
    # total is the first eight fields, steal is field 7 alone
    import io
    line = "cpu  10 1 5 100 2 0 1 3 7 2\n"
    monkeypatch.setattr(bench, "open", lambda *a, **k: io.StringIO(line),
                        raising=False)
    assert bench.read_cpu_stat() == (122, 3)
