"""Compare benchmark runs of a parent commit and a change.

    python3 perfbench/compare.py --parent p/*.out --change c/*.out
    python3 perfbench/compare.py overhead --traced t/*.out --untraced u/*.out

Each file holds the standard output of one ``perfbench/run.py`` run (its
``# detail`` line and its final JSON line). Runs are grouped by workload
and paired in the order given, so pass the runs in the order they were
made, alternating parent and change.

For every workload and every end-to-end metric of ``BENCHMARK.json`` the
comparison prints each side's median and quartiles and one verdict:

- ``gain``: the change wins at least 9/10 of the pairs (ties count for
  neither), the medians differ, in the metric's better direction, by
  more than the parent's interquartile range, and the change failed no
  more operations than the parent;
- ``regression``: the change's median is worse than the parent's by more
  than the metric's bound (a share of the parent's median);
- ``unresolved``: either side's interquartile range, as a share of its
  median, exceeds the bound, unless every change run beats every parent
  run;
- ``within bound`` otherwise.

``overhead`` prints, per workload and metric, the median of the traced
runs' end-to-end figures minus the median of the untraced runs'.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from pathlib import Path

BENCHMARK = Path(__file__).resolve().parent.parent / "BENCHMARK.json"


def load_run(path: Path) -> dict:
    """``{"workload", "detail", "result"}`` of one run's stdout."""
    lines = [ln for ln in Path(path).read_text().splitlines() if ln.strip()]
    detail = {}
    for ln in lines:
        if ln.startswith("# detail "):
            detail = json.loads(ln[len("# detail "):])
    result = json.loads(lines[-1])
    return {"workload": detail.get("workload", "?"), "detail": detail,
            "result": result}


def by_workload(paths) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for p in paths:
        run = load_run(p)
        out.setdefault(run["workload"], []).append(run)
    return out


def quartiles(values) -> tuple[float, float, float]:
    if len(values) < 2:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(parent: list[float], change: list[float], better: str,
            bound: float, failed: tuple[int, int] = (0, 0)) -> dict:
    """The comparison of one metric on one workload; ``failed`` holds the
    failed operations of the parent's and the change's runs."""
    sign = 1.0 if better == "higher" else -1.0
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    pairs = list(zip(parent, change))
    wins = sum(sign * (c - p) > 0 for p, c in pairs)
    gain = bool(pairs) and wins >= 0.9 * len(pairs) \
        and sign * (cm - pm) > (p3 - p1) and failed[1] <= failed[0]
    worse_by = sign * (pm - cm) / abs(pm) if pm else 0.0
    spread = max((p3 - p1) / abs(pm) if pm else 0.0,
                 (c3 - c1) / abs(cm) if cm else 0.0)
    all_better = min(sign * c for c in change) > max(sign * p for p in parent)
    if gain:
        status = "gain"
    elif spread > bound and not all_better:
        status = "unresolved"
    elif worse_by > bound:
        status = "regression"
    else:
        status = "within bound"
    return {"parent": (p1, pm, p3), "change": (c1, cm, c3),
            "wins": wins, "pairs": len(pairs), "worse_by": worse_by,
            "spread": spread, "status": status}


def metric_values(runs: list[dict], name: str, traced: bool = False):
    if traced:
        return [r["detail"]["end_to_end"][name] for r in runs]
    return [r["result"]["metrics"][name]["value"] for r in runs]


def compare(parent: dict, change: dict, spec: dict) -> list[str]:
    lines = []
    for wl in sorted(set(parent) | set(change)):
        if wl not in parent or wl not in change:
            lines.append(f"{wl}: missing on one side")
            continue
        p_failed = sum(r["result"]["failed"] for r in parent[wl])
        c_failed = sum(r["result"]["failed"] for r in change[wl])
        lines.append(f"{wl}: {len(parent[wl])} parent / {len(change[wl])} "
                     f"change runs, failed ops {p_failed} / {c_failed}")
        for m in spec["end_to_end"]:
            v = verdict(metric_values(parent[wl], m["name"]),
                        metric_values(change[wl], m["name"]),
                        m["better"], m["bound"], (p_failed, c_failed))
            p1, pm, p3 = v["parent"]
            c1, cm, c3 = v["change"]
            lines.append(
                f"  {m['name']:<18} parent {pm:.4g} [{p1:.4g}, {p3:.4g}]  "
                f"change {cm:.4g} [{c1:.4g}, {c3:.4g}] {m['unit']}  "
                f"wins {v['wins']}/{v['pairs']}  worse by "
                f"{100 * v['worse_by']:+.1f}% (bound {100 * m['bound']:.0f}%)"
                f"  -> {v['status']}")
    return lines


def overhead(traced: dict, untraced: dict, spec: dict) -> list[str]:
    lines = []
    for wl in sorted(set(traced) & set(untraced)):
        lines.append(f"{wl}: {len(traced[wl])} traced / "
                     f"{len(untraced[wl])} untraced runs")
        for m in spec["end_to_end"]:
            t = statistics.median(metric_values(traced[wl], m["name"], True))
            u = statistics.median(metric_values(untraced[wl], m["name"]))
            rel = (t - u) / u if u else 0.0
            lines.append(f"  {m['name']:<18} traced {t:.4g}  untraced "
                         f"{u:.4g} {m['unit']}  overhead {t - u:+.4g} "
                         f"({100 * rel:+.1f}%)")
    return lines


def main(argv=None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    spec = json.loads(BENCHMARK.read_text())
    if argv[:1] == ["overhead"]:
        ap = argparse.ArgumentParser(prog="compare.py overhead")
        ap.add_argument("--traced", nargs="+", required=True)
        ap.add_argument("--untraced", nargs="+", required=True)
        a = ap.parse_args(argv[1:])
        lines = overhead(by_workload(a.traced), by_workload(a.untraced),
                         spec)
    else:
        ap = argparse.ArgumentParser(prog="compare.py")
        ap.add_argument("--parent", nargs="+", required=True)
        ap.add_argument("--change", nargs="+", required=True)
        a = ap.parse_args(argv)
        lines = compare(by_workload(a.parent), by_workload(a.change), spec)
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
