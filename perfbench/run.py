"""Benchmark of the incident-analysis engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Runs one seeded workload against the engine's public functions on a
``local[N]`` session (N = min(2, nproc)) for ``--seconds`` seconds, checks
the outputs, and prints as its last stdout line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the run also
writes a Spark event log and wraps the incident loop's stages with timers,
and the metrics are the per-layer ones. A line before it, starting
``# detail``, carries host context and, in a traced run, the end-to-end
figures too (``compare.py overhead`` turns those into tracing overhead).

Workloads: ``incident_loop``, ``query_mix``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import harness  # noqa: E402

#: (name, unit) of every end-to-end metric, reported by each workload
END_TO_END = [
    ("setup_s", "s"),
    ("rows_per_s", "1/s"),
    ("op_p50_ms", "ms"),
    ("op_tail_ms", "ms"),
]

#: (name, unit) of every per-layer metric. A workload that does not
#: exercise a layer reports 0.
PER_LAYER = [
    ("sources.logapi.fetches_per_window", "count"),
    ("sources.logapi.rows_read_per_input_row", "ratio"),
    ("sources.logapi.fetch_ms", "ms"),
    ("streaming.incident_loop.jobs_per_batch", "count"),
    ("streaming.incident_loop.outside_jobs_ms_per_batch", "ms"),
    ("streaming.incident_loop.commit_ms_per_batch", "ms"),
    ("operators.dedup.build_ms", "ms"),
    ("operators.dedup.drop_frac", "ratio"),
    ("functions.redaction.build_ms", "ms"),
    ("operators.embedding.build_ms", "ms"),
    ("operators.embedding.python_ms", "ms"),
    ("operators.knn.build_ms", "ms"),
    ("operators.rag.pick.build_ms", "ms"),
    ("operators.rag.prompt_llm_ms", "ms"),
    ("operators.rag.history_write_ms", "ms"),
    ("operators.rag.history_files_written", "count"),
    ("operators.rag.history_read_ms", "ms"),
    ("operators.rag.history_files_read", "count"),
    ("plans.nrql.build_ms", "ms"),
    ("plans.nrql.action_ms", "ms"),
    ("plans.nrql.jobs_per_query", "count"),
    ("plans.nrql.scan_rows_per_result_row", "ratio"),
    ("sources.tables.build_ms", "ms"),
    ("spark.n_jobs_per_op", "count"),
    ("spark.n_tasks_per_op", "count"),
    ("spark.outside_jobs_ms_per_op", "ms"),
    ("spark.task_cpu_ms_per_op", "ms"),
    ("spark.gc_ms_per_op", "ms"),
    ("spark.python_ms_per_op", "ms"),
    ("spark.shuffle_write_bytes_per_op", "bytes"),
    ("spark.spill_bytes_per_op", "bytes"),
]


def workloads() -> dict:
    from perfbench.incident import IncidentLoop
    from perfbench.querymix import QueryMix
    return {w.name: w for w in (IncidentLoop, QueryMix)}


def end_to_end(m: dict, setup_s: float, tail_pct: float) -> tuple[dict, dict]:
    ops = m["op_ms"]
    values = {
        "setup_s": setup_s,
        "rows_per_s": m["rows"] / m["wall_s"],
        "op_p50_ms": harness.percentile(ops, 50),
        "op_tail_ms": harness.percentile(ops, tail_pct),
    }
    # the tail percentile is fixed per workload; the detail line records
    # whether this run held ten samples beyond it. CPU per operation is
    # reported, not a metric: its spread over ten runs reached 0.25
    return values, {"n_ops": len(ops), "tail_percentile": tail_pct,
                    "tail_max_with_10_beyond":
                        harness.tail_percentile(len(ops)),
                    "cpu_s_per_op": m["cpu_s"] / len(ops)}


def spark_totals(jobs, window_ms: tuple[float, float], n_ops: int) -> dict:
    from perfbench import eventlog
    lo, hi = window_ms
    js = eventlog.in_window(jobs, lo, hi)
    tot = eventlog.totals(js)
    return {
        "spark.n_jobs_per_op": tot["n_jobs"] / n_ops,
        "spark.n_tasks_per_op": tot["n_tasks"] / n_ops,
        "spark.outside_jobs_ms_per_op":
            ((hi - lo) - eventlog.busy_ms(js, lo, hi)) / n_ops,
        "spark.task_cpu_ms_per_op": tot["task_cpu_ms"] / n_ops,
        "spark.gc_ms_per_op": tot.get("gc_ms", 0) / n_ops,
        "spark.python_ms_per_op": tot.get("python_ms", 0) / n_ops,
        "spark.shuffle_write_bytes_per_op":
            tot.get("shuffle_write_bytes", 0) / n_ops,
        "spark.spill_bytes_per_op": tot["spill_bytes"] / n_ops,
    }


def run(args) -> dict:
    wl_cls = workloads()[args.workload]
    # two task slots leave the other cores of a 4-core host to the JIT,
    # GC, the Python driver and the Python workers; with one slot per core
    # identical runs fell into two speed modes ~30% apart
    cores = min(2, os.cpu_count() or 1)
    work = harness.WORK / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        return _run(args, wl_cls, cores, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        # fails, and keeps the directory, while another run still uses it
        with contextlib.suppress(OSError):
            harness.WORK.rmdir()


def _run(args, wl_cls, cores: int, work: Path) -> dict:
    detail = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": bool(args.trace),
              **harness.host_context(cores)}
    stat0 = harness.read_cpu_stat()
    t0 = harness.now()
    sess = harness.start_session(cores, bool(args.trace), work)
    detail["session_s"] = harness.now() - t0
    try:
        wl = wl_cls(sess, work, args.seed, bool(args.trace))
        wl.setup()
        setup_s = harness.now() - t0
        me = os.getpid()
        m = wl.measure(args.seconds, lambda: harness.tree_cpu_s(me))
        attempted, failed = wl.check()
        # reported, not a metric: with a heap that grows on demand it ran
        # from 1.5 to 2.5 GB on identical runs
        detail["jvm_peak_rss_mb"] = harness.peak_rss_mb(sess.jvm_pid)
    finally:
        sess.stop()
    e2e, tail_info = end_to_end(m, setup_s, wl_cls.tail_pct)
    detail.update(tail_info)
    detail.update(getattr(wl, "detail", {}))
    detail["steal_pct"] = harness.steal_pct(stat0, harness.read_cpu_stat())
    if args.trace:
        from perfbench import eventlog
        jobs = eventlog.parse(eventlog.find_log(sess.eventlog_dir))
        per_layer = {name: 0.0 for name, _ in PER_LAYER}
        per_layer.update(wl.layers(jobs))
        per_layer.update(spark_totals(jobs, wl.window_ms, len(m["op_ms"])))
        detail["end_to_end"] = e2e
        metrics = {name: {"value": float(per_layer[name]), "unit": unit}
                   for name, unit in PER_LAYER}
    else:
        metrics = {name: {"value": float(e2e[name]), "unit": unit}
                   for name, unit in END_TO_END}
    print("# detail " + json.dumps(detail), flush=True)
    return {"correct": failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    os.environ["TZ"] = "UTC"
    time.tzset()
    try:
        import ai_incident_analyst_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine package not importable: {e}",
              file=sys.stderr)
        return 2
    if args.workload not in workloads():
        print(f"perfbench: unknown workload {args.workload!r}; have "
              f"{sorted(workloads())}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
