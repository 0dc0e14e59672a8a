"""Spark event-log parser for the traced run.

Reads an uncompressed JSON-lines event log (``spark.eventLog.compress=
false``) and returns one ``Job`` per Spark job with the task metrics of
its stages summed, plus the SQL metrics its tasks reported (Python-worker
time, rows out of scans). Jobs are attributed to the benchmark's
operations by tag (``spark.addTag``) or, for jobs started by threads the
benchmark does not control (the streaming loop's micro-batches), by time
window.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

#: task-metric fields summed per job: event-log key -> our name
TASK_FIELDS = {
    "Executor Run Time": "run_ms",
    "Executor CPU Time": "cpu_ns",
    "JVM GC Time": "gc_ms",
    "Memory Bytes Spilled": "mem_spill_bytes",
    "Disk Bytes Spilled": "disk_spill_bytes",
}

#: SQL metrics (task accumulables) summed per job, by metric name
SQL_FIELDS = {
    "time to run Python workers": "python_ms",
}


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int = 0
    tags: tuple[str, ...] = ()
    stage_ids: tuple[int, ...] = ()
    n_tasks: int = 0
    metrics: dict = field(default_factory=dict)
    scan_rows: int = 0

    def has_tag(self, tag: str) -> bool:
        return tag in self.user_tags

    @property
    def user_tags(self) -> set[str]:
        """Tags added with ``spark.addTag``, which the job properties store
        as ``<session>-thread-<36-char thread uuid>-<tag>``."""
        out = set()
        for t in self.tags:
            i = t.find("-thread-")
            if i >= 0:
                out.add(t[i + len("-thread-") + 37:])
        return out

    def get(self, name: str) -> float:
        return self.metrics.get(name, 0)


def _plan_accumulators(plan: dict, out: dict[int, str]) -> None:
    """accumulator id -> plan node name, for every metric in the plan."""
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = plan["nodeName"]
    for child in plan.get("children", []):
        _plan_accumulators(child, out)


def parse(path: Path) -> list[Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    acc_node: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                tags = e.get("Properties", {}).get("spark.job.tags", "")
                j = Job(job_id=e["Job ID"], submit_ms=e["Submission Time"],
                        tags=tuple(t for t in tags.split(",") if t),
                        stage_ids=tuple(e.get("Stage IDs", ())))
                jobs[j.job_id] = j
                for s in j.stage_ids:
                    stage_job[s] = j.job_id
            elif kind == "SparkListenerJobEnd":
                j = jobs.get(e["Job ID"])
                if j is not None:
                    j.end_ms = e["Completion Time"]
            elif kind.endswith("SQLExecutionStart") \
                    or kind.endswith("SQLAdaptiveExecutionUpdate"):
                _plan_accumulators(e["sparkPlanInfo"], acc_node)
            elif kind == "SparkListenerTaskEnd":
                j = jobs.get(stage_job.get(e["Stage ID"], -1))
                if j is None:
                    continue
                j.n_tasks += 1
                tm = e.get("Task Metrics") or {}
                for key, name in TASK_FIELDS.items():
                    j.metrics[name] = j.metrics.get(name, 0) + tm.get(key, 0)
                sw = tm.get("Shuffle Write Metrics") or {}
                j.metrics["shuffle_write_bytes"] = (
                    j.metrics.get("shuffle_write_bytes", 0)
                    + sw.get("Shuffle Bytes Written", 0))
                for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                    name = SQL_FIELDS.get(acc.get("Name"))
                    if name:
                        j.metrics[name] = (j.metrics.get(name, 0)
                                           + int(acc.get("Update", 0)))
                    elif acc.get("Name") == "number of output rows" and \
                            acc_node.get(acc.get("ID"), "").startswith(
                                "Scan"):
                        j.scan_rows += int(acc.get("Update", 0))
    return sorted(jobs.values(), key=lambda j: j.job_id)


def find_log(eventlog_dir: Path) -> Path:
    """The single finished application log in ``eventlog_dir``."""
    logs = [p for p in eventlog_dir.iterdir()
            if p.is_file() and not p.name.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {eventlog_dir}, "
                           f"found {[p.name for p in logs]}")
    return logs[0]


def totals(jobs: list[Job]) -> dict:
    """Summed metrics over ``jobs``."""
    out = {"n_jobs": len(jobs), "n_tasks": sum(j.n_tasks for j in jobs),
           "scan_rows": sum(j.scan_rows for j in jobs)}
    for j in jobs:
        for k, v in j.metrics.items():
            out[k] = out.get(k, 0) + v
    out.setdefault("cpu_ns", 0)
    out["task_cpu_ms"] = out["cpu_ns"] / 1e6
    out["spill_bytes"] = (out.get("mem_spill_bytes", 0)
                          + out.get("disk_spill_bytes", 0))
    return out


def in_window(jobs: list[Job], start_ms: float, end_ms: float) -> list[Job]:
    """Jobs submitted inside ``[start_ms, end_ms]`` (epoch ms)."""
    return [j for j in jobs if start_ms <= j.submit_ms <= end_ms]


def tagged(jobs: list[Job], tag: str) -> list[Job]:
    return [j for j in jobs if j.has_tag(tag)]


def busy_ms(jobs: list[Job], start_ms: float, end_ms: float) -> float:
    """Milliseconds of ``[start_ms, end_ms]`` covered by at least one job;
    the rest of the interval is time outside any Spark job."""
    spans = sorted((max(start_ms, j.submit_ms), min(end_ms, j.end_ms))
                   for j in jobs if j.end_ms > start_ms
                   and j.submit_ms < end_ms)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered
