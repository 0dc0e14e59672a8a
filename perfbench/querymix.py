"""``query_mix`` workload: one closed-loop dashboard/NRQL client.

Set-up writes a seeded events table and builds the incident-history table
by many small ``append_history_partitioned`` calls (as the incident loop
does, one day-partitioned append per batch). The client then issues a
seeded sequence of operations back to back, collecting every result:
NRQL strings through ``plans.nrql.run_nrql`` over ``load_table`` (equality,
LIKE and boolean WHERE, SINCE/UNTIL, FACET, TIMESERIES, percentile, rate,
COMPARE WITH, LIMIT) and dashboard reads of the history table
(``history_filter``, ``history_metrics``). Each template carries its
DuckDB twin; results are compared after the measured window.
"""

from __future__ import annotations

import random
import time
from dataclasses import dataclass

from . import datagen, eventlog
from .harness import Tagged, now, percentile
from .oracle import Twin, norm_rows, same

EVENTS = 100_000
HISTORY_APPENDS = 4
HISTORY_ROWS_PER_APPEND = 24


@dataclass
class Op:
    kind: str        # "nrql" or "history"
    text: str        # NRQL string, or a history read spec
    sql: str         # DuckDB twin
    limit: int = 0   # LIMIT n on a plain select: any n matching rows pass
    label: str = ""  # template name, set by op_sequence


NRQL_LABELS = ["count_eq", "like_facet_avg", "bool_sum_max", "timeseries",
               "percentile_facet", "rate", "compare_with", "select_limit",
               "unique_min_facet"]
HISTORY_LABELS = ["filter_service_level", "filter_namespace", "metrics"]
BLOCK = len(NRQL_LABELS) + len(HISTORY_LABELS)


def _window(rng: random.Random, min_day: int = 1) -> tuple[str, str, str]:
    d = rng.randint(min_day, 24)
    span = rng.randint(1, 5)
    h = rng.randint(0, 23)
    s = f"2024-01-{d:02d} {h:02d}:00:00"
    u = f"2024-01-{d + span:02d} {h:02d}:00:00"
    return s, u, f"ts >= TIMESTAMP '{s}' AND ts <= TIMESTAMP '{u}'"


_AVG = "CAST(SUM(CAST(value AS DECIMAL(27,4))) AS DOUBLE)"


def nrql_op(rng: random.Random, kind: int) -> Op:
    """NRQL template ``kind`` (0-8) with seeded literals."""
    et = rng.choice(datagen.EVENT_TYPES)
    if kind == 0:
        s, u, w = _window(rng)
        return Op("nrql",
                  f"SELECT count(*) FROM events WHERE `event_type` = '{et}' "
                  f"SINCE '{s}' UNTIL '{u}'",
                  f"SELECT count(*) AS count FROM events "
                  f"WHERE event_type = '{et}' AND {w}")
    if kind == 1:
        s, u, w = _window(rng)
        p = et[:rng.randint(1, 2)]
        return Op("nrql",
                  f"SELECT count(*), average(value) FROM events "
                  f"WHERE `event_type` LIKE '{p}%' FACET `event_type` "
                  f"SINCE '{s}' UNTIL '{u}'",
                  f"SELECT event_type, count(*) AS count, "
                  f"{_AVG} / count(value) AS average_value FROM events "
                  f"WHERE event_type LIKE '{p}%' AND {w} GROUP BY event_type")
    if kind == 2:
        s, u, w = _window(rng)
        a, b = rng.sample(datagen.EVENT_TYPES, 2)
        v = rng.randint(5, 150)
        return Op("nrql",
                  f"SELECT sum(value), max(value) FROM events "
                  f"WHERE (`event_type` = '{a}' OR `event_type` = '{b}') "
                  f"AND `value` > {v} SINCE '{s}' UNTIL '{u}'",
                  f"SELECT {_AVG} AS sum_value, max(value) AS max_value "
                  f"FROM events WHERE (event_type = '{a}' OR "
                  f"event_type = '{b}') AND value > {v} AND {w}")
    if kind == 3:
        s, u, w = _window(rng)
        return Op("nrql",
                  f"SELECT count(*) FROM events WHERE `event_type` = '{et}' "
                  f"SINCE '{s}' UNTIL '{u}' TIMESERIES 1 hour",
                  f"SELECT date_trunc('hour', ts) AS bucket_start, "
                  f"count(*) AS count FROM events WHERE event_type = '{et}' "
                  f"AND {w} GROUP BY 1")
    if kind == 4:
        s, u, w = _window(rng)
        p = rng.choice([50, 90, 95, 99])
        return Op("nrql",
                  f"SELECT percentile(value, {p}) FROM events "
                  f"FACET `event_type` SINCE '{s}' UNTIL '{u}'",
                  f"SELECT event_type, round(quantile_cont(CAST(value AS "
                  f"DOUBLE), {p / 100}), 6) AS percentile_value_{p} "
                  f"FROM events WHERE {w} GROUP BY event_type")
    if kind == 5:
        s, u, w = _window(rng)
        secs = (int(u[8:10]) - int(s[8:10])) * 86_400
        return Op("nrql",
                  f"SELECT rate(count(*), 1 minute) FROM events "
                  f"WHERE `event_type` = '{et}' SINCE '{s}' UNTIL '{u}'",
                  f"SELECT CAST(count(*) AS DOUBLE) * 60.0 / "
                  f"CAST({secs} AS DOUBLE) AS rate_count FROM events "
                  f"WHERE event_type = '{et}' AND {w}")
    if kind == 6:
        s, u, w = _window(rng, min_day=8)
        cur =f"SELECT 'current' AS period, event_type, count(*) AS count " \
              f"FROM events WHERE {w} GROUP BY event_type"
        prev = (f"SELECT 'previous' AS period, event_type, count(*) AS count "
                f"FROM events WHERE ts >= TIMESTAMP '{s}' - INTERVAL 7 DAY "
                f"AND ts <= TIMESTAMP '{u}' - INTERVAL 7 DAY "
                f"GROUP BY event_type")
        return Op("nrql",
                  f"SELECT count(*) FROM events FACET `event_type` "
                  f"SINCE '{s}' UNTIL '{u}' COMPARE WITH 1 week ago",
                  f"{cur} UNION ALL {prev}")
    if kind == 7:
        s, u, w = _window(rng)
        n = rng.choice([10, 50, 200])
        return Op("nrql",
                  f"SELECT `event_id`,`value` FROM events "
                  f"WHERE `event_type` = '{et}' SINCE '{s}' UNTIL '{u}' "
                  f"LIMIT {n}",
                  f"SELECT event_id, value FROM events "
                  f"WHERE event_type = '{et}' AND {w}", limit=n)
    return Op("nrql",
              "SELECT uniqueCount(user_id), min(value) FROM events "
              "FACET `event_type` LIMIT 10",
              "SELECT event_type, count(DISTINCT user_id) AS "
              "uniquecount_user_id, min(value) AS min_value FROM events "
              "GROUP BY event_type")


_HCOLS = "timestamp, container_name, namespace_name, level, llm_output"


def history_op(rng: random.Random, kind: int) -> Op:
    """Dashboard read ``kind`` (0-2) with seeded filter values."""
    if kind == 0:
        svc, lvl = f"svc-{rng.randrange(16)}", rng.choice(
            ["error", "warn", "info"])
        return Op("history", f"filter service={svc} level={lvl}",
                  f"SELECT {_HCOLS} FROM history WHERE lower(container_name)"
                  f" LIKE '%{svc}%' AND lower(level) = '{lvl}'")
    if kind == 1:
        ns = f"ns{rng.randrange(4)}"
        return Op("history", f"filter namespace={ns}",
                  f"SELECT {_HCOLS} FROM history "
                  f"WHERE lower(namespace_name) LIKE '%{ns}%'")
    return Op("history", "metrics", "")


_METRIC_SQL = {
    "by_day": "SELECT substr(timestamp, 1, 10) AS day, count(*) AS count "
              "FROM history GROUP BY 1",
    "by_service": "SELECT coalesce(container_name, 'unknown') AS "
                  "container_name, count(*) AS count FROM history GROUP BY 1",
    "by_namespace": "SELECT coalesce(namespace_name, 'unknown') AS "
                    "namespace_name, count(*) AS count FROM history "
                    "GROUP BY 1",
    "by_level": "SELECT coalesce(level, 'unknown') AS level, count(*) AS "
                "count FROM history GROUP BY 1",
}


def op_sequence(seed: int, n_blocks: int) -> list[Op]:
    """The client's operations: blocks of every NRQL template and every
    dashboard read once, in a seeded order with seeded literals, so any
    run holds the same mix of operations whatever the seed."""
    rng = random.Random(seed)
    ops = []
    for _ in range(n_blocks):
        block = [("nrql", k) for k in range(len(NRQL_LABELS))] + \
            [("history", k) for k in range(len(HISTORY_LABELS))]
        rng.shuffle(block)
        for kind, k in block:
            if kind == "nrql":
                op = nrql_op(rng, k)
                op.label = "nrql." + NRQL_LABELS[k]
            else:
                op = history_op(rng, k)
                op.label = "history." + HISTORY_LABELS[k]
            ops.append(op)
    return ops


class QueryMix:
    name = "query_mix"
    tail_pct = 75.0

    def __init__(self, sess, work, seed: int, trace: bool):
        self.spark = sess.spark
        self.work, self.seed, self.trace = work / "query_mix", seed, trace
        self.data = self.work / "data"
        self.data.mkdir(parents=True)
        self.hist = self.work / "history"
        self.results: list[tuple[Op, list, list]] = []
        self.timings: list[dict] = []

    def setup(self) -> None:
        from ai_incident_analyst_spark.operators.rag import (
            append_history_partitioned,
        )
        t0 = now()
        datagen.write_events(self.data, self.seed, EVENTS)
        t1 = now()
        for part in range(HISTORY_APPENDS):
            append_history_partitioned(self.spark.createDataFrame(
                datagen.history_entries(self.seed, part,
                                        HISTORY_ROWS_PER_APPEND),
                datagen.HISTORY_SCHEMA), str(self.hist))
        self.hist_rows = HISTORY_APPENDS * HISTORY_ROWS_PER_APPEND
        self.hist_files = len(list(self.hist.rglob("*.parquet")))
        # warm-up: every template kind once, on a different seed's literals
        t2 = now()
        for op in op_sequence(self.seed + 7919, 1):
            self._run(op, "pb-warm")
        self.detail = {"stage_events_s": t1 - t0, "stage_history_s": t2 - t1,
                       "warm_s": now() - t2}

    def _run(self, op: Op, tag: str) -> tuple[list, list, dict]:
        from ai_incident_analyst_spark.operators.rag import (
            history_filter,
            history_metrics,
        )
        from ai_incident_analyst_spark.plans.nrql import run_nrql
        from ai_incident_analyst_spark.sources.tables import load_table

        t = {}
        with Tagged(self.spark, tag):
            t0 = now()
            if op.kind == "nrql":
                tables = {"events": load_table(self.spark, str(self.data),
                                               "events")}
                t1 = now()
                df = run_nrql(self.spark, op.text, tables)
                t2 = now()
                cols, rows = df.columns, [tuple(r) for r in df.collect()]
                t["tables_ms"] = (t1 - t0) * 1e3
                t["build_ms"] = (t2 - t1) * 1e3
            else:
                hist = self.spark.read.parquet(str(self.hist))
                if op.text == "metrics":
                    frames = history_metrics(hist)
                    cols = ["metric"]
                    rows = [(name, [tuple(r) for r in f.collect()])
                            for name, f in frames.items()]
                    self.spark.catalog.clearCache()
                else:
                    args = dict(a.split("=") for a in op.text.split()[1:])
                    df = history_filter(hist, **args)
                    cols = df.columns
                    rows = [tuple(r) for r in df.collect()]
            t["ms"] = (now() - t0) * 1e3
        return cols, rows, t

    def measure(self, seconds: float, cpu_probe):
        ops = iter(op_sequence(self.seed, 1000))
        op_ms, rows_in = [], 0
        cpu0 = cpu_probe()
        start_ms = time.time() * 1000.0
        t0 = now()
        last_block = 0.0
        # whole blocks only, so every run holds each template equally
        # often; another block starts while it would end nearer the
        # budget than not
        while now() - t0 + last_block / 2 < seconds or not op_ms:
            b0 = now()
            for _ in range(BLOCK):
                op = next(ops)
                tag = f"pb-q{len(op_ms)}"
                cols, rows, t = self._run(op, tag)
                op_ms.append(t["ms"])
                t.update(kind=op.kind, label=op.label, tag=tag,
                         result_rows=len(rows))
                self.timings.append(t)
                self.results.append((op, cols, rows))
                rows_in += EVENTS if op.kind == "nrql" else self.hist_rows
            last_block = now() - b0
        wall = now() - t0
        self.window_ms = (start_ms, start_ms + wall * 1e3)
        labels = sorted({t["label"] for t in self.timings})
        self.detail["op_p50_ms_by_template"] = {
            lb: percentile([t["ms"] for t in self.timings
                            if t["label"] == lb], 50) for lb in labels}
        return {"op_ms": op_ms, "rows": rows_in, "wall_s": wall,
                "cpu_s": cpu_probe() - cpu0}

    def check(self) -> tuple[int, int]:
        twin = Twin(self.data, ["events"], history=self.hist)
        failed = 0
        try:
            for op, cols, rows in self.results:
                failed += not self._matches(twin, op, cols, rows)
        finally:
            twin.close()
        return len(self.results), failed

    @staticmethod
    def _matches(twin: Twin, op: Op, cols, rows) -> bool:
        if op.kind == "history" and op.text == "metrics":
            got = dict(rows)
            for name, sql in _METRIC_SQL.items():
                tc, tr = twin.run(sql)
                if norm_rows(tc, tr) != norm_rows(tc, got.get(name, [])):
                    return False
            return True
        tc, tr = twin.run(op.sql)
        if op.kind == "history":
            keep = [cols.index(c) for c in tc]
            proj = [tuple(r[i] for i in keep) for r in rows]
            ts = [r[0] for r in proj]
            return (norm_rows(tc, proj) == norm_rows(tc, tr)
                    and ts == sorted(ts, reverse=True))
        if op.limit:
            want = set(norm_rows(tc, tr))
            got = norm_rows(cols, rows)
            return (sorted(cols) == sorted(tc)
                    and len(got) == min(op.limit, len(want))
                    and set(got) <= want)
        return same(cols, rows, tc, tr)

    def layers(self, jobs: list[eventlog.Job]) -> dict:
        nrql = [t for t in self.timings if t["kind"] == "nrql"]
        hist = [t for t in self.timings if t["kind"] == "history"]
        out = {}
        if nrql:
            js = [j for t in nrql for j in eventlog.tagged(jobs, t["tag"])]
            tot = eventlog.totals(js)
            out["plans.nrql.build_ms"] = percentile(
                [t["build_ms"] for t in nrql], 50)
            out["plans.nrql.action_ms"] = percentile(
                [t["ms"] - t["build_ms"] - t["tables_ms"] for t in nrql], 50)
            out["plans.nrql.jobs_per_query"] = tot["n_jobs"] / len(nrql)
            out["plans.nrql.scan_rows_per_result_row"] = tot["scan_rows"] / \
                max(1, sum(t["result_rows"] for t in nrql))
            out["sources.tables.build_ms"] = percentile(
                [t["tables_ms"] for t in nrql], 50)
        if hist:
            out["operators.rag.history_read_ms"] = percentile(
                [t["ms"] for t in hist], 50)
            out["operators.rag.history_files_read"] = float(self.hist_files)
        return out
