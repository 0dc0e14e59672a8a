"""Seeded inputs of the ``query_mix`` workload: the events table, written
as a single parquet file in the layout the engine's
``sources.tables.load_table`` reads (``<dir>/<table>.parquet``), and the
rows of the incident-history table.

Events follow the engine's synthetic testdata: a Poisson process over 30
days from 2024-01-01 with five event types and Exp(50) values.
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line",
         "merge", "order", "part", "query", "row", "scan", "slow",
         "small", "sort", "spark", "stream", "table", "the", "value",
         "vector", "window"]
EPOCH = np.datetime64("2024-01-01", "us")
DAYS = 30


def write_events(out: Path, seed: int, n: int) -> int:
    rng = np.random.default_rng([seed, 1])
    ts_sec = np.cumsum(rng.exponential(1.0, n))
    ts_sec *= (DAYS * 86_400) / ts_sec[-1] * (1 - 1e-6)
    ts = EPOCH + (ts_sec * 1e6).astype(np.int64).astype("timedelta64[us]")
    tbl = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n // 70), n)),
        "event_type": pa.array(
            np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([json.dumps({"k": int(k)})
                           for k in rng.integers(0, 100, n)]),
    })
    pq.write_table(tbl, out / "events.parquet")
    return n


HISTORY_SCHEMA = (
    "timestamp string, container_name string, namespace_name string, "
    "level string, batch_logs array<struct<timestamp:string,level:string,"
    "container_name:string,message:string>>, "
    "similar_logs array<struct<hist_id:bigint,message:string>>, "
    "llm_output string, feedback struct<vote:string,comment:string>")


def history_entries(seed: int, part: int, n: int) -> list[tuple]:
    """``n`` incident-history rows shaped like the loop's entries, for the
    ``part``-th small append of the dashboard's history table."""
    rng = np.random.default_rng([seed, 4, part])
    rows = []
    for _ in range(n):
        day = int(rng.integers(0, DAYS))
        sec = int(rng.integers(0, 86_400))
        ts = (EPOCH + np.timedelta64(day * 86_400 + sec, "s")).astype(
            "datetime64[s]").item().strftime("%Y-%m-%dT%H:%M:%SZ")
        svc = f"svc-{int(rng.integers(0, 16))}"
        ns = f"ns{int(rng.integers(0, 4))}"
        level = ["error", "warn", "info"][int(rng.integers(0, 3))]
        logs = [(ts, level, svc, f"{VOCAB[int(rng.integers(0, 31))]} "
                 f"failure {int(rng.integers(0, 1000))}")
                for _ in range(int(rng.integers(1, 6)))]
        similar = [(int(rng.integers(0, 1000)), "prior incident")]
        rows.append((ts, svc, ns, level, logs, similar,
                     f"RCA {int(rng.integers(0, 1 << 30)):08x}", None))
    return rows
