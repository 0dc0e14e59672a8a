"""Seeded log-API transport for the ``incident_loop`` workload.

The engine's logapi source loads a transport by dotted path (its
``transport`` option); this one answers every ``SINCE lo UNTIL hi`` fetch
with rows generated from ``(seed, window)`` alone, so replays and reruns
see identical windows. It runs in whichever process Spark fetches from,
so it reports to the benchmark through files named in its ``url``:

- ``log``: one line per fetch, ``lo hi rows dups ms``;
- ``stop``: once this file exists every later fetch returns no rows,
  which lets the benchmark drain the stream between micro-batches.

Rows carry PII-shaped tokens (``@example.com`` addresses, ``token=tok_…
secret`` credentials, card numbers) so redaction does real work, and a
fixed share of rows is followed by an exact duplicate (same timestamp and
message) for the loop's keep-first dedup.
"""

from __future__ import annotations

import json
import os
import random
import re
import time
import urllib.parse

LEVELS = ("error", "error", "warn", "info")
TEMPLATES = (
    "db timeout for user{a}@example.com after {b} ms",
    "auth failed token=tok_{h}secret on svc-{c}",
    "OOM killed worker {b} on node-{c}",
    "payment declined card 4111 1111 1111 {d:04d} for user{a}@example.com",
    "disk full on node-{c} volume {b}",
    "conn reset by peer 10.0.{c}.{a} during handshake",
)


def config(url: str) -> dict:
    return dict(urllib.parse.parse_qsl(urllib.parse.urlparse(url).query))


def window_rows(seed: int, lo: int, hi: int, rows: int,
                dup_pct: float) -> tuple[list[dict], int]:
    """The rows of one ``[lo, hi)`` window and how many are duplicates."""
    rng = random.Random(seed * 1_000_003 + lo)
    span = max(1, hi - lo)
    out, dups = [], 0
    for i, ts in enumerate(sorted(lo + rng.randrange(span)
                                  for _ in range(rows))):
        a, b, c = rng.randrange(5000), rng.randrange(10000), rng.randrange(64)
        # the trailing sequence number keeps distinct rows distinct after
        # redaction, so only exact duplicates can collide
        msg = rng.choice(TEMPLATES).format(
            a=a, b=b, c=c, d=rng.randrange(10000),
            h=f"{rng.getrandbits(32):08x}") + f" seq={i}"
        row = {"timestamp": ts, "level": rng.choice(LEVELS),
               "container_name": f"svc-{c % 16}",
               "namespace_name": f"ns{c % 4}", "event": "log",
               "message": msg}
        out.append(row)
        if rng.random() * 100.0 < dup_pct:
            out.append(dict(row))
            dups += 1
    return out, dups


def seeded_transport(url: str, api_key: str, payload: dict) -> dict:
    t0 = time.perf_counter()
    cfg = config(url)
    nrql = json.loads(
        re.search(r"nrql\(query: (\".*\")\) ", payload["query"]).group(1))
    m = re.search(r"SINCE (\d+) UNTIL (\d+)", nrql)
    lo, hi = int(m.group(1)), int(m.group(2))
    window_ms = int(cfg["window_ms"])
    rows: list[dict] = []
    dups = 0
    if not os.path.exists(cfg["stop"]):
        # a fetch may span several windows (checkpoint replay); each
        # window's rows depend only on its own start
        start = lo - lo % window_ms
        for w in range(start, hi, window_ms):
            got, d = window_rows(int(cfg["seed"]), w, w + window_ms,
                                 int(cfg["rows"]), float(cfg["dup_pct"]))
            rows.extend(r for r in got if lo <= r["timestamp"] < hi)
            dups += d
    if "count(*)" in nrql:
        rows = [{"count": len(rows)}]
    ms = (time.perf_counter() - t0) * 1000.0
    with open(cfg["log"], "a") as f:
        f.write(f"{lo} {hi} {len(rows)} {dups} {ms:.3f}\n")
    return {"data": {"actor": {"account": {"nrql": {"results": rows}}}}}


def read_log(path) -> list[tuple[int, int, int, int, float]]:
    out = []
    try:
        with open(path) as f:
            for line in f:
                lo, hi, n, d, ms = line.split()
                out.append((int(lo), int(hi), int(n), int(d), float(ms)))
    except FileNotFoundError:
        pass
    return out
