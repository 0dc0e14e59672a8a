"""``incident_loop`` workload: the engine's streaming incident loop
(``streaming.incident_loop.incident_stream``) over the seeded log
transport, one closed-loop client (the stream itself: a micro-batch
starts when the previous one has committed).

Set-up builds the prior-incident corpus, starts the stream and lets
``WARM_BATCHES`` micro-batches run. The measured window then runs for
the requested seconds; at its end the transport's stop file is created,
so every later window is empty, and the stream is stopped after the
first empty micro-batch. Each non-empty micro-batch is one operation,
timed by its ``triggerExecution`` duration from the query progress.
"""

from __future__ import annotations

import ast
import datetime as dt
import hashlib
import random
import re
import sys
import time
import urllib.parse
from collections import Counter
from pathlib import Path

from . import eventlog, logsource
from .harness import Tagged, percentile

ROWS = 19_500        # rows per window, before duplicates: about half of a
                     # micro-batch is then per-row work, half fixed cost
DUP_PCT = 10.0       # share of rows followed by an exact duplicate
WINDOW_MS = 3_600_000
BATCH_SIZE = 100
K = 3
DIM = 32
CORPUS = 2000
WARM_BATCHES = 1

#: names ``incident_loop`` imports, wrapped with timers in traced runs,
#: and the layer each belongs to
WRAPPED = {
    "dedup_keep_first": "operators.dedup",
    "redact": "functions.redaction",
    "embed_text": "operators.embedding",
    "pick_batch": "operators.rag.pick",
    "knn_join": "operators.knn",
    "run_rag_batch": "operators.rag.prompt_llm",
    "append_history_partitioned": "operators.rag.history_write",
}

_PII = re.compile(r"@example\.com|tok_\w*secret")


def fake_llm_output(prompt: str) -> str:
    digest = hashlib.sha1(prompt.encode()).hexdigest()[:16]
    return f"RCA {digest} lines={prompt.count(chr(10)) + 1}"


def _epoch_ms(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")) \
        .timestamp() * 1000.0


def _offset_ts(off) -> int:
    if isinstance(off, str):
        # python data source offsets serialise as a dict repr
        off = ast.literal_eval(off)
    # the first micro-batch has no start offset: it starts at since_ms (0)
    return 0 if off is None else int(off["ts"])


class IncidentLoop:
    name = "incident_loop"
    tail_pct = 75.0

    def __init__(self, sess, work, seed: int, trace: bool):
        self.spark = sess.spark
        self.work, self.seed, self.trace = work / "incident", seed, trace
        self.work.mkdir(parents=True)
        self.hist = str(self.work / "history")
        self.log = self.work / "fetches.log"
        self.stop_file = self.work / "stop"
        self.llm_outputs: list[str] = []
        self.calls: list[tuple[str, float, float]] = []  # layer, t, ms
        self.query = None
        self.measured: list[dict] = []

    # -- set-up --------------------------------------------------------
    def llm(self, prompt: str) -> str:
        out = fake_llm_output(prompt)
        self.llm_outputs.append(out)
        return out

    def _wrap(self, module) -> None:
        spark, calls = self.spark, self.calls

        def timed(fn, layer):
            def wrapper(*args, **kwargs):
                t0 = time.time()
                with Tagged(spark, "pb-" + layer):
                    out = fn(*args, **kwargs)
                calls.append((layer, t0, (time.time() - t0) * 1000.0))
                return out
            return wrapper

        for name, layer in WRAPPED.items():
            if hasattr(module, name):
                setattr(module, name, timed(getattr(module, name), layer))

    def setup(self) -> None:
        from ai_incident_analyst_spark.operators.embedding import embed_text
        from ai_incident_analyst_spark.streaming import incident_loop

        t0 = time.perf_counter()
        rng = random.Random(self.seed)
        prior = [(i, f"prior incident {i}: svc-{rng.randrange(16)} "
                     f"{rng.choice(logsource.TEMPLATES).split(' ')[0]} "
                     f"failure mode {rng.randrange(37)}")
                 for i in range(CORPUS)]
        corpus = (embed_text(
            self.spark.createDataFrame(prior, "hist_id long, message string"),
            ["message"], dim=DIM)
            .select("hist_id", "embedding").localCheckpoint())
        t1 = time.perf_counter()
        if self.trace:
            self._wrap(incident_loop)
        url = "bench:?" + urllib.parse.urlencode({
            "seed": self.seed, "rows": ROWS, "dup_pct": DUP_PCT,
            "window_ms": WINDOW_MS, "log": str(self.log),
            "stop": str(self.stop_file)})
        opts = {"transport": "perfbench.logsource.seeded_transport",
                "url": url, "since_ms": "0",
                "until_ms": str(WINDOW_MS * 100_000),
                "batch_ms": str(WINDOW_MS)}
        self.query = incident_loop.incident_stream(
            self.spark, opts, corpus, history_path=self.hist,
            checkpoint=str(self.work / "ckpt"), llm_fn=self.llm,
            batch_size=BATCH_SIZE, k=K, dim=DIM).start()
        self._wait(lambda ps: sum(p["numInputRows"] > 0 for p in ps)
                   >= WARM_BATCHES, 300)
        self.detail = {"stage_corpus_s": t1 - t0,
                       "warm_s": time.perf_counter() - t1}

    def _wait(self, cond, timeout: float) -> list[dict]:
        deadline = time.time() + timeout
        while True:
            if self.query.exception() is not None:
                raise RuntimeError(f"stream failed: {self.query.exception()}")
            ps = self.query.recentProgress
            if cond(ps):
                return ps
            if time.time() > deadline:
                raise TimeoutError("stream made no progress")
            time.sleep(0.05)

    # -- measured window -----------------------------------------------
    def measure(self, seconds: float, cpu_probe):
        # the window opens when a micro-batch ends, so the CPU reading
        # holds whole micro-batches only
        done = len(self.query.recentProgress)
        ps = self._wait(lambda ps: len(ps) > done, 120)
        cpu0 = cpu_probe()
        first_id = ps[-1]["batchId"] + 1
        time.sleep(seconds)
        self.stop_file.touch()
        ps = self._wait(lambda ps: any(
            p["numInputRows"] == 0 and p["batchId"] >= first_id
            for p in ps), 120)
        cpu1 = cpu_probe()
        self.query.stop()
        self.query.awaitTermination(60)
        rows_of = {lo: n for lo, _, n, _, _ in logsource.read_log(self.log)
                   if n > 0}
        self.progress = ps
        self.measured = [p for p in ps if p["numInputRows"] > 0
                         and p["batchId"] >= first_id]
        if not self.measured:
            raise RuntimeError("no micro-batch completed in the window")
        op_ms = [float(p["durationMs"]["triggerExecution"])
                 for p in self.measured]
        self.detail["batch_ms"] = op_ms
        first = _epoch_ms(self.measured[0]["timestamp"])
        last = _epoch_ms(self.measured[-1]["timestamp"]) + op_ms[-1]
        rows = sum(rows_of.get(_offset_ts(p["sources"][0]["startOffset"]), 0)
                   for p in self.measured)
        self.window_ms = (first, last)
        return {"op_ms": op_ms, "rows": rows, "wall_s": (last - first) / 1e3,
                "cpu_s": cpu1 - cpu0}

    # -- output checks -------------------------------------------------
    def check(self) -> tuple[int, int]:
        expected = sum(p["numInputRows"] > 0 for p in self.progress)
        entries = self.spark.read.parquet(self.hist).select(
            "batch_logs", "llm_output").collect()
        failed = abs(expected - len(entries))
        for e in entries:
            logs = e["batch_logs"] or []
            keys = [(r["message"], r["timestamp"]) for r in logs]
            checks = {
                "size": 0 < len(logs) <= BATCH_SIZE,
                "dedup": len(set(keys)) == len(keys),
                "redaction": not any(_PII.search(r["message"] or "")
                                     for r in logs),
                "llm": e["llm_output"].endswith(f"lines={len(logs)}")}
            if not all(checks.values()):
                print(f"# incident_loop check failed: {checks}",
                      file=sys.stderr)
                failed += 1
        produced = Counter(e["llm_output"] for e in entries)
        failed += sum((Counter(self.llm_outputs) - produced).values())
        failed += sum((produced - Counter(self.llm_outputs)).values())
        if self.trace:
            self.drop_frac = self._drop_frac()
        return max(1, expected), min(failed, max(1, expected))

    # -- traced run ----------------------------------------------------
    def layers(self, jobs: list[eventlog.Job]) -> dict:
        n = len(self.measured)
        lo, hi = self.window_ms
        out: dict[str, float] = {}
        per_batch = []
        for p in self.measured:
            s = _epoch_ms(p["timestamp"])
            e = s + p["durationMs"]["triggerExecution"]
            js = eventlog.in_window(jobs, s, e)
            per_batch.append((len(js), (e - s) - eventlog.busy_ms(js, s, e),
                              p["durationMs"].get("walCommit", 0)
                              + p["durationMs"].get("commitOffsets", 0),
                              sum(j.get("python_ms") for j in js)))
        pre = "streaming.incident_loop."
        out[pre + "jobs_per_batch"] = sum(b[0] for b in per_batch) / n
        out[pre + "outside_jobs_ms_per_batch"] = \
            sum(b[1] for b in per_batch) / n
        out[pre + "commit_ms_per_batch"] = sum(b[2] for b in per_batch) / n
        out["operators.embedding.python_ms"] = \
            sum(b[3] for b in per_batch) / n

        # the operators are lazy inside a micro-batch: their calls only
        # build plans, and their work runs fused in the batch's actions
        # (run_rag_batch's prompt job and the history write)
        for layer in set(WRAPPED.values()):
            ms = sum(c[2] for c in self.calls
                     if c[0] == layer and lo <= c[1] * 1000.0 <= hi)
            out[layer + ".build_ms"] = ms / n
        out["operators.rag.prompt_llm_ms"] = \
            out.pop("operators.rag.prompt_llm.build_ms")
        out["operators.rag.history_write_ms"] = \
            out.pop("operators.rag.history_write.build_ms")
        out["operators.rag.history_files_written"] = \
            len(self._history_files()) / max(1, len(self.llm_outputs))

        fetches = [f for f in logsource.read_log(self.log) if f[2] > 0]
        windows = {f[0] for f in fetches}
        served = {f[0]: f[2] for f in fetches}
        nonempty = [p for p in self.progress if p["numInputRows"] > 0]
        read = sum(p["numInputRows"] for p in nonempty)
        gen = sum(served.get(_offset_ts(p["sources"][0]["startOffset"]), 0)
                  for p in nonempty)
        out["sources.logapi.fetches_per_window"] = \
            len(fetches) / max(1, len(windows))
        out["sources.logapi.rows_read_per_input_row"] = read / max(1, gen)
        out["sources.logapi.fetch_ms"] = \
            percentile([f[4] for f in fetches], 50) if fetches else 0.0
        out["operators.dedup.drop_frac"] = self.drop_frac
        return out

    def _history_files(self) -> list:
        return list(Path(self.hist).rglob("*.parquet"))

    def _drop_frac(self) -> float:
        """Share of one measured window's rows that ``dedup_keep_first``
        drops, measured after the run on that window's generated rows."""
        from pyspark.sql import functions as F

        from ai_incident_analyst_spark.operators.dedup import dedup_keep_first
        lo = _offset_ts(self.measured[0]["sources"][0]["startOffset"])
        rows, _ = logsource.window_rows(self.seed, lo, lo + WINDOW_MS,
                                        ROWS, DUP_PCT)
        df = self.spark.createDataFrame(
            [(r["timestamp"], r["message"]) for r in rows],
            "timestamp long, message string").withColumn(
            "__arrival", F.monotonically_increasing_id())
        kept = dedup_keep_first(df, ["message", "timestamp"],
                                "__arrival").count()
        return (len(rows) - kept) / len(rows)
