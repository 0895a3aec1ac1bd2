"""Measurement plumbing for the traced run: in-memory spans, a streaming
progress listener, and Spark's status REST API.

Everything here lives outside the engine: spans are recorded around
the benchmark's own calls and from progress events, never inside the
program.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener

# perf_counter ↔ wall clock, to place JVM timestamps on the run's clock
_WALL_OFFSET = time.time() - time.perf_counter()


def wall_ms_to_perf(ms: float) -> float:
    return ms / 1000.0 - _WALL_OFFSET


def perf_to_wall_ms(t: float) -> float:
    return (t + _WALL_OFFSET) * 1000.0


class Spans:
    """Spans kept in memory and written out once, at the end of the run.

    A span is (name, start, end, id, parent, links); times are seconds
    on the run's ``perf_counter`` clock. Spans of one tick share the
    tick's file name as their id; batch spans use ``batch-N`` and link
    to the ticks the batch consumed.
    """

    def __init__(self):
        self.items: list[dict] = []
        self._lock = threading.Lock()

    def add(self, name, start, end, span_id, parent=None):
        rec = {"name": name, "start": start, "end": end, "id": span_id, "parent": parent}
        with self._lock:
            self.items.append(rec)

    def link_batches(self, batch_of: dict[str, int]) -> None:
        consumed: dict[str, list] = {}
        for name, b in batch_of.items():
            consumed.setdefault(f"batch-{b}", []).append(name)
        for rec in self.items:
            if rec["id"] in consumed and rec["parent"] is None:
                rec["links"] = sorted(consumed[rec["id"]])

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in sorted(self.items, key=lambda r: r["start"]):
                f.write(json.dumps(rec) + "\n")


class SinkTimer:
    """Times the sink callback and its ``write_batch`` call per batch."""

    def __init__(self, spans: Spans | None):
        self.spans = spans
        self.callback_end: dict[int, float] = {}
        self.write_s: dict[int, float] = {}

    def on_batch(self, batch_id: int, run_sink) -> None:
        start = time.perf_counter()
        sid = f"batch-{batch_id}"

        @contextmanager
        def timed(name):
            t0 = time.perf_counter()
            yield
            t1 = time.perf_counter()
            self.write_s[batch_id] = self.write_s.get(batch_id, 0.0) + t1 - t0
            if self.spans is not None:
                self.spans.add(name, t0, t1, sid, parent="sink.callback")

        run_sink(timed)
        end = time.perf_counter()
        self.callback_end[batch_id] = end
        if self.spans is not None:
            self.spans.add("sink.callback", start, end, sid, parent="streaming.trigger")


# MicroBatchExecution runs these phases in this order within a trigger.
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


class ProgressLog(StreamingQueryListener):
    """Collects every progress event (as parsed JSON)."""

    def __init__(self):
        super().__init__()
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        rec = json.loads(event.progress.json)
        with self._lock:
            self.events.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def wait_for(self, query_id: str, batch_id: int, timeout: float = 10.0) -> list[dict]:
        """Progress events of one query, once batch ``batch_id`` arrived."""
        deadline = time.perf_counter() + timeout
        while True:
            with self._lock:
                mine = [e for e in self.events if e["id"] == query_id]
            if any(e["batchId"] >= batch_id for e in mine) or time.perf_counter() > deadline:
                return sorted(mine, key=lambda e: e["batchId"])
            time.sleep(0.02)


def trigger_start(progress: dict) -> float:
    ts = datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00"))
    return wall_ms_to_perf(ts.timestamp() * 1000.0)


def add_trigger_spans(spans: Spans, progress: list[dict]) -> None:
    """Trigger spans with one child per phase, laid end to end."""
    for p in progress:
        start = trigger_start(p)
        dur = p["durationMs"]
        sid = f"batch-{p['batchId']}"
        spans.add("streaming.trigger", start, start + dur.get("triggerExecution", 0) / 1000.0, sid)
        t = start
        for phase in PHASES:
            if phase in dur:
                spans.add(f"streaming.{phase}", t, t + dur[phase] / 1000.0, sid, parent="streaming.trigger")
                t += dur[phase] / 1000.0


def p50(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def pct(xs, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100])."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = max(0, min(len(s) - 1, -(-len(s) * q // 100) - 1))
    return float(s[int(k)])


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def _rest_time_ms(stamp: str) -> float:
    """Epoch ms of a status API time such as ``2026-01-01T00:00:00.000GMT``."""
    t = datetime.strptime(stamp.removesuffix("GMT"), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=timezone.utc).timestamp() * 1000.0


def exec_metrics(spark, since_perf: float) -> dict[str, float]:
    """Shuffle bytes, spill, GC, CPU and the worst task skew over the
    stages submitted since ``since_perf``, from the status REST API."""
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    since_ms = perf_to_wall_ms(since_perf)
    stages = [
        s for s in _get(f"{base}/api/v1/applications/{app}/stages?status=complete")
        if "submissionTime" in s and _rest_time_ms(s["submissionTime"]) >= since_ms
    ]
    skew = 1.0
    for s in stages:
        if s["numTasks"] < 4:
            continue
        summary = _get(
            f"{base}/api/v1/applications/{app}/stages/{s['stageId']}/{s['attemptId']}"
            "/taskSummary?quantiles=0.5,1.0"
        )
        med, top = summary["executorRunTime"]
        if med > 0:
            skew = max(skew, top / med)
    return {
        "exec.shuffle_write_bytes": float(sum(s["shuffleWriteBytes"] for s in stages)),
        "exec.shuffle_read_bytes": float(sum(s["shuffleReadBytes"] for s in stages)),
        "exec.task_skew": skew,
        "exec.gc_ms": float(sum(s.get("jvmGcTime", 0) for s in stages)),
        "exec.cpu_ms": sum(s["executorCpuTime"] for s in stages) / 1e6,
        "exec.spill_bytes": float(sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages)),
    }
