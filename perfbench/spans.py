"""In-memory span recording, written out once when the run ends.

A span has a name, start, end (wall-clock seconds) and the id of its
parent. The benchmark wraps each call it makes into the engine; per
micro-batch spans come from a StreamingQueryListener the benchmark
registers. With tracing off, ``NullTracer`` records nothing.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

# Order of the phases inside one micro-batch trigger, as Structured
# Streaming reports them in ``durationMs``.
BATCH_PHASES = (
    ("latestOffset", "stream.latest_offset"),
    ("walCommit", "stream.wal_commit"),
    ("getBatch", "stream.get_batch"),
    ("queryPlanning", "stream.query_planning"),
    ("addBatch", "stream.add_batch"),
    ("commitOffsets", "stream.commit_offsets"),
)


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        yield None


class Tracer(NullTracer):
    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end, "parent": parent}
            )
        return sid

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        stack = self._local.__dict__.setdefault("stack", [])
        if parent is None and stack:
            parent = stack[-1]
        sid = self.add(name, time.time(), float("nan"), parent)
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.time()

    def write(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **(extra or {})}, f)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: total duration minus the part covered by its
    children (union of child intervals clipped to the parent)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        covered, cur_end = 0.0, s["start"]
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, cur_end), min(b, s["end"])
            if b > a:
                covered += b - a
                cur_end = b
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


class BatchListener(StreamingQueryListener):
    """Collects every progress event; turns each into a batch span with
    one child span per trigger phase."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.progress.append(
            {
                "runId": str(p.runId),
                "batchId": p.batchId,
                "timestamp": p.timestamp,
                "numInputRows": p.numInputRows,
                "durationMs": dict(p.durationMs),
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def for_run(self, run_id: str) -> list[dict]:
        return [p for p in self.progress if p["runId"] == run_id and p["numInputRows"] > 0]

    def add_spans(self, tracer: Tracer, run_id: str, parent: int | None) -> None:
        from datetime import datetime

        for p in self.for_run(run_id):
            start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            d = p["durationMs"]
            sid = tracer.add("stream.batch", start, start + d.get("triggerExecution", 0) / 1e3, parent)
            t = start
            for key, name in BATCH_PHASES:
                ms = d.get(key, 0)
                tracer.add(name, t, t + ms / 1e3, sid)
                t += ms / 1e3
