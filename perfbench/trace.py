"""Tracing for the benchmark: spans, a streaming listener and the event log.

Spans are recorded by the benchmark around its calls into the package's
modules and kept in memory; :meth:`Tracer.dump` writes them out once, at
exit. A layer's self time is its span's duration minus the durations of its
child spans, so the self times of one operation's span tree add up to the
operation's wall time.

The untraced runs use :class:`NullTracer`, whose spans cost one attribute
lookup and record nothing.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from statistics import median


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str, **attrs):
        yield None

    def wrap(self, name: str, fn):
        return fn


class Tracer:
    """In-memory span recorder: ``(id, name, start, end, parent, run_id)``.

    ``start``/``end`` are epoch seconds (``time.time``) so that spans line up
    with the Spark event log's and the checkpoint files' clocks. The parent of
    a span is the innermost open span of the same thread, or the one given.
    """

    enabled = True

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end,
                 "parent": parent, "run_id": self.run_id, **attrs}
            )
        return sid

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        sid = self.add(name, time.time(), float("nan"), parent, **attrs)
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.time()

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def children(self) -> dict[int, list[dict]]:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        return kids

    def self_times(self, root: int) -> dict[str, float]:
        """Self time per span name over the tree under ``root``, in seconds."""
        kids = self.children()
        out: dict[str, float] = {}
        todo = [self.spans[root]]
        while todo:
            s = todo.pop()
            ch = kids.get(s["id"], [])
            dur = s["end"] - s["start"]
            out[s["name"]] = out.get(s["name"], 0.0) + dur - sum(c["end"] - c["start"] for c in ch)
            todo.extend(ch)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh)


def make_progress_listener():
    """A ``StreamingQueryListener`` that keeps every progress report.

    The reports are turned into trigger spans after the query ends (see
    :func:`add_trigger_spans`), because the listener runs on Spark's listener
    bus, not on the thread whose span it belongs under.
    """
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict] = []
            self.terminated = 0
            self._cond = threading.Condition()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            with self._cond:
                self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            with self._cond:
                self.terminated += 1
                self._cond.notify_all()

        def wait_terminated(self, count: int, timeout: float = 10.0) -> bool:
            """Wait until ``count`` queries have reported termination, which
            the bus delivers after their last progress report."""
            with self._cond:
                return self._cond.wait_for(lambda: self.terminated >= count, timeout)

    return ProgressListener()


# MicroBatchExecution's phases in the order one trigger runs them.
TRIGGER_PARTS = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def add_trigger_spans(tracer: Tracer, run_span: int, progress: list[dict]) -> None:
    """Turn progress reports into a ``streaming.trigger`` span per trigger
    with one child per ``durationMs`` phase, under ``run_span``.

    Phases are laid end to end from the trigger's start; only their
    durations are measured. Spans that ran on the stream thread inside the
    trigger (the enrichment's driver side) move under its ``addBatch``.
    """
    run = tracer.spans[run_span]
    loose = [
        s for s in tracer.spans
        if s["parent"] is None and s["name"] == "operators.enrich"
        and run["start"] <= s["start"] <= run["end"]
    ]
    for p in progress:
        d = p.get("durationMs", {})
        start = _iso_epoch(p["timestamp"])
        trig = tracer.add(
            "streaming.trigger", start, start + d.get("triggerExecution", 0) / 1000,
            run_span, batch_id=p["batchId"],
        )
        t = start
        for part in TRIGGER_PARTS:
            ms = d.get(part, 0)
            sid = tracer.add(f"streaming.{part}", t, t + ms / 1000, trig)
            if part == "addBatch":
                for s in loose:
                    # trigger timestamps have millisecond resolution
                    if t - 0.002 <= s["start"] <= t + ms / 1000 + 0.002:
                        s["parent"] = sid
            t += ms / 1000


def read_event_log(log_dir: str) -> dict:
    """Jobs and task metrics from an uncompressed, non-rolling event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    bid = props.get("streaming.sql.batchId")
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "start": ev["Submission Time"] / 1000,
                        "end": None,
                        "batch_id": int(bid) if bid is not None else None,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    im = m.get("Input Metrics") or {}
                    om = m.get("Output Metrics") or {}
                    tasks.append({
                        "job": stage_job.get(ev["Stage ID"]),
                        "run_s": m.get("Executor Run Time", 0) / 1000,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1000,
                        "spill_bytes": m.get("Disk Bytes Spilled", 0),
                        "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1000,
                        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                        "shuffle_write_records": sw.get("Shuffle Records Written", 0),
                        "input_rows": im.get("Records Read", 0),
                        "input_bytes": im.get("Bytes Read", 0),
                        "output_rows": om.get("Records Written", 0),
                        "output_bytes": om.get("Bytes Written", 0),
                    })
    return {"jobs": jobs, "tasks": tasks}


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def p50(values: list[float]) -> float:
    return float(median(values)) if values else 0.0
