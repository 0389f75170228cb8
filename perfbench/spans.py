"""In-memory spans around calls into the engine's layers, and the Spark
event-log reader for the traced run's ``spark.*`` / ``io.*`` metrics.

A span is (id, parent, layer, name, start, end). Spans are recorded only in
traced runs; untraced runs call the same `Tracer` methods with recording
off, so the timed path is identical apart from the spans themselves and the
noop-sink materializations the traced run adds for lazy outputs."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        #: seconds spent in the tracer's own bookkeeping
        self.cost = 0.0

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "layer": layer, "name": name, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.cost += time.perf_counter() - t0
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            rec["end"] = t1
            self.cost += time.perf_counter() - t1

    def add(self, layer: str, name: str, start: float, end: float,
            parent: int | None = None) -> int:
        """Record a span measured elsewhere (query progress, stage_ms)."""
        t0 = time.perf_counter()
        sid = len(self.spans)
        if self.enabled:
            self.spans.append({"id": sid, "parent": parent, "layer": layer,
                               "name": name, "start": start, "end": end})
        self.cost += time.perf_counter() - t0
        return sid

    def self_time(self) -> dict[str, float]:
        """Seconds per layer: each span's duration minus the part of its
        interval that its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_end = 0.0, None
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
                if cur_end is not None:
                    lo = max(lo, cur_end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - covered
        return out


def noop_materialize(df) -> None:
    """Run a lazy DataFrame to completion without keeping its rows."""
    df.write.format("noop").mode("overwrite").save()


def spark_event_metrics(event_log_dir: str) -> dict[str, float]:
    """Totals over every SparkListenerTaskEnd in the event logs (plain or
    rolling) under `event_log_dir`."""
    tot = {"tasks": 0, "input_bytes": 0, "shuffle_write_bytes": 0,
           "shuffle_read_bytes": 0, "spill_bytes": 0, "gc_ms": 0, "cpu_ns": 0}
    paths = [p for p in glob.glob(f"{event_log_dir}/**/*", recursive=True)
             if os.path.isfile(p)]
    for path in paths:
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                m = json.loads(line).get("Task Metrics") or {}
                tot["tasks"] += 1
                tot["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                tot["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                tot["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0)
                tot["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0)
                tot["gc_ms"] += m.get("JVM GC Time", 0)
                tot["cpu_ns"] += m.get("Executor CPU Time", 0)
    mb = 1024.0 * 1024.0
    return {
        "spark.tasks": float(tot["tasks"]),
        "spark.shuffle_write_mb": tot["shuffle_write_bytes"] / mb,
        "spark.shuffle_read_mb": tot["shuffle_read_bytes"] / mb,
        "spark.spill_mb": tot["spill_bytes"] / mb,
        "spark.gc_ms": float(tot["gc_ms"]),
        "spark.executor_cpu_s": tot["cpu_ns"] / 1e9,
        "io.scan_mb": tot["input_bytes"] / mb,
    }
