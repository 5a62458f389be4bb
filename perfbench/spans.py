"""In-memory spans and Spark event-log counters for the traced run."""

from __future__ import annotations

import functools
import importlib
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """Spans (name, start, end, parent) kept in memory, written once.

    With ``enabled`` false, ``span`` still times its block (the benchmark
    needs op walls either way) but records nothing.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        if self.enabled:
            self.spans.append(rec)
            self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if self.enabled:
                self._stack.pop()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


@contextmanager
def instrument(tracer: Tracer, targets: list[tuple[str, str]]):
    """While active, every call to the ``(module, function)`` targets is a
    span named ``<layer>.<function>``, the layer being the package's
    subpackage (``rag_content_spark.sinks.parquet_sink`` -> ``sinks``).
    The program looks these functions up in their modules at call time,
    so replacing the module attribute is enough. A no-op when untraced."""
    if not tracer.enabled:
        yield
        return
    saved = []
    for mod_name, fn_name in targets:
        mod = importlib.import_module(mod_name)
        fn = getattr(mod, fn_name)
        saved.append((mod, fn_name, fn))
        setattr(mod, fn_name, _timed(tracer, f"{mod_name.split('.')[1]}.{fn_name}", fn))
    try:
        yield
    finally:
        for mod, fn_name, fn in saved:
            setattr(mod, fn_name, fn)


def _timed(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return wrapper


def event_log_counters(log_dir: str, t0_ms: float, t1_ms: float) -> dict:
    """Engine counters of the jobs that started in [t0_ms, t1_ms] (epoch
    milliseconds), read from Spark's uncompressed JSON event log."""
    jobs, stages, done = {}, set(), set()
    tasks = cpu_ns = shuffle_w = spill = 0
    # Spark 4 writes one directory per application, holding event files
    paths = [
        os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
        if f.startswith("events_")
    ]
    for path in sorted(paths):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    t = ev["Submission Time"]
                    if t0_ms <= t <= t1_ms:
                        jobs[ev["Job ID"]] = [t, None]
                        stages.update(ev["Stage IDs"])
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stages:
                        done.add(sid)
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]][1] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stages:
                    m = ev.get("Task Metrics") or {}
                    tasks += 1
                    cpu_ns += m.get("Executor CPU Time", 0)
                    shuffle_w += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    spill += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    # wall time in which no job of the window was running
    busy, cursor = 0.0, t0_ms
    for start, end in sorted((s, e if e is not None else t1_ms) for s, e in jobs.values()):
        start, end = max(start, cursor), min(end, t1_ms)
        if end > start:
            busy += end - start
            cursor = end
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(done),
        "spark.tasks": tasks,
        "spark.executor_cpu_s": cpu_ns / 1e9,
        "spark.shuffle_write_bytes": shuffle_w,
        "spark.spill_bytes": spill,
        "spark.driver_only_s": max(0.0, (t1_ms - t0_ms - busy) / 1000.0),
    }
