"""Traced runs: job groups around each call into a layer, and a reader that
turns Spark's event log into per-layer and per-engine numbers.

The benchmark sets the job group from its own code (``Tracer.span``), so
every Spark job a layer call triggers carries the layer's name in the event
log. A layer's self time comes from prefix cuts: the same plan cut after
each layer and written to the noop sink; self time is the difference
between consecutive cuts.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

#: Python-boundary SQL metrics, as Spark 4.1 names them in task accumulables
_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


class Tracer:
    """Wall-clock spans keyed by layer name, each run under a Spark job
    group of the same name. Spans of one name accumulate a list."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: dict[str, list[float]] = {}

    @contextmanager
    def span(self, name: str):
        self.spark.sparkContext.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.setdefault(name, []).append(time.perf_counter() - t0)

    @staticmethod
    def name(layer: str, rep: int) -> str:
        """Span name for repetition ``rep`` of a cut; repetition 0 warms the
        new plan (code generation, Python workers) and is kept apart."""
        return layer if rep else "warmup." + layer

    def median(self, name: str) -> float:
        return statistics.median(self.spans[name]) if name in self.spans else 0.0


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_events(log_dir: str) -> list[dict]:
    """Every event of the (single, finished) application log in ``log_dir``."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {files}")
    with open(files[0]) as f:
        return [json.loads(line) for line in f if line.strip()]


def _acc(task_info: dict, name: str) -> float:
    total = 0.0
    for a in task_info.get("Accumulables", ()):
        if a.get("Name") == name and "Update" in a:
            try:
                total += float(a["Update"])
            except (TypeError, ValueError):
                pass
    return total


def _groups(events: list[dict]) -> dict[int, str]:
    """stage id -> job group of the job that ran it"""
    out = {}
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in e.get("Stage IDs", ()):
                out[sid] = g
    return out


def task_seconds(events: list[dict]) -> dict[str, float]:
    """Summed task durations (core-seconds busy) per job group. Unlike wall
    time, busy time adds up across branches that run concurrently."""
    group_of = _groups(events)
    out: dict[str, float] = {}
    for e in events:
        if e.get("Event") == "SparkListenerTaskEnd":
            g = group_of.get(e.get("Stage ID"))
            info = e["Task Info"]
            out[g] = out.get(g, 0.0) + (info["Finish Time"] - info["Launch Time"]) / 1000.0
    return out


def engine_metrics(events: list[dict], group: str, passes: int) -> dict[str, float]:
    """Spark-engine and Python-boundary numbers for the jobs of one job
    group, divided by ``passes`` (the number of passes run in the group)."""
    stage_ids: set[int] = set()
    jobs = 0
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            if (e.get("Properties") or {}).get("spark.jobGroup.id") == group:
                jobs += 1
                stage_ids.update(e.get("Stage IDs", ()))
    tasks = [e for e in events
             if e.get("Event") == "SparkListenerTaskEnd" and e.get("Stage ID") in stage_ids]
    by_stage: dict[int, list[float]] = {}
    m = dict.fromkeys(("cpu", "gc", "shw", "fetch", "spill", "pyrun", "pysent", "pyret"), 0.0)
    for t in tasks:
        info, tm = t["Task Info"], t.get("Task Metrics") or {}
        by_stage.setdefault(t["Stage ID"], []).append(
            (info["Finish Time"] - info["Launch Time"]) / 1000.0)
        m["cpu"] += tm.get("Executor CPU Time", 0) / 1e9
        m["gc"] += tm.get("JVM GC Time", 0) / 1000.0
        m["shw"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        m["fetch"] += (tm.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0) / 1000.0
        m["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        m["pyrun"] += _acc(info, _PY_RUN) / 1000.0
        m["pysent"] += _acc(info, _PY_SENT)
        m["pyret"] += _acc(info, _PY_RETURNED)
    skew = 0.0
    if by_stage:
        longest = max(by_stage.values(), key=sum)  # the most task time
        med = statistics.median(longest)
        skew = max(longest) / med if med > 0 else 1.0
    n = max(passes, 1)
    return {
        "spark.jobs": jobs / n,
        "spark.stages": len(by_stage) / n,
        "spark.tasks": len(tasks) / n,
        "spark.executor_cpu_s": m["cpu"] / n,
        "spark.gc_s": m["gc"] / n,
        "spark.shuffle_write_bytes": m["shw"] / n,
        "spark.shuffle_fetch_wait_s": m["fetch"] / n,
        "spark.spill_bytes": m["spill"] / n,
        "spark.task_skew": skew,
        "python.run_s": m["pyrun"] / n,
        "python.bytes_sent": m["pysent"] / n,
        "python.bytes_returned": m["pyret"] / n,
    }
