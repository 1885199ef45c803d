"""Shared pieces of the benchmark: the in-memory span recorder, sample
statistics, the Spark session start, and the micro-batch / keyed-state
figures read from ``StreamingQuery.recentProgress``."""

from __future__ import annotations

import itertools
import json
import os
import statistics
import subprocess
import time
from datetime import datetime

# End-to-end metrics, reported by every workload for its own unit of
# work (an "op"): a sync poll on live_sync, a query on batch_analytics.
# The cost of an op is counted in CPU time rather than wall time: on a
# shared host the hypervisor's CPU steal (15-29 % in episodes of minutes)
# slowed live_sync's round trips 1.5-2.3x, which left their run-to-run
# spread at 0.34-0.52 of the median; round trips are per-layer figures.
END_TO_END = ("setup_s", "cpu_ms_per_op")


class Tracer:
    """Spans kept in memory and written once, when the run ends. A span
    is ``name, start, end`` in epoch seconds, the span that caused it
    (``parent``) and the request it belongs to (``trace``). A disabled
    tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)

    def add(self, name, start, end, parent=None, trace=None, **attrs):
        if not self.enabled:
            return None
        sid = next(self._ids)
        self.spans.append(
            {
                "id": sid,
                "name": name,
                "start": start,
                "end": end,
                "parent": parent,
                "trace": trace,
                **attrs,
            }
        )
        return sid

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


class Clock:
    """Monotonic timings that can be placed on the wall clock, so spans
    measured here line up with Spark's progress timestamps."""

    def __init__(self) -> None:
        self._wall0 = time.time()
        self._mono0 = time.perf_counter()

    def wall(self, mono: float) -> float:
        return self._wall0 + (mono - self._mono0)

    def mono(self, wall: float) -> float:
        return self._mono0 + (wall - self._wall0)


def tree_cpu() -> dict[int, int]:
    """CPU clock ticks (user + system, own and reaped children's) used
    so far by this process and each process below it: the engine's JVM
    and its Python workers. Time the hypervisor steals from the machine
    is not counted, so unlike wall time this does not grow when other
    tenants of the host take its cores."""
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited meanwhile
        parent[int(d)] = int(fields[1])
        ticks[int(d)] = sum(int(x) for x in fields[11:15])
    mine, todo = {}, [os.getpid()]
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    while todo:
        pid = todo.pop()
        mine[pid] = ticks[pid]
        todo.extend(children.get(pid, ()))
    return mine


def cpu_ms_between(before: dict[int, int], after: dict[int, int]) -> float:
    """CPU milliseconds the process tree used between two ``tree_cpu``
    readings (a process started in between counts in full)."""
    ticks = sum(t - before.get(pid, 0) for pid, t in after.items())
    return 1000.0 * ticks / os.sysconf("SC_CLK_TCK")


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of an empty sample")
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def start_spark():
    """The engine's own session factory; returns (spark, seconds)."""
    from goeventstream_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def progress_start(p: dict) -> float:
    """Epoch seconds at which a micro-batch started."""
    ts = p["timestamp"].replace("Z", "+00:00")
    return datetime.fromisoformat(ts).timestamp()


def data_batches(progress: list[dict]) -> list[dict]:
    """Micro-batches that carried input rows (idle ticks excluded)."""
    return [
        p
        for p in progress
        if p.get("numInputRows", 0) > 0 and "addBatch" in p.get("durationMs", {})
    ]


def stream_metrics(batches: list[dict]) -> dict[str, float]:
    """Micro-batch and keyed-state figures over ``batches``: medians of
    the per-batch durations, and state size after the last batch."""

    def p50(*keys):
        return statistics.median(
            sum(p["durationMs"].get(k, 0) for k in keys) for p in batches
        )

    out = {
        "stream.batch_ms_p50": p50("triggerExecution"),
        "stream.add_batch_ms_p50": p50("addBatch"),
        "stream.commit_ms_p50": p50("walCommit", "commitOffsets"),
        "stream.planning_ms_p50": p50("queryPlanning"),
        "stream.offset_ms_p50": p50("latestOffset", "getBatch"),
        "stream.rows_per_batch_p50": statistics.median(p["numInputRows"] for p in batches),
    }
    ops = [p["stateOperators"][0] for p in batches if p.get("stateOperators")]
    if ops:
        last = ops[-1]
        out.update(
            {
                "state.update_ms_p50": statistics.median(o["allUpdatesTimeMs"] for o in ops),
                "state.commit_ms_p50": statistics.median(o["commitTimeMs"] for o in ops),
                "state.rows_total": last["numRowsTotal"],
                "state.memory_bytes": last["memoryUsedBytes"],
                "state.sst_bytes": last.get("customMetrics", {}).get(
                    "rocksdbSstFileSize", 0
                ),
            }
        )
    return out


def trace_batches(tracer: Tracer, batches: list[dict], query: str) -> None:
    """One span per micro-batch, rebuilt from its progress report, with
    a child span per phase Spark timed, laid end to end in the order a
    micro-batch runs them."""
    for p in batches:
        start = progress_start(p)
        d = p["durationMs"]
        parent = tracer.add(
            "stream.batch",
            start,
            start + d["triggerExecution"] / 1000.0,
            query=query,
            batch_id=p["batchId"],
            rows=p["numInputRows"],
        )
        t = start
        for phase in ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                      "addBatch", "commitOffsets"):
            if phase in d:
                tracer.add(f"stream.{phase}", t, t + d[phase] / 1000.0, parent=parent)
                t += d[phase] / 1000.0
