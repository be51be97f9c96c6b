"""Shared pieces of the benchmark workers: the run context, the span
tracer, order statistics, host-speed probes and readers for Spark's
public progress and status APIs."""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory and written
    out once at the end. Disabled tracers record nothing, so untraced runs
    pay only a context-manager call per span."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[list] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append([name, time.time(), None, parent, self.run_id])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.time()

    def seconds(self, name: str) -> float:
        """Total duration of every span called ``name``."""
        return sum(e - s for n, s, e, _, _ in self.spans if n == name)

    def self_time_by_layer(self) -> dict[str, float]:
        """Span duration minus the time its child spans cover, summed per
        layer (the span name's first dotted component)."""
        child = [0.0] * len(self.spans)
        for _, s, e, parent, _ in self.spans:
            if parent is not None:
                child[parent] += e - s
        out: dict[str, float] = {}
        for i, (name, s, e, _, _) in enumerate(self.spans):
            layer = name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (e - s) - child[i]
        return out

    def dump(self, path: str) -> None:
        keys = ("name", "start", "end", "parent", "run_id")
        with open(path, "w") as fh:
            json.dump([dict(zip(keys, s)) for s in self.spans], fh)


class Context:
    """Everything a workload needs from the command line, plus the metric
    sinks it fills in."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 workdir: str, tiny: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.workdir = workdir
        self.tiny = tiny
        self.tracer = Tracer(trace, f"{workload}-{seed}-{os.getpid()}")
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, float] = {}
        self.detail: dict = {}
        self.attempted = 0
        self.failed = 0

    def mark(self, phase: str) -> None:
        """Record when a phase ended (epoch seconds), for the detail file."""
        self.detail.setdefault("phase_end", {})[phase] = time.time()

    def path(self, *parts: str) -> str:
        """A file path under the run's work dir (parent dirs created)."""
        p = os.path.join(self.workdir, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def dir(self, *parts: str) -> str:
        """A directory under the run's work dir (created)."""
        p = os.path.join(self.workdir, *parts)
        os.makedirs(p, exist_ok=True)
        return p


def median(values: list[float]) -> float:
    return quantile(values, 0.5)


def quantile(values: list[float], p: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    v = sorted(values)
    if not v:
        raise ValueError("quantile of no samples")
    pos = p * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    ``(value, p)``; with fewer than 20 samples no such percentile above
    the median exists, and the maximum is reported (``p`` = 1.0)."""
    n = len(values)
    if n >= 20:
        p = (n - 10) / n
        return quantile(values, p), p
    return max(values), 1.0


#: ``py_loop_s`` on the reference host speed the end-to-end timings are
#: reported at (a 4-core host in a fast phase reads 0.055-0.07 s, in a
#: slow one 0.09-0.115 s)
PY_LOOP_REF_S = 0.08


def py_loop_s() -> float:
    """Engine-independent host-speed probe: a fixed pure-Python loop,
    median of five."""
    runs = []
    for _ in range(5):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i % 7
        runs.append(time.perf_counter() - t0)
    return median(runs)


def at_reference_speed(e2e: dict[str, tuple[float, str]], py_loop: float) -> None:
    """Rescale the end-to-end timings in place to the reference host
    speed: seconds times ``PY_LOOP_REF_S / py_loop``, rates divided by
    it. The host's speed drifts up to 2x within minutes (all work slows
    together, the pure-Python probe with it), so raw seconds from runs
    minutes apart compare the host, not the engine; no engine change can
    move the probe."""
    scale = PY_LOOP_REF_S / py_loop
    for name, (value, unit) in e2e.items():
        if unit == "s":
            e2e[name] = (value * scale, unit)
        elif unit == "1/s":
            e2e[name] = (value / scale, unit)


def frozen_canary_s(spark, parquet_path: str) -> float:
    """Engine-independent Spark probe: a direct ``spark.read.parquet`` +
    hash aggregate with no engine module in the loop."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    df = spark.read.parquet(parquet_path)
    df.groupBy((F.hash(df.columns[0]) % 16).alias("k")).agg(F.count("*")).write.format(
        "noop"
    ).mode("overwrite").save()
    return time.perf_counter() - t0


def progress_batches(query) -> list[dict]:
    """Completed micro-batches that read data, from the query's public
    progress feed: batch id, start/end epoch seconds, input rows and the
    ``durationMs`` phase split."""
    out = []
    for p in query.recentProgress or []:
        if not p.get("numInputRows"):
            continue
        start = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
        start_s = start.replace(tzinfo=dt.timezone.utc).timestamp()
        dur = p.get("durationMs", {})
        out.append(
            {
                "batch_id": p["batchId"],
                "start": start_s,
                "end": start_s + dur.get("triggerExecution", 0) / 1000.0,
                "rows": p["numInputRows"],
                "durations": dict(dur),
            }
        )
    return out


TRIGGER_PHASES = {
    "latest_offset": "latestOffset",
    "query_planning": "queryPlanning",
    "add_batch": "addBatch",
    "wal_commit": "walCommit",
    "commit_offsets": "commitOffsets",
    "trigger_execution": "triggerExecution",
}


def trigger_phase_medians(batches: list[dict]) -> dict[str, float]:
    return {
        f"streaming.trigger.{name}_ms": median(
            [b["durations"].get(key, 0) for b in batches]
        )
        for name, key in TRIGGER_PHASES.items()
    }


def group_stage_stats(spark, group: str) -> dict[str, int]:
    """Jobs, stages, tasks, shuffle bytes and spilled bytes of everything
    Spark ran under job group ``group``, from the status tracker and the
    status store's per-stage data."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    no_status = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    out = dict(jobs=0, stages=0, tasks=0, shuffle_read_bytes=0, shuffle_write_bytes=0,
               spill_bytes=0)
    stage_ids = set()
    for j in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out["stages"] = len(stage_ids)
    for sid in stage_ids:
        attempts = store.stageData(sid, False, no_status, False, no_quantiles)
        if attempts.isEmpty():
            continue
        data = attempts.last()
        out["tasks"] += data.numTasks()
        out["shuffle_read_bytes"] += data.shuffleReadBytes()
        out["shuffle_write_bytes"] += data.shuffleWriteBytes()
        out["spill_bytes"] += data.memoryBytesSpilled() + data.diskBytesSpilled()
    return out


def start_feed(ctx: Context, plan: list, t0: float, name: str):
    """Start the feed process on ``plan``; returns (process, log path)."""
    plan_path = ctx.path("feed", f"{name}.plan.json")
    log_path = ctx.path("feed", f"{name}.log.json")
    with open(plan_path, "w") as fh:
        json.dump(plan, fh)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "feed.py"), plan_path, repr(t0), log_path]
    )
    return proc, log_path


def finish_feed(proc, log_path: str, timeout: float) -> list[dict]:
    try:
        proc.wait(timeout=timeout)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0:
        raise RuntimeError(f"feed process exited with {proc.returncode}")
    with open(log_path) as fh:
        return json.load(fh)


def wait_until(pred, timeout: float, poll: float = 0.05) -> bool:
    end = time.time() + timeout
    while time.time() < end:
        if pred():
            return True
        time.sleep(poll)
    return pred()
