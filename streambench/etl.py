"""``ref-etl-stream``: the paper's own dataflow — the reference's Part-3
willa topology (``flagship_topology``: two source topics -> filter/map
streams -> merged sink) run by ``TopologyRunner`` over parquet file
sources, one purchase file and one donation file per tick.

Phases, in order:

1. set-up, several times: a fresh session, ``validate_topology`` and
   ``TopologyRunner`` construction (``setup_s`` is their median);
2. cold restarts: ``start()`` -> first commit on a fresh checkpoint with
   one tick waiting (``cold_s`` is their median);
3. the fixed-rate rung: the feed process delivers ticks open loop at
   ``RATE`` ticks/s for ``--seconds``, at least ``MIN_RATE_TICKS`` ticks; each file's latency runs from its
   due time to the commit of the micro-batch that read it (``p50_s``,
   ``tail_s``);
4. the saturating rung: a burst of ticks lands at once, so the engine
   runs back to back; input rows per tick over the median gap between
   consecutive commits is the sustainable rate (``throughput_per_s``),
   and the rung fails any latency limit by construction (a growing
   backlog);
5. the check: per delivered file, the sink rows must equal the batch
   ``ref_topology_large_transactions`` rows of that file's events.
"""

from __future__ import annotations

import os
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq

import common as C
import datagen as G

#: ticks per second on the fixed-rate rung: about half of capacity on a
#: 4-core host, where each trigger takes ~0.2-0.3 s and reads one tick
RATE = 2.0
#: fewest ticks on the fixed-rate rung: 30 files, so the tail is p67
MIN_RATE_TICKS = 15
ROWS_PER_FILE = 100
#: per-file latency limit the fixed-rate rung must meet at its tail
LATENCY_LIMIT_S = 1.0
COLD_RESTARTS = 4
SETUPS = 4
BURST_TICKS = 10


class CollectSink:
    """foreachBatch sink: collects each micro-batch's (user_id, amount)
    rows to the driver, keyed by batch id."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.rows: dict[int, list[tuple[int, int]]] = {}

    def __call__(self, df, batch_id: int) -> None:
        rows = [(r[0], r[1]) for r in df.select("user_id", "amount").collect()]
        with self.lock:
            self.rows[batch_id] = rows

    def committed(self, query) -> bool:
        """Whether every batch this sink saw shows in the query's progress
        feed (the sink runs before the commit that records progress)."""
        with self.lock:
            ids = set(self.rows)
        return ids <= {b["batch_id"] for b in C.progress_batches(query)}

    def files_seen(self) -> set[tuple[int, int]]:
        with self.lock:
            return {_file_key(u) for rows in self.rows.values() for u, _ in rows}


def _file_key(user_id: int) -> tuple[int, int]:
    """(tick, topic) of the file a sink row came from (topic 0 =
    purchases, 1 = donations)."""
    return user_id // G.USER_STRIDE, int(user_id % G.USER_STRIDE >= G.USER_STRIDE // 2)


def run(ctx: C.Context) -> None:
    from kafka_streams_the_clojure_way_spark import get_spark
    from kafka_streams_the_clojure_way_spark.plans.spec import validate_topology
    from kafka_streams_the_clojure_way_spark.queries.reference_queries import (
        flagship_topology,
        ref_topology_large_transactions,
    )
    from kafka_streams_the_clojure_way_spark.streaming.runner import TopologyRunner

    tr = ctx.tracer
    rows = 20 if ctx.tiny else ROWS_PER_FILE
    setups = 2 if ctx.tiny else SETUPS
    restarts = 2 if ctx.tiny else COLD_RESTARTS
    burst = 4 if ctx.tiny else BURST_TICKS
    n_rate = max(4 if ctx.tiny else MIN_RATE_TICKS, int(RATE * ctx.seconds))
    n_ticks = restarts + n_rate + burst

    # ---- inputs (seeded; not part of any timed phase)
    events = []
    for tick in range(n_ticks):
        t = G.etl_tick(ctx.seed, tick, rows)
        events.append(t["events"])
        for topic in ("purchases", "donations"):
            pq.write_table(t[topic], ctx.path("staging", topic, f"tick-{tick:06d}.parquet"))
    pq.write_table(pa.concat_tables(events), ctx.path("ref", "events.parquet"))
    pq.write_table(G.canary_table(ctx.seed), ctx.path("canary", "canary.parquet"))

    def stage(tick: int, dest: str) -> list[list[str]]:
        return [
            [ctx.path("staging", topic, f"tick-{tick:06d}.parquet"),
             ctx.path(dest, topic, f"tick-{tick:06d}.parquet")]
            for topic in ("purchases", "donations")
        ]

    spark = None
    topo = flagship_topology()

    def inputs_for(dest: str) -> dict:
        def source(topic: str, ddl: str):
            return (
                spark.readStream.schema(ddl)
                .option("maxFilesPerTrigger", 1)
                .parquet(ctx.dir(dest, topic))
            )

        return {
            "topic/purchase-made": source("purchases", G.PURCHASE_DDL),
            "topic/humble-donation-made": source("donations", G.DONATION_DDL),
        }

    def make_runner(dest: str, sink: CollectSink, ckpt: str):
        def starter(name, df):
            return (
                df.writeStream.foreachBatch(sink)
                .option("checkpointLocation", ctx.dir("ckpt", ckpt))
                .start()
            )

        with tr.span("plans.validate"):
            validate_topology(topo)
        with tr.span("plans.compile"):
            return TopologyRunner(spark, topo, inputs_for(dest), starter)

    # ---- 1. set-up, several times
    setup_s, session_s = [], []
    for i in range(setups):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        with tr.span("session.get_spark"):
            spark = get_spark(f"streambench-etl-{i}")
        session_s.append(time.perf_counter() - t0)
        spark.sparkContext.setLogLevel("ERROR")
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
        make_runner("main", CollectSink(), f"setup{i}")
        setup_s.append(time.perf_counter() - t0)
    ctx.detail["setup_samples_s"] = setup_s
    ctx.mark("setup")

    host = {"py": [C.py_loop_s()], "canary": []}
    with tr.span("host.frozen_canary"):
        host["canary"].append(C.frozen_canary_s(spark, ctx.path("canary", "canary.parquet")))

    # ---- 2. cold restarts: start() -> first commit
    sinks: list[CollectSink] = []
    cold = []
    for r in range(restarts):
        for src, dst in stage(r, f"cold{r}"):
            os.rename(src, dst)
        sink = CollectSink()
        sinks.append(sink)
        runner = make_runner(f"cold{r}", sink, f"cold{r}")
        t0 = time.time()
        with tr.span("streaming.start"):
            runner.start()
        (query,) = runner.queries.values()
        if not C.wait_until(lambda: C.progress_batches(query), timeout=60):
            raise RuntimeError("cold restart produced no micro-batch within 60 s")
        cold.append(C.progress_batches(query)[0]["end"] - t0)
        runner.stop()
    ctx.detail["cold_samples_s"] = cold
    ctx.mark("cold")

    # ---- 3. fixed-rate rung (open loop)
    main_sink = CollectSink()
    sinks.append(main_sink)
    runner = make_runner("main", main_sink, "main")
    runner.start()
    (query,) = runner.queries.values()
    rate_ticks = list(range(restarts, restarts + n_rate))
    lead = 0.5
    plan = [[lead + j / RATE, stage(t, "main")] for j, t in enumerate(rate_ticks)]
    t0 = time.time()
    feed, log_path = C.start_feed(ctx, plan, t0, "rate")
    log = C.finish_feed(feed, log_path, timeout=lead + n_rate / RATE + 30)
    want = {(t, k) for t in rate_ticks for k in (0, 1)}
    if not C.wait_until(
        lambda: want <= main_sink.files_seen() and main_sink.committed(query), timeout=60
    ):
        raise RuntimeError("fixed-rate rung did not drain within 60 s")
    rate_batches = C.progress_batches(query)
    due = {t: entry["due"] for t, entry in zip(rate_ticks, log)}
    latency, backlog_max = _file_latencies(main_sink, rate_batches, due)
    lag = [e["delivered"] - e["due"] for e in log]
    ctx.mark("rate_rung")

    # ---- 4. saturating rung: a burst lands at once
    burst_ticks = list(range(restarts + n_rate, n_ticks))
    moves = [m for t in burst_ticks for m in stage(t, "main")]
    t0 = time.time()
    feed, log_path = C.start_feed(ctx, [[0.2, moves]], t0, "burst")
    (burst_entry,) = C.finish_feed(feed, log_path, timeout=30)
    want = {(t, k) for t in burst_ticks for k in (0, 1)}
    if not C.wait_until(
        lambda: want <= main_sink.files_seen() and main_sink.committed(query), timeout=90
    ):
        raise RuntimeError("saturating rung did not drain within 90 s")
    seen = {b["batch_id"] for b in rate_batches}
    burst_batches = [b for b in C.progress_batches(query) if b["batch_id"] not in seen]
    # the loop runs back to back while the burst lasts: the median gap
    # between consecutive commits is the time one tick costs at capacity
    ends = sorted(b["end"] for b in burst_batches)
    gaps = [b - a for a, b in zip(ends, ends[1:])]
    throughput = 2 * rows / C.median(gaps)
    burst_latency, _ = _file_latencies(
        main_sink, burst_batches, {t: burst_entry["due"] for t in burst_ticks}
    )
    spark_stats = C.group_stage_stats(spark, str(query.runId))
    n_batches = len(rate_batches) + len(burst_batches)
    runner.stop()
    ctx.mark("burst_rung")

    host["py"].append(C.py_loop_s())
    with tr.span("host.frozen_canary"):
        host["canary"].append(C.frozen_canary_s(spark, ctx.path("canary", "canary.parquet")))

    # ---- 5. check every delivered file against the batch reference
    with tr.span("check.reference"):
        ref = ref_topology_large_transactions(spark, ctx.dir("ref"))
        expected: dict[tuple[int, int], list] = {}
        for r in ref.select("user_id", "amount").collect():
            expected.setdefault(_file_key(r[0]), []).append((r[0], r[1]))
    got: dict[tuple[int, int], list] = {}
    for sink in sinks:
        for batch_rows in sink.rows.values():
            for u, a in batch_rows:
                got.setdefault(_file_key(u), []).append((u, a))
    files = [(t, k) for t in range(n_ticks) for k in (0, 1)]
    bad = [f for f in files if sorted(got.get(f, [])) != sorted(expected.get(f, []))]
    ctx.attempted, ctx.failed = len(files), len(bad)
    ctx.mark("check")

    p50 = C.median(latency)
    tail_v, tail_p = C.tail(latency)
    ctx.e2e.update(
        setup_s=(C.median(setup_s), "s"),
        p50_s=(p50, "s"),
        tail_s=(tail_v, "s"),
        throughput_per_s=(throughput, "1/s"),
        cold_s=(C.median(cold), "s"),
        success_rate=((len(files) - len(bad)) / len(files), "ratio"),
    )
    ctx.detail.update(
        latency_samples=len(latency), tail_percentile=tail_p,
        rate_ticks_per_s=RATE, rows_per_file=rows, burst_ticks=len(burst_ticks),
        burst_commit_gaps_s=gaps, cold_restarts=restarts,
        bad_files=bad[:10],
        rungs=[
            {"rate": f"{RATE} ticks/s", "tail_s": tail_v,
             "meets_limit": tail_v <= LATENCY_LIMIT_S},
            {"rate": f"burst of {len(burst_ticks)} ticks",
             "tail_s": C.tail(burst_latency)[0],
             "meets_limit": C.tail(burst_latency)[0] <= LATENCY_LIMIT_S},
        ],
    )
    ctx.layer.update(C.trigger_phase_medians(rate_batches))
    ctx.layer.update(
        {
            "session.get_spark_s": C.median(session_s),
            "plans.validate_s": tr.seconds("plans.validate") / (setups + restarts + 1),
            "plans.compile_s": tr.seconds("plans.compile") / (setups + restarts + 1),
            "spark.trigger.jobs": spark_stats["jobs"] / n_batches,
            "spark.trigger.stages": spark_stats["stages"] / n_batches,
            "spark.trigger.shuffle_write_bytes": spark_stats["shuffle_write_bytes"] / n_batches,
            "streaming.backlog_files_max": backlog_max,
            "feed.lag_s": max(lag),
            "host.py_loop_s": C.median(host["py"]),
            "host.frozen_canary_s": C.median(host["canary"]),
        }
    )


def _file_latencies(sink: CollectSink, batches: list[dict], due: dict[int, float]):
    """Per delivered file: commit time of the first micro-batch holding its
    rows minus its due time; plus the largest number of files delivered
    but not yet committed seen at any commit."""
    end_of = {b["batch_id"]: b["end"] for b in batches}
    first: dict[tuple[int, int], float] = {}
    with sink.lock:
        items = sorted(sink.rows.items())
    for batch_id, rows in items:
        for u, _ in rows:
            key = _file_key(u)
            if key[0] in due and key not in first and batch_id in end_of:
                first[key] = end_of[batch_id]
    latency = [first[k] - due[k[0]] for k in sorted(first)]
    backlog = 0
    for b in batches:
        delivered = sum(2 for d in due.values() if d <= b["end"])
        committed = sum(1 for t in first.values() if t <= b["end"])
        backlog = max(backlog, delivered - committed)
    return latency, backlog
