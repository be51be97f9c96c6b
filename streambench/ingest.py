"""``ingest-curation-stream``: the six-gate curation topology
(``plans.ingestion.run_ingestion_stream``: exact (Bloom + hash index),
near-dup (MinHash index), DSIR, containment, contamination (keyset
index) and semantic (IVF index) gates) over a replayed arriving stream:
re-keyed replicas of the arriving slice of a seeded documents table
shaped like the sf0.1 one (``datagen.documents``), one 250-row parquet
file per trigger.

Phases, in order:

1. set-up: a session, the seven artifact builds (six indexes and the
   DSIR ratio table) and ``ingestion_topology`` (``setup_s``);
2. the cold trigger: the first file's due time -> commit, which includes
   the compile warm-up (``cold_s``);
3. the fixed-rate rung: the feed process delivers one file every
   ``INTERVAL_S`` seconds, open loop, for ``--seconds`` (at least two
   files); latency runs from each file's due time to the commit of its
   trigger (``p50_s``, ``tail_s``); ``throughput_per_s`` is the docs/s
   the loop sustains while busy (input rows over summed trigger time);
4. the check: each trigger's survivors must equal
   ``run_ingestion_batch`` over all delivered docs, restricted to that
   trigger's ids;
5. traced runs only: the per-gate split on one batch (compile, then the
   marginal execute time and rows out per gate), on the same routing
   path the stream takes, and Catalyst's phase times for the curated
   plan.
"""

from __future__ import annotations

import threading
import time

import pyarrow.parquet as pq

import common as C
import datagen as G

ROWS_PER_FILE = 250
#: seconds between files on the fixed-rate rung; a warm 250-row trigger
#: takes 4.5-7 s on a 4-core host as its speed drifts, so this keeps the
#: loop below capacity
INTERVAL_S = 8.0

#: the six gates' entity names, in topology order
GATE_ENTITIES = [
    ("exact", "stream/exact-gate"),
    ("neardup", "stream/neardup-gate"),
    ("dsir", "stream/dsir-gate"),
    ("containment", "stream/containment-gate"),
    ("contamination", "stream/contamination-gate"),
    ("semantic", "stream/semantic-gate"),
]


class SurvivorSink:
    """``run_ingestion_stream`` sink: materializes each trigger's curated
    doc ids on the driver."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.ids: dict[int, list[int]] = {}

    def __call__(self, curated, batch_id: int) -> None:
        ids = [r[0] for r in curated.select("doc_id").collect()]
        with self.lock:
            self.ids[batch_id] = ids


def _file_of(doc_id: int) -> int:
    return (doc_id - G.ARRIVING_BASE) // G.FILE_STRIDE


def run(ctx: C.Context) -> None:
    from pyspark.sql import functions as F

    from kafka_streams_the_clojure_way_spark import get_spark
    from kafka_streams_the_clojure_way_spark.operators import dedup as D
    from kafka_streams_the_clojure_way_spark.operators import similarity as S
    from kafka_streams_the_clojure_way_spark.operators import text as T
    from kafka_streams_the_clojure_way_spark.plans.ingestion import (
        ingestion_topology,
        run_ingestion_batch,
        run_ingestion_stream,
    )

    tr = ctx.tracer
    n_docs = 1000 if ctx.tiny else G.N_DOCS
    n_vecs = 400 if ctx.tiny else G.N_VECS
    rows = 50 if ctx.tiny else ROWS_PER_FILE
    interval = 2.0 if ctx.tiny else INTERVAL_S
    n_open = 2 if ctx.tiny else max(2, round(ctx.seconds / interval) + 1)
    n_files = 1 + n_open

    # ---- inputs (seeded; not part of any timed phase)
    table = G.documents(ctx.seed, n_docs)
    pq.write_table(table, ctx.path("tables", "documents.parquet"))
    pq.write_table(G.embeddings(ctx.seed, n_vecs), ctx.path("tables", "embeddings.parquet"))
    for i in range(n_files):
        pq.write_table(G.arriving_file(table, ctx.seed, i, rows),
                       ctx.path("staging", f"batch-{i:04d}.parquet"))
    pq.write_table(G.canary_table(ctx.seed), ctx.path("canary", "canary.parquet"))

    # ---- 1. set-up: the registry's artifact builds over the same slices
    # (corpus = every doc off the arriving slice; the keyset holds the
    # held-out benchmark source's shingles)
    t0 = time.perf_counter()
    with tr.span("session.get_spark"):
        spark = get_spark("streambench-ingest")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    all_docs = spark.read.schema(G.DOC_DDL).parquet(ctx.path("tables", "documents.parquet"))
    docs = all_docs.filter(F.col("doc_id") % G.ARRIVING_MOD != 0)
    emb = spark.read.parquet(ctx.path("tables", "embeddings.parquet"))
    idx = ctx.dir("indexes")
    bench_keys = (
        all_docs.filter(F.col("source") == G.BENCH_SOURCE)
        .select(F.explode_outer(T.shingles_col(F.col("text"))).alias("key"))
        .filter(F.col("key").isNotNull())
    )
    builds = [
        ("minhash", lambda p: D.build_minhash_index(docs, p)),
        ("hash", lambda p: D.build_hash_index(docs, p)),
        ("bloom", lambda p: D.build_bloom_index(docs, p)),
        ("containment", lambda p: D.build_containment_index(docs, p)),
        ("keyset", lambda p: D.build_keyset_index(bench_keys, p)),
        ("ivf", lambda p: S.build_ivf_index(
            emb.filter(F.col("vec_id") % G.ARRIVING_MOD != 0), p)),
    ]
    build_s = {}
    for name, build in builds:
        b0 = time.perf_counter()
        with tr.span(f"artifacts.{name}_index"):
            build(f"{idx}/{name}")
        build_s[name] = time.perf_counter() - b0
    b0 = time.perf_counter()
    with tr.span("artifacts.dsir_ratios"):
        ratios = T.dsir_bucket_ratios(docs, F.col("lang") == "en")
    build_s["dsir_ratios"] = time.perf_counter() - b0
    caches: list = []
    b0 = time.perf_counter()
    with tr.span("plans.ingestion_topology"):
        topo = ingestion_topology(
            spark,
            index_path=f"{idx}/minhash",
            corpus=docs,
            ratios=ratios,
            containment_index_path=f"{idx}/containment",
            hash_index_path=f"{idx}/hash",
            bloom_index_path=f"{idx}/bloom",
            keyset_index_path=f"{idx}/keyset",
            ivf_index_path=f"{idx}/ivf",
            embeddings=emb,
            cache_registry=caches,
            raw_verdicts=True,
        )
    topology_s = time.perf_counter() - b0
    setup_s = time.perf_counter() - t0
    ctx.mark("setup")

    host = {"py": [C.py_loop_s()], "canary": []}
    with tr.span("host.frozen_canary"):
        host["canary"].append(C.frozen_canary_s(spark, ctx.path("canary", "canary.parquet")))

    # ---- 2-3. cold trigger, then the fixed-rate rung (open loop)
    in_dir = ctx.dir("in")
    sink = SurvivorSink()
    stream = (
        spark.readStream.schema(G.DOC_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    with tr.span("streaming.start"):
        query = run_ingestion_stream(
            spark, topo, stream, sink,
            cache_registry=caches,
            checkpoint=ctx.dir("ckpt"),
            trigger={"processingTime": "0 seconds"},
        )
    lead = 0.5
    moves = [[ctx.path("staging", f"batch-{i:04d}.parquet"),
              ctx.path("in", f"batch-{i:04d}.parquet")] for i in range(n_files)]
    t_feed = time.time()
    cold_feed, cold_log = C.start_feed(ctx, [[lead, [moves[0]]]], t_feed, "cold")
    (cold_entry,) = C.finish_feed(cold_feed, cold_log, timeout=lead + 30)
    with tr.span("streaming.cold_trigger"):
        if not C.wait_until(lambda: len(C.progress_batches(query)) >= 1, timeout=120):
            raise RuntimeError("cold trigger did not commit within 120 s")
    cold_batch = C.progress_batches(query)[0]
    cold_s = cold_batch["end"] - cold_entry["due"]
    ctx.mark("cold")

    plan = [[lead + j * interval, [moves[1 + j]]] for j in range(n_open)]
    t_feed = time.time()
    feed, log_path = C.start_feed(ctx, plan, t_feed, "rate")
    log = C.finish_feed(feed, log_path, timeout=lead + n_open * interval + 30)
    with tr.span("streaming.drain"):
        if not C.wait_until(lambda: len(C.progress_batches(query)) >= n_files, timeout=150):
            raise RuntimeError("fixed-rate rung did not drain within 150 s")
    batches = C.progress_batches(query)[1:]
    spark_stats = C.group_stage_stats(spark, str(query.runId))
    query.stop()
    ctx.mark("rate_rung")

    # each file is one trigger; map trigger -> file through its survivors'
    # ids (a trigger with no survivors cannot be placed, and is a failure)
    file_of_batch = {}
    with sink.lock:
        for batch_id, ids in sink.ids.items():
            files = {_file_of(i) for i in ids}
            if len(files) == 1:
                file_of_batch[batch_id] = files.pop()
    due = {1 + j: entry["due"] for j, entry in enumerate(log)}
    latency = [
        b["end"] - due[file_of_batch[b["batch_id"]]]
        for b in batches
        if file_of_batch.get(b["batch_id"]) in due
    ]
    throughput = sum(b["rows"] for b in batches) / sum(b["end"] - b["start"] for b in batches)
    lag = [e["delivered"] - e["due"] for e in [cold_entry] + log]
    backlog = 0
    for b in batches:
        delivered = sum(1 for d in due.values() if d <= b["end"])
        committed = sum(1 for x in batches if x["end"] <= b["end"])
        backlog = max(backlog, delivered - committed)

    host["py"].append(C.py_loop_s())
    with tr.span("host.frozen_canary"):
        host["canary"].append(C.frozen_canary_s(spark, ctx.path("canary", "canary.parquet")))

    # ---- 4. check every trigger against the batch reference
    delivered = spark.read.schema(G.DOC_DDL).parquet(in_dir)
    with tr.span("check.reference"):
        ref_ids = {r[0] for r in run_ingestion_batch(spark, topo, delivered).select("doc_id").collect()}
    for frame in caches:
        frame.unpersist()
    caches.clear()
    got: dict[int, set[int]] = {}
    with sink.lock:
        for ids in sink.ids.values():
            for i in ids:
                got.setdefault(_file_of(i), set()).add(i)
    bad = [
        f for f in range(n_files)
        if got.get(f, set()) != {i for i in ref_ids if _file_of(i) == f}
    ]
    ctx.attempted, ctx.failed = n_files, len(bad)
    ctx.mark("check")
    survivors = sum(len(v) for v in got.values())

    # ---- 5. traced runs only: per-gate split on one batch
    if ctx.trace:
        _gate_split(ctx, spark, topo, caches,
                    spark.read.schema(G.DOC_DDL).parquet(ctx.path("in", "batch-0001.parquet")))

    tail_v, tail_p = C.tail(latency)
    ctx.e2e.update(
        setup_s=(setup_s, "s"),
        p50_s=(C.median(latency), "s"),
        tail_s=(tail_v, "s"),
        throughput_per_s=(throughput, "1/s"),
        cold_s=(cold_s, "s"),
        success_rate=((n_files - len(bad)) / n_files, "ratio"),
    )
    ctx.detail.update(
        latency_samples=len(latency), latency_s=latency, tail_percentile=tail_p,
        interval_s=interval, rows_per_file=rows, documents=n_docs,
        survivors=survivors, reference_survivors=len(ref_ids), bad_files=bad,
        build_s=build_s,
    )
    ctx.layer.update(C.trigger_phase_medians(batches))
    ctx.layer.update(
        {
            "session.get_spark_s": session_s,
            "plans.ingestion_topology_s": topology_s,
            **{f"artifacts.{k}_index_s": v for k, v in build_s.items() if k != "dsir_ratios"},
            "artifacts.dsir_ratios_s": build_s["dsir_ratios"],
            "spark.trigger.jobs": spark_stats["jobs"] / (len(batches) + 1),
            "spark.trigger.stages": spark_stats["stages"] / (len(batches) + 1),
            "spark.trigger.shuffle_write_bytes": spark_stats["shuffle_write_bytes"] / (len(batches) + 1),
            "streaming.backlog_files_max": backlog,
            "feed.lag_s": max(lag),
            "curated.survivors": survivors,
            "host.py_loop_s": C.median(host["py"]),
            "host.frozen_canary_s": C.median(host["canary"]),
        }
    )


def _gate_split(ctx, spark, topo, caches, batch):
    """Per-gate cost on one batch: the whole compile, then each gate
    output forced in topology order (the gates' cached outputs make each
    force that gate's marginal cost), with the rows each gate lets
    through; and Catalyst's phase times for the curated plan.

    The compile takes the routing path ``run_ingestion_stream`` resolves
    for this topology: a raw-verdict topology routes per probe, inside
    the compile, so routing has no span of its own and shows in
    ``plans.compile_ingestion_s``."""
    from kafka_streams_the_clojure_way_spark.plans.ingestion import compile_ingestion

    tr = ctx.tracer
    t0 = time.perf_counter()
    with tr.span("plans.compile_ingestion"):
        compiled = compile_ingestion(spark, topo, batch, cache_registry=caches,
                                     fuse_routing=not topo.get("raw_verdicts"))
    ctx.layer["plans.compile_ingestion_s"] = time.perf_counter() - t0
    for gate, entity in GATE_ENTITIES:
        frame = compiled[entity]
        t0 = time.perf_counter()
        with tr.span(f"operators.gate.{gate}"):
            frame.write.format("noop").mode("overwrite").save()
        ctx.layer[f"operators.gate.{gate}_s"] = time.perf_counter() - t0
        ctx.layer[f"gate.rows_out.{gate}"] = frame.count()
    curated = compiled["topic/curated-docs"]
    phases = curated._jdf.queryExecution()
    phases.executedPlan()
    tracker = phases.tracker().phases()
    for name in ("analysis", "optimization", "planning"):
        summary = tracker.get(name)
        if summary.isDefined():
            ctx.layer[f"spark.{name}_ms"] = float(summary.get().durationMs())
    for frame in caches:
        frame.unpersist()
    caches.clear()
