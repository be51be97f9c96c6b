"""``batch-query-mix``: one client running a fixed mix of registry queries
back to back, waiting for each (closed loop), over seeded ``documents``
and ``embeddings`` tables shaped like the sf0.01 ones (500 docs, 500
vectors; ``datagen.documents`` / ``datagen.embeddings``). Every result
is checked against the query's DuckDB oracle (``queries.ORACLES``).

The mix is small on purpose, so that a run fits next to the two streams:
one query per path the streams do not load.

- ``sim_ivf_index_topk``: Catalyst + shuffle over the IVF index, which
  is built on first use in a process and only read after (an artifact
  build in the cold pass);
- ``multimodal_image_resize``: PNG encode, decode, resize and re-encode
  through the Arrow codec kernels (``functions.codecs``) on every call.

Phases, in order:

1. set-up: a session, the input tables and the oracle results
   (``setup_s``);
2. the cold pass: the first pass in the fresh process, which builds the
   artifacts (``cold_s``);
3. warm passes for ``--seconds`` (at least three); the cache is
   cleared at family boundaries, as ``bench.py`` does. A pass's latency
   sample is its mean per-query time (construct + execute), so that
   every query of the mix moves it (``p50_s``, ``tail_s``); queries
   over summed warm query time is ``throughput_per_s``;
4. the check, per execution: the order-insensitive hash of the result
   must equal the oracle's (``success_rate``).
"""

from __future__ import annotations

import hashlib
import time

import pyarrow.parquet as pq

import common as C
import datagen as G

MIX = [
    "sim_ivf_index_topk",
    "multimodal_image_resize",
]
FAMILIES = sorted({q.split("_", 1)[0] for q in MIX})
N_DOCS = 500
N_VECS = 500
MIN_WARM_PASSES = 3


def result_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name, rows
    by their text form."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(",".join(repr(r[i]) for i in idx) for r in rows)
    return hashlib.md5("\n".join([",".join(sorted(columns))] + lines).encode()).hexdigest()


def run(ctx: C.Context) -> None:
    import duckdb

    from kafka_streams_the_clojure_way_spark import get_spark
    from kafka_streams_the_clojure_way_spark.queries import ORACLES, QUERIES

    tr = ctx.tracer
    n_docs = 200 if ctx.tiny else N_DOCS
    n_vecs = 200 if ctx.tiny else N_VECS

    # ---- 1. set-up: session, inputs, oracle results
    t0 = time.perf_counter()
    with tr.span("session.get_spark"):
        spark = get_spark("streambench-mix")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = ctx.dir("tables")
    pq.write_table(G.documents(ctx.seed, n_docs), ctx.path("tables", "documents.parquet"))
    pq.write_table(G.embeddings(ctx.seed, n_vecs), ctx.path("tables", "embeddings.parquet"))
    pq.write_table(G.canary_table(ctx.seed), ctx.path("canary", "canary.parquet"))
    con = duckdb.connect()
    for table in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{sf_dir}/{table}.parquet'")
    with tr.span("oracle.results"):
        expected = {}
        for name in MIX:
            rel = con.sql(ORACLES[name])
            expected[name] = result_hash(rel.columns, rel.fetchall())
    con.close()
    setup_s = time.perf_counter() - t0
    ctx.mark("setup")

    sc = spark.sparkContext
    samples: list[dict] = []

    def one_pass(p: int) -> float:
        sc.setJobGroup(f"pass-{p}", f"mix pass {p}")
        t_pass = time.perf_counter()
        for i, name in enumerate(MIX):
            family = name.split("_", 1)[0]
            t0 = time.perf_counter()
            with tr.span(f"queries.{family}.construct"):
                df = QUERIES[name](spark, sf_dir)
            t1 = time.perf_counter()
            with tr.span(f"queries.{family}.execute"):
                rows = df.collect()
            t2 = time.perf_counter()
            phases = df._jdf.queryExecution().tracker().phases() if ctx.trace else None
            samples.append({
                "pass": p, "query": name, "family": family,
                "construct_s": t1 - t0, "execute_s": t2 - t1,
                "ok": result_hash(df.columns, rows) == expected[name],
                "phases_ms": {
                    k: float(phases.get(k).get().durationMs())
                    for k in ("analysis", "optimization", "planning")
                    if phases.get(k).isDefined()
                } if phases is not None else {},
            })
            if i + 1 == len(MIX) or MIX[i + 1].split("_", 1)[0] != family:
                spark.catalog.clearCache()
        sc.setLocalProperty("spark.jobGroup.id", None)
        return time.perf_counter() - t_pass

    # ---- 2. the cold pass
    cold_s = one_pass(0)
    ctx.mark("cold")

    host = {"py": [C.py_loop_s()], "canary": []}
    with tr.span("host.frozen_canary"):
        host["canary"].append(C.frozen_canary_s(spark, ctx.path("canary", "canary.parquet")))

    # ---- 3. warm passes for --seconds
    passes = 1 if ctx.tiny else MIN_WARM_PASSES
    t_end = time.perf_counter() + ctx.seconds
    p = 1
    while p <= passes or time.perf_counter() < t_end:
        one_pass(p)
        p += 1
    n_passes = p - 1
    ctx.mark("warm")

    host["py"].append(C.py_loop_s())
    with tr.span("host.frozen_canary"):
        host["canary"].append(C.frozen_canary_s(spark, ctx.path("canary", "canary.parquet")))

    # ---- 4. the check, and the figures
    ctx.attempted = len(samples)
    ctx.failed = sum(not s["ok"] for s in samples)
    per_pass: dict[int, list[float]] = {}
    for s in samples:
        if s["pass"] > 0:
            per_pass.setdefault(s["pass"], []).append(s["construct_s"] + s["execute_s"])
    latency = [sum(v) / len(v) for v in per_pass.values()]
    tail_v, tail_p = C.tail(latency)
    ctx.e2e.update(
        setup_s=(setup_s, "s"),
        p50_s=(C.median(latency), "s"),
        tail_s=(tail_v, "s"),
        throughput_per_s=(sum(len(v) for v in per_pass.values())
                          / sum(sum(v) for v in per_pass.values()), "1/s"),
        cold_s=(cold_s, "s"),
        success_rate=((ctx.attempted - ctx.failed) / ctx.attempted, "ratio"),
    )
    ctx.detail.update(
        latency_samples=len(latency), tail_percentile=tail_p, warm_passes=n_passes,
        documents=n_docs, vectors=n_vecs, mix=MIX,
        mismatches=[(s["pass"], s["query"]) for s in samples if not s["ok"]],
        samples=samples,
    )
    ctx.layer.update(
        {
            "session.get_spark_s": session_s,
            "oracle.mismatches": ctx.failed,
            "host.py_loop_s": C.median(host["py"]),
            "host.frozen_canary_s": C.median(host["canary"]),
        }
    )
    if ctx.trace:
        _layers(ctx, spark, samples, n_passes)


def _layers(ctx, spark, samples, n_passes) -> None:
    """Per-family construct / execute medians over the warm passes and
    their cold-minus-warm difference; Spark's jobs, stages, tasks,
    shuffle and spill per pass (cold pass and warm median); Catalyst's
    phase times summed over a warm pass (median)."""
    for family in FAMILIES:
        mine = [s for s in samples if s["family"] == family]
        per_pass: dict[int, list[float]] = {}
        for s in mine:
            per_pass.setdefault(s["pass"], []).append(s["construct_s"] + s["execute_s"])
        warm = [s for s in mine if s["pass"] > 0]
        ctx.layer[f"queries.{family}.construct_s"] = C.median(
            [s["construct_s"] for s in warm])
        ctx.layer[f"queries.{family}.execute_s"] = C.median([s["execute_s"] for s in warm])
        ctx.layer[f"queries.{family}.cold_minus_warm_s"] = sum(per_pass[0]) - C.median(
            [sum(v) for p, v in per_pass.items() if p > 0])
    stats = [C.group_stage_stats(spark, f"pass-{p}") for p in range(n_passes + 1)]
    ctx.layer["queries.cold_jobs"] = stats[0]["jobs"]
    ctx.layer["queries.warm_jobs"] = C.median([s["jobs"] for s in stats[1:]])
    for key in ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes"):
        ctx.layer[f"spark.{key}"] = C.median([s[key] for s in stats[1:]])
    for phase in ("analysis", "optimization", "planning"):
        ctx.layer[f"spark.{phase}_ms"] = C.median([
            sum(s["phases_ms"].get(phase, 0.0) for s in samples if s["pass"] == p)
            for p in range(1, n_passes + 1)
        ])
