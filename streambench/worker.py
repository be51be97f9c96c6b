"""Runs one workload inside the per-run sandbox prepared by ``run.py`` and
writes its raw result as JSON. Not meant to be started by hand.

Usage: python3 worker.py WORKLOAD SEED SECONDS TRACE WORKDIR RESULT_JSON [--tiny]
"""

from __future__ import annotations

import json
import sys
import time

import common as C


def main() -> None:
    workload, seed, seconds, trace, workdir, result = sys.argv[1:7]
    ctx = C.Context(workload, int(seed), float(seconds), trace == "1", workdir,
                    tiny="--tiny" in sys.argv[7:])
    if workload == "ref-etl-stream":
        import etl as module
    elif workload == "ingest-curation-stream":
        import ingest as module
    elif workload == "batch-query-mix":
        import mix as module
    else:
        raise SystemExit(f"unknown workload {workload!r}")
    t0 = time.time()
    try:
        module.run(ctx)
    finally:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is not None:
            spark.stop()
    ctx.detail["raw_e2e"] = dict(ctx.e2e)
    C.at_reference_speed(ctx.e2e, ctx.layer["host.py_loop_s"])
    if ctx.trace:
        for layer, sec in ctx.tracer.self_time_by_layer().items():
            ctx.layer[f"self.{layer}_s"] = sec
        # end-to-end numbers as seen under tracing: compare with an
        # untraced run of the same seed to read the tracing overhead
        ctx.layer["trace.p50_s"] = ctx.e2e["p50_s"][0]
        ctx.layer["trace.throughput_per_s"] = ctx.e2e["throughput_per_s"][0]
        spans = result.replace(".json", ".spans.json")
        ctx.tracer.dump(spans)
        ctx.detail["spans"] = spans
    ctx.detail["worker_wall_s"] = time.time() - t0
    with open(result, "w") as fh:
        json.dump(
            {
                "e2e": ctx.e2e,
                "layer": ctx.layer,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "detail": ctx.detail,
            },
            fh,
        )


if __name__ == "__main__":
    main()
