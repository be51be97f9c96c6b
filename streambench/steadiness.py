"""Steadiness check: runs the benchmark's workloads interleaved in time
(A B A B ...), one seed per round, and reports for every end-to-end
metric its median and its quartile spread (Q3 - Q1) / median, as
``statistics.quantiles(values, n=4)`` gives the quartiles. Host speed on
a shared machine drifts over minutes, so interleaving keeps one
workload's samples from all landing in one slow stretch.

Usage (from the checkout root):
    python3 streambench/steadiness.py --seeds 1-10 [--workloads a,b] [--out FILE]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> None:
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--out", help="append every run's result line here as JSON lines")
    args = ap.parse_args()
    workloads = args.workloads.split(",")
    values: dict[str, dict[str, list[float]]] = {w: {} for w in workloads}
    for seed in _seeds(args.seeds):
        for w in workloads:
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            proc = subprocess.run(cmd, capture_output=True, text=True)
            if proc.returncode != 0:
                print(f"{w} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}",
                      file=sys.stderr)
                continue
            line = json.loads(proc.stdout.strip().splitlines()[-1])
            if args.out:
                with open(args.out, "a") as fh:
                    fh.write(json.dumps({"workload": w, "seed": seed, **line}) + "\n")
            for name, m in line["metrics"].items():
                values[w].setdefault(name, []).append(m["value"])
            print(f"{w} seed {seed}: correct={line['correct']} "
                  + " ".join(f"{k}={m['value']:.4g}" for k, m in line["metrics"].items()),
                  flush=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in workloads:
        for name, vals in values[w].items():
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            flag = "" if spread <= bounds.get(name, 1) / 3 else "  <-- above bound/3"
            print(f"{w:24s} {name:18s} n={len(vals):2d} median={med:.5g} "
                  f"spread={spread:.4f} bound={bounds.get(name)}{flag}")


if __name__ == "__main__":
    main()
