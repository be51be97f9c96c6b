"""Benchmark entry point. Run from the root of a checkout:

    python3 streambench/run.py --workload ref-etl-stream --seed 1 --seconds 10 --trace 0

Each run gets its own sandbox under ``.streambench/runs/``: a private
``TMPDIR`` (also Spark's local dirs and the JVM's ``java.io.tmpdir``), a
work dir for generated inputs, and a worker process that runs the
workload with the package on every Python worker's path. This process
tracks the worker's whole process tree (in traced runs also its peak
resident memory, as proportional set size so shared pages count once),
waits for every process of the tree to end, counts the temp entries the engine left
behind, removes the sandbox and prints one JSON line as the last line of
stdout. The full detail (sample counts, percentiles used, host probes)
goes to ``.streambench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "kafka_streams_the_clojure_way_spark"
WORKLOADS = ("ref-etl-stream", "ingest-curation-stream", "batch-query-mix")
TIMEOUT_S = 170.0


def _declared(root: str) -> tuple[dict[str, str], dict[str, str]]:
    """{name: unit} of the end-to-end and per-layer metrics, as
    ``BENCHMARK.json`` at the checkout root declares them."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return tuple({m["name"]: m["unit"] for m in bench[k]} for k in ("end_to_end", "per_layer"))


def _stat(pid: int) -> tuple[int, int] | None:
    """(parent pid, start time) of a live process, or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(fields[1]), int(fields[19])


def _tree(root: int) -> dict[int, int]:
    """{pid: start time} of ``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    starts: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[0], []).append(int(name))
                starts[int(name)] = st[1]
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in starts:
            out[pid] = starts[pid]
            todo.extend(children.get(pid, ()))
    return out


def _resident_mb(pids) -> dict[str, float]:
    """Resident MB of ``pids`` per program name (java, python3, ...), as
    proportional set size: a page shared by n processes counts 1/n in
    each, so a JVM's short-lived fork before exec, or forked Python
    workers, do not count the shared memory twice."""
    out: dict[str, float] = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/comm") as fh:
                name = fh.read().strip()
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                pss = next(line for line in fh if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
        out[name] = out.get(name, 0.0) + int(pss.split()[1]) / 1024.0
    return out


def _alive(pid: int, start: int) -> bool:
    st = _stat(pid)
    return st is not None and st[1] == start


def _stop_all(seen: dict[int, int], grace: float) -> None:
    """Wait up to ``grace`` seconds for every process seen in the tree to
    end, then kill what is left and wait for it."""
    end = time.time() + grace
    while time.time() < end and any(_alive(p, s) for p, s in seen.items()):
        time.sleep(0.1)
    for pid, start in seen.items():
        if _alive(pid, start):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
    while any(_alive(p, s) for p, s in seen.items()):
        time.sleep(0.05)


def _count_leaked(tmp: str) -> int:
    """Entries the run left in its private temp dir (Spark's local-dir
    root itself excluded; entries inside it count)."""
    n = 0
    for name in os.listdir(tmp):
        path = os.path.join(tmp, name)
        if name == "spark-local":
            n += len(os.listdir(path))
        else:
            n += 1
    return n


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smallest inputs, for the smoke test")
    args = ap.parse_args()
    # a TERM from whoever runs the benchmark unwinds through the cleanup below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"error: run from a checkout root; {PACKAGE}/ not found in {root}",
              file=sys.stderr)
        return 2
    end_to_end, per_layer = _declared(root)
    nproc = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir = os.path.join(root, ".streambench", "runs", f"{tag}-{os.getpid()}")
    results = os.path.join(root, ".streambench", "results")
    tmp = os.path.join(run_dir, "tmp")
    work = os.path.join(run_dir, "work")
    for d in (os.path.join(tmp, "spark-local"), work, results):
        os.makedirs(d, exist_ok=True)
    result_path = os.path.join(results, f"{tag}.json")
    if os.path.exists(result_path):
        os.remove(result_path)
    env = dict(os.environ)
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(nproc),
    )
    env.pop("OMP_NUM_THREADS", None)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), args.workload,
           str(args.seed), repr(args.seconds), str(args.trace), work, result_path]
    if args.tiny:
        cmd.append("--tiny")

    log_path = os.path.join(run_dir, "worker.log")
    peak = 0.0
    peak_by_name: dict[str, float] = {}
    series: list[tuple[float, int, int]] = []
    seen: dict[int, int] = {}
    t0 = time.time()
    with open(log_path, "w") as log:
        child = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                 stderr=subprocess.STDOUT)
        try:
            while child.poll() is None:
                tree = _tree(child.pid)
                seen.update(tree)
                if args.trace:
                    # memory only in traced runs: reading smaps_rollup
                    # walks the JVM's page tables, load an untraced run
                    # must not carry
                    rss = _resident_mb(tree)
                    peak = max(peak, sum(rss.values()))
                    series.append((round(time.time(), 2), round(rss.get("java", 0.0)),
                                   round(sum(rss.values()))))
                    for name, mb in rss.items():
                        peak_by_name[name] = max(peak_by_name.get(name, 0.0), mb)
                if time.time() - t0 > TIMEOUT_S:
                    child.kill()
                    break
                time.sleep(0.25)
        except BaseException:
            # interrupted: take the whole tree down, then the sandbox
            child.kill()
            child.wait()
            _stop_all(seen, grace=15.0)
            shutil.rmtree(run_dir, ignore_errors=True)
            raise
        child.wait()
        _stop_all(seen, grace=15.0)
    wall = time.time() - t0

    ok = child.returncode == 0 and os.path.exists(result_path)
    if not ok:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        print(f"error: worker failed (exit {child.returncode}, {wall:.1f} s)",
              file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 1
    leaked = _count_leaked(tmp)
    shutil.rmtree(run_dir, ignore_errors=True)

    with open(result_path) as fh:
        raw = json.load(fh)
    raw["layer"]["artifacts.leaked_tmp_dirs"] = leaked
    raw["detail"].update(run_wall_s=wall, nproc=nproc, leaked_tmp_dirs=leaked)
    if args.trace:
        raw["layer"]["process.peak_rss_mb"] = peak
        raw["detail"].update(peak_rss_mb_by_program=peak_by_name,
                             resident_mb_series=series[::4])
    with open(result_path, "w") as fh:
        json.dump(raw, fh, indent=1)

    if args.trace:
        metrics = {k: {"value": float(raw["layer"].get(k, 0.0)), "unit": u}
                   for k, u in per_layer.items()}
    else:
        metrics = {k: {"value": float(raw["e2e"][k][0]), "unit": u}
                   for k, u in end_to_end.items()}
    line = {
        "correct": raw["failed"] == 0,
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": metrics,
    }
    print(f"detail: {result_path} ({wall:.1f} s)", file=sys.stderr)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
