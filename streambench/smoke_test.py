"""Smoke test: each workload at tiny size, untraced and traced. Checks
that the result line parses, has exactly the contract's keys, names
exactly the metrics BENCHMARK.json declares (each matching
``[A-Za-z0-9_.-]+``) and reports correct output.

Run from the checkout root, either directly or under pytest:
    python3 streambench/smoke_test.py
    python3 -m pytest -q streambench/smoke_test.py
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace), "--tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=170)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _check(workload: str, trace: int) -> None:
    bench = _bench()
    line = _run(workload, trace)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}, line.keys()
    assert line["correct"] is True and line["failed"] == 0, line
    assert isinstance(line["attempted"], int) and line["attempted"] >= 1
    declared = bench["per_layer" if trace else "end_to_end"]
    assert sorted(line["metrics"]) == sorted(m["name"] for m in declared)
    for m in declared:
        assert NAME.fullmatch(m["name"]), m["name"]
        got = line["metrics"][m["name"]]
        assert set(got) == {"value", "unit"} and got["unit"] == m["unit"], (m, got)
        assert isinstance(got["value"], float), got
        if not trace:
            assert got["value"] > 0, (m["name"], got)


def test_etl_untraced():
    _check("ref-etl-stream", 0)


def test_ingest_untraced():
    _check("ingest-curation-stream", 0)


def test_mix_untraced():
    _check("batch-query-mix", 0)


def test_etl_traced():
    _check("ref-etl-stream", 1)


def test_ingest_traced():
    _check("ingest-curation-stream", 1)


def test_mix_traced():
    _check("batch-query-mix", 1)


def test_refuses_outside_checkout():
    """In a directory holding only BENCHMARK.json and the benchmark's own
    files, the benchmark exits non-zero and prints no result line."""
    with tempfile.TemporaryDirectory(dir=ROOT) as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "streambench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = subprocess.run(
            [sys.executable, "streambench/run.py", "--workload", "ref-etl-stream",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=60,
        )
    assert proc.returncode != 0 and proc.stdout.strip() == ""


if __name__ == "__main__":
    for name, fn in sorted(globals().items()):
        if name.startswith("test_"):
            fn()
            print("ok", name, flush=True)
