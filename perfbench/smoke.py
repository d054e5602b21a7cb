#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at toy size.

    python3 perfbench/smoke.py            # or: python3 -m pytest perfbench/smoke.py

For every workload (``corpus_stream`` too, which BENCHMARK.json does not
declare) it runs the benchmark untraced and traced and checks
that the printed metric names and units are exactly those of
BENCHMARK.json and that every op passed its output check; then it runs
each workload with ``--corrupt`` (every op's output damaged before its
check) and requires the damage to be counted in ``failed``. Finally it
checks that the benchmark refuses to run without the engine next to it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 3


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, *extra: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--toy", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


def _result(workload: str, *extra: str) -> dict:
    rc, lines = _run(workload, *extra)
    assert rc == 0 and lines, f"{workload} {extra}: exit {rc}"
    return json.loads(lines[-1])


def _names_units(metrics: dict) -> dict:
    return {k: v["unit"] for k, v in metrics.items()}


def check_workload(workload: str) -> None:
    bench = _bench()
    res = _result(workload, "--trace", "0")
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert _names_units(res["metrics"]) == {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
    assert all(isinstance(v["value"], float) for v in res["metrics"].values())

    res = _result(workload, "--trace", "1")
    assert _names_units(res["metrics"]) == {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert res["correct"], res
    out = os.path.join(ROOT, f"perfbench-trace-{workload}-{SEED}.json")
    with open(out) as f:
        trace = json.load(f)
    os.remove(out)
    assert trace["spans"] and trace["per_layer"]["trace.traced_ops"] >= 1

    bad = _result(workload, "--trace", "0", "--corrupt")
    assert not bad["correct"] and bad["failed"] == bad["attempted"] >= 1, bad


def check_refuses_without_engine() -> None:
    bare = tempfile.mkdtemp()
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, lines = _run("corpus_full", "--trace", "0", cwd=bare)
        assert rc != 0 and not lines, (rc, lines)
    finally:
        shutil.rmtree(bare)


def test_estate_full():
    check_workload("estate_full")


def test_corpus_full():
    check_workload("corpus_full")


def test_corpus_stream():
    check_workload("corpus_stream")


def test_refuses_without_engine():
    check_refuses_without_engine()


if __name__ == "__main__":
    check_refuses_without_engine()
    for name in ("estate_full", "corpus_full", "corpus_stream"):
        check_workload(name)
        print(f"ok {name}")
    print("smoke ok")
