#!/usr/bin/env python3
"""Self-test of the benchmark on the smallest fixture set (sf0.001).

    python3 perfbench/selftest.py

Checks, for every workload in BENCHMARK.json:

- a plain run emits every end-to-end metric with its unit, and a traced
  run every per-layer metric, and both are correct;
- the traced run writes a span for every timed call of its prewarm and
  traced passes;
- a run with an injected wrong statement reports it in ``failed`` and
  exits non-zero;

and that a copy holding only BENCHMARK.json and the benchmark's files
exits non-zero without printing a result.  Exits 1 on the first failed
check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY_BASE = "sf0.001"
SEED = 7


def fail(msg: str) -> None:
    print(f"selftest: FAIL: {msg}", flush=True)
    sys.exit(1)


def run(cwd: str, workload: str, trace: int, *extra: str):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
           "--base", TINY_BASE, *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, result, p.stderr


def check_metrics(result, specs, what: str) -> None:
    got = result["metrics"]
    for spec in specs:
        m = got.get(spec["name"])
        if m is None or m.get("unit") != spec["unit"] or not isinstance(m.get("value"), float):
            fail(f"{what}: metric {spec['name']} missing or without unit {spec['unit']}")
    extra = set(got) - {s["name"] for s in specs}
    if extra:
        fail(f"{what}: unexpected metrics {sorted(extra)}")


def check_spans(workload: str) -> None:
    stem = f"{workload}-seed{SEED}-trace1.json"
    cache = os.path.join(ROOT, ".perfbench_cache")
    with open(os.path.join(cache, "results", stem)) as f:
        detail = json.load(f)
    with open(os.path.join(cache, "traces", stem)) as f:
        spans = json.load(f)
    stmt = [s for s in spans if s.get("kind") == "statement" and s["end"] is not None]
    traced = [p for p in detail["passes"] if p["traced"]]
    n_statements = len(detail["passes"][0]["lat"])
    # the prewarm passes are traced too
    want = n_statements * (detail["prewarm_passes"] + len(traced))
    if len(stmt) != want:
        fail(f"{workload}: {len(stmt)} statement spans, expected {want}")
    for s in spans:
        if s["end"] is None or s["end"] < s["start"]:
            fail(f"{workload}: unfinished span {s['name']}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        name = w["name"]
        rc, res, err = run(ROOT, name, 0)
        if rc != 0 or res is None or not res["correct"] or res["failed"]:
            fail(f"{name} plain run: exit {rc}, result {res}\n{err[-2000:]}")
        check_metrics(res, bench["end_to_end"], f"{name} plain")
        rc, res, err = run(ROOT, name, 1)
        if rc != 0 or res is None or not res["correct"]:
            fail(f"{name} traced run: exit {rc}, result {res}\n{err[-2000:]}")
        check_metrics(res, bench["per_layer"], f"{name} traced")
        check_spans(name)
        rc, res, err = run(ROOT, name, 0, "--inject-failure")
        if rc == 0 or res is None or res["failed"] < 1 or res["correct"]:
            fail(f"{name} injected failure not reported: exit {rc}, result {res}")
        print(f"selftest: {name} ok", flush=True)
    # a directory with only the benchmark's own files
    bare = os.path.join(ROOT, ".perfbench_cache", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in bench["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    rc, res, _ = run(bare, bench["workloads"][0]["name"], 0)
    shutil.rmtree(bare, ignore_errors=True)
    if rc == 0 or res is not None:
        fail(f"bare copy: exit {rc}, result {res}")
    print("selftest: bare copy exits non-zero without a result", flush=True)
    print("selftest: all checks passed", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
