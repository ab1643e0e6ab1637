#!/usr/bin/env python3
"""Smoke self-test of the benchmark harness at a tiny size.

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json with ``--size tiny``, once with
tracing off and once with tracing on, and checks each result line
against the contract: the last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``, the metrics are
exactly the end-to-end (trace 0) or per-layer (trace 1) names with their
units, and the outputs were correct. It also checks that the benchmark
refuses to run, without printing a result, from a directory holding only
BENCHMARK.json and perfbench/. Takes about four minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(args: list[str], cwd: str) -> tuple[int, str]:
    p = subprocess.run(["python3", "perfbench/run.py", *args], cwd=cwd,
                       capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, HERE)
    import layers

    problems = []
    if [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] != [
            (m["name"], m["unit"], m["better"]) for m in layers.catalog()]:
        problems.append("BENCHMARK.json per_layer differs from layers.catalog()")
    for w in spec["workloads"]:
        for trace, wanted in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            code, out = run(["--workload", w["name"], "--seed", "7", "--seconds", "1",
                             "--trace", str(trace), "--size", "tiny"], ROOT)
            tag = f"{w['name']} trace {trace}"
            found = len(problems)
            if code != 0 or not out.strip():
                problems.append(f"{tag}: exit {code}")
                continue
            res = json.loads(out.strip().splitlines()[-1])
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{tag}: keys {sorted(res)}")
            if not (res["correct"] and res["failed"] == 0 and res["attempted"] >= 1):
                problems.append(f"{tag}: correct={res['correct']} failed={res['failed']}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != {m["name"]: m["unit"] for m in wanted}:
                problems.append(f"{tag}: metric names or units differ from BENCHMARK.json")
            print("ok" if len(problems) == found else "FAIL", tag, flush=True)

    bare = os.path.join(ROOT, ".bench_run", "selftest_bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, out = run(["--workload", spec["workloads"][0]["name"], "--seed", "1",
                     "--seconds", "1", "--trace", "0"], bare)
    shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or out.strip():
        problems.append(f"bare directory: exit {code}, stdout {out.strip()[:80]!r}")
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
