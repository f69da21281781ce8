"""Smoke test of the benchmark itself: runs every workload of
BENCHMARK.json at the tiny size (500 simulants to resolve, 10k to
noise), untraced and traced, and fails unless each run is correct and
its result line carries exactly the metric names and units that
BENCHMARK.json declares. Also checks that the benchmark refuses to run,
without printing a result, in a directory holding only BENCHMARK.json
and perfbench/.

    python3 perfbench/smoke.py
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import sparkenv

RUN = [sys.executable, os.path.join("perfbench", "run.py")]


def result_line(cmd: "list[str]", cwd: str) -> dict:
    proc = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, text=True, timeout=600)
    if proc.returncode != 0:
        raise SystemExit(f"smoke: {' '.join(cmd)} exited {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check(result: dict, declared: "dict[str, str]", label: str) -> None:
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"smoke: {label}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        raise SystemExit(f"smoke: {label}: {result['attempted']} attempted, {result['failed']} failed")
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != declared:
        raise SystemExit(f"smoke: {label}: metrics {sorted(got)} != declared {sorted(declared)}")
    for k, v in result["metrics"].items():
        if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"]):
            raise SystemExit(f"smoke: {label}: {k} = {v['value']!r}")


def main() -> int:
    with open(os.path.join(sparkenv.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    for w in bench["workloads"]:
        for trace in (0, 1):
            label = f"{w['name']} trace={trace}"
            cmd = RUN + ["--workload", w["name"], "--seed", "1", "--seconds", "1",
                         "--trace", str(trace), "--size", "tiny"]
            check(result_line(cmd, sparkenv.ROOT), declared[trace], label)
            print(f"smoke: ok {label}", file=sys.stderr)

    bare = os.path.join(sparkenv.CACHE, "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(sparkenv.ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(sparkenv.ROOT, "BENCHMARK.json"), bare)
    name = bench["workloads"][0]["name"]
    proc = subprocess.run(RUN + ["--workload", name, "--seed", "1", "--seconds", "1", "--trace", "0"],
                          cwd=bare, stdout=subprocess.PIPE, text=True, timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or proc.stdout.strip():
        raise SystemExit("smoke: benchmark ran without the program next to it")
    print("smoke: ok refuses to run without the program", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
