"""Benchmark of pseudopeople_spark: noising, in-memory entity
resolution, and the checkpointed resolve job.

    python3 perfbench/run.py --workload resolve_5k --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process drives the program at
``local[<cores>]`` as a closed loop with one caller: set-up (session
start plus loading the cached inputs), one first call, then the warm
call repeated until ``--seconds`` of warm calls have been measured.
Every call's output is checked after its clock stops; a call that
raises or fails its check counts as failed.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it is a report
with the load evidence, sample counts and the workload's own metric
names; the same report is written to ``.bench_cache/reports/``.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback


def _process_start() -> float:
    """Epoch seconds at which this process started."""
    with open("/proc/self/stat") as f:
        s = f.read()
    start_ticks = int(s[s.rindex(")") + 2:].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


PROCESS_START = _process_start()

import inputs  # noqa: E402
import sparkenv  # noqa: E402
from probes import Sampler, SparkGroupTrace  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# A run stops starting calls once this many seconds have passed since
# the process started, less input generation, so it ends well inside
# three minutes.
CALL_DEADLINE_S = 130.0


def per_layer_units() -> "dict[str, str]":
    """Name -> unit of every per-layer metric BENCHMARK.json declares."""
    with open(os.path.join(sparkenv.ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def measure(wl, seconds: float, sampler: Sampler, trace, deadline: float) -> dict:
    """The closed loop: the first call, then warm calls until
    ``seconds`` of warm-call time are measured, then (traced runs only)
    the workload's extra calls. Returns attempted/failed counts and the
    load evidence of the first call and of the warm window."""
    counts = {"attempted": 0, "failed": 0}

    def call(kind: str, fn, check) -> bool:
        """Runs one timed call; returns False if it raised."""
        group = trace.begin(wl.layer) if trace else None
        counts["attempted"] += 1
        t0 = time.time()
        try:
            out = fn()
        except Exception:
            traceback.print_exc()
            out = None
        t1 = time.time()
        if trace:
            trace.end()
        ok = out is not None
        if ok:
            try:
                ok = check(out)
            except Exception:
                traceback.print_exc()
                ok = False
            if not ok:
                print(f"perfbench: output check failed on {wl.name} {kind} call", file=sys.stderr)
        counts["failed"] += not ok
        prev = wl.calls[-1] if wl.calls else None
        if prev and prev["kind"] == kind and prev["out"] is not None:
            # only the latest call of each kind keeps its DataFrames alive
            prev["out"] = wl.slim(prev["out"])
        wl.calls.append({"kind": kind, "wall": t1 - t0, "t0": t0, "t1": t1, "group": group,
                         "out": out, "ok": ok})
        return out is not None

    region = sampler.start_region()
    ok = call("first", wl.first, lambda out: wl.check(out, "first"))
    load = {"first_call": sampler.end_region(region)}
    region = sampler.start_region()
    warm_s = 0.0
    while ok and (warm_s < seconds or not wl.calls_of("warm")):
        if time.time() > deadline:
            break
        ok = call("warm", wl.warm, lambda out: wl.check(out, "warm"))
        warm_s += wl.calls[-1]["wall"]
    load["warm_calls"] = sampler.end_region(region)
    if trace and ok:
        for kind, fn, check in wl.traced_calls():
            if time.time() > deadline:
                break
            if not call(kind, fn, check) or not wl.calls[-1]["ok"]:
                break
    return {**counts, "load": load}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=sorted(inputs.SIZES), default="full",
                    help="input size; 'tiny' is for the smoke test")
    args = ap.parse_args()
    if not sparkenv.program_present():
        print("perfbench: pseudopeople_spark/ not found next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2

    tmp = os.path.join(sparkenv.CACHE, "tmp", f"run-{os.getpid()}")
    sparkenv.prepare(tmp)
    t0 = time.time()
    try:
        inputs.ensure(args.size)
        entry, meta = WORKLOADS[args.workload].make_inputs(args.seed, args.size, tmp)
    except BaseException:
        sparkenv.remove(tmp)
        raise
    gen_s = time.time() - t0
    sampler = Sampler()
    t0 = time.time()
    spark = sparkenv.start(f"perfbench-{args.workload}", tmp)
    try:
        session_s = time.time() - t0
        cores = sparkenv.cores()
        wl = WORKLOADS[args.workload](spark, args.seed, entry, meta, tmp, cores)
        wl.setup()
        setup_s = time.time() - PROCESS_START - gen_s
        trace = SparkGroupTrace(spark) if args.trace else None
        loop = measure(wl, args.seconds, sampler, trace, PROCESS_START + gen_s + CALL_DEADLINE_S)
        sampler.freeze_rss()
        warm = [c["wall"] for c in wl.calls_of("warm")]
        first = [c["wall"] for c in wl.calls_of("first")]
        if not first or not warm:
            print("perfbench: no successful calls to report", file=sys.stderr)
            return 1
        call_s = statistics.median(warm)
        peak_rss_mb = sampler.peak_rss / 2**20
        report = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "size": args.size, "cores": cores,
            "driver_memory": sparkenv.DRIVER_MEMORY, "input_generation_s": gen_s,
            "session_start_s": session_s, "setup_s": setup_s,
            "first_call_s": first[0], "warm_call_s": warm, "load": loop["load"],
            "peak_rss_mb": peak_rss_mb,
            "metrics": wl.own_metrics(first[0], call_s),
        }
        if args.trace:
            units = per_layer_units()
            layers = dict.fromkeys(units, 0)
            layers.update(wl.layers(trace))
            layers.update({
                "session.start_s": session_s,
                "trace.call_s": call_s,
                "host.load_1m": loop["load"]["warm_calls"]["load_1m"],
                "host.own_cores": loop["load"]["warm_calls"]["own_cores"],
            })
            metrics = {k: {"value": float(v), "unit": units[k]} for k, v in layers.items()}
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "first_call_s": {"value": first[0], "unit": "s"},
                "call_s": {"value": call_s, "unit": "s"},
                "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
            }
        report["per_layer" if args.trace else "end_to_end"] = metrics
    finally:
        sampler.stop()
        sparkenv.stop(spark)
        sparkenv.remove(tmp)
    reports = os.path.join(sparkenv.CACHE, "reports")
    os.makedirs(reports, exist_ok=True)
    with open(os.path.join(reports, f"{args.workload}-trace{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1)
    result = {"correct": loop["failed"] == 0, "attempted": loop["attempted"],
              "failed": loop["failed"], "metrics": metrics}
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
