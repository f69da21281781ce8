"""Scoring-stage profiler — isolates the ER pipeline's dominant stage
(the fused mapInArrow scorer) so its parallel efficiency can be
measured and its per-phase costs attributed WITHOUT re-running the
whole resolve() per iteration.

Three modes:

  --prepare <n>       materialize the scoring stage's exact inputs once:
                      int-id records + deduped candidate pairs parquet
                      (same plans resolve() runs, at local[16])
  --inproc <n>        run the fused kernel driver-side over pyarrow
                      batches (no Spark) with per-phase timers and an
                      optional cProfile dump — hypothesis testing in
                      seconds instead of Spark legs in minutes
  --leg <cores> <n>   one pinned Spark leg timing ONLY the scoring
                      stage (the fused scorer, deciding in the worker,
                      as resolve() runs it), noop sink

  default: orchestrate legs at 2 and 8 cores (alternating, 2 reps)
  and print per-level walls + the N->4N scoring efficiency.

Usage:
  python tools/profile_scoring.py --prepare 50000
  python tools/profile_scoring.py --inproc 50000 [max_batches] [--profile]
  python tools/profile_scoring.py --leg 8 50000
  python tools/profile_scoring.py 50000 [reps]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
INPUT_DIR = os.environ.get("SCALING_INPUT_DIR", "/tmp/pp_scaling_input")


def _records_path(n: int) -> str:
    return os.path.join(INPUT_DIR, f"records_int_{n}")


def _pairs_path(n: int) -> str:
    return os.path.join(INPUT_DIR, f"pairs_{n}")


def prepare(n: int) -> None:
    from pseudopeople_spark.linkage import blocking, pairs as pairgen
    from pseudopeople_spark.linkage.pipeline import _assign_int_ids
    from pseudopeople_spark.session import get_spark

    raw = os.path.join(INPUT_DIR, f"records_{n}")
    if not os.path.exists(raw):
        from tools.bench_scaling import prepare as prep_raw

        prep_raw(n)
    spark = get_spark("profile_prepare", master="local[16]", shuffle_partitions=64)
    records = spark.read.parquet(raw)
    _mapping, records, n_records = _assign_int_ids(records)
    records.write.mode("overwrite").parquet(_records_path(n))
    records = spark.read.parquet(_records_path(n))
    blocks = blocking.all_block_keys(records)
    p = pairgen.pairs_from_blocks(blocks, dedup=False)
    snb = blocking.sorted_neighborhood_pairs(
        records, ["last_name", "first_name", "dob"]
    ).select("id_l", "id_r")
    p = p.unionByName(snb).repartition(64, "id_l").dropDuplicates(["id_l", "id_r"])
    p.write.mode("overwrite").parquet(_pairs_path(n))
    n_pairs = spark.read.parquet(_pairs_path(n)).count()
    print(json.dumps({"n": n, "records": n_records, "pairs": n_pairs}))
    spark.stop()


def inproc(n: int, max_batches: int, profile: bool) -> None:
    """Driver-side single-threaded run of the fused kernel: exactly the
    generator score_pairs_fused ships to workers, fed 20k-row batches
    from the materialized pair parquet. Prints pairs/sec and, with
    --profile, the cProfile top."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    from pseudopeople_spark.linkage.pipeline import CANONICAL_FIELDS
    from pseudopeople_spark.linkage import scoring

    attach = CANONICAL_FIELDS + ["base_rid"]
    rec_tbl = ds.dataset(_records_path(n)).to_table(columns=["record_id"] + attach)
    pair_tbl = ds.dataset(_pairs_path(n)).to_table(columns=["id_l", "id_r"])

    class _FakeBroadcast:
        value = rec_tbl

    specs = [(s.name, s.kind, s.weight) for s in scoring.DEFAULT_FIELDS]
    families = scoring._nickname_families()
    gen = scoring.make_fused_batches(
        _FakeBroadcast(), "record_id", attach, specs, families, 0, 1,
        decide={"threshold": 0.92, "same_dataset_distinct": True},
    )
    batches = pair_tbl.combine_chunks().to_batches(max_chunksize=20_000)
    if max_batches:
        batches = batches[:max_batches]
    n_pairs = sum(b.num_rows for b in batches)

    def _run() -> None:
        for out in gen(iter(batches)):
            pass

    if profile:
        import cProfile
        import pstats

        pr = cProfile.Profile()
        t0 = time.time()
        pr.runcall(_run)
        wall = time.time() - t0
        stats = pstats.Stats(pr, stream=sys.stderr)
        stats.sort_stats("cumulative").print_stats(35)
    else:
        t0 = time.time()
        _run()
        wall = time.time() - t0
    print(json.dumps({
        "n": n, "pairs": n_pairs, "wall_sec": round(wall, 2),
        "pairs_per_sec": round(n_pairs / wall, 1),
        "phase_sec": {k: round(v, 2) for k, v in scoring.PHASE_SECONDS.items()},
    }))


def leg(cores: int, n: int) -> None:
    from pseudopeople_spark.linkage import scoring
    from pseudopeople_spark.linkage.pipeline import CANONICAL_FIELDS, ResolveConfig
    from pseudopeople_spark.session import get_spark

    cfg = ResolveConfig()
    spark = get_spark(
        f"profile_scoring_{cores}", master=f"local[{cores}]",
        shuffle_partitions=4 * cores,
        extra_conf={
            "spark.python.worker.faulthandler.enabled": "true",
            "spark.network.timeout": "600s",
            "spark.sql.execution.arrow.maxRecordsPerBatch":
                os.environ.get("PP_ARROW_BATCH", "20000"),
        },
    )
    records = spark.read.parquet(_records_path(n)).localCheckpoint()
    # repartition pairs like resolve()'s dedup exchange leaves them
    pairs = spark.read.parquet(_pairs_path(n))
    n_pairs = pairs.count()
    per_part = int(os.environ.get("PP_PROFILE_PAIRS_PER_PART", "250000"))
    n_parts = max(cores, -(-n_pairs // per_part))
    pairs = pairs.repartition(n_parts, "id_l").localCheckpoint()
    attach = [c for c in CANONICAL_FIELDS if c != "state"] + ["base_rid"]
    t0 = time.time()
    out = scoring.score_pairs_fused(
        spark, pairs, records, attach,
        decide={"threshold": cfg.threshold, "same_dataset_distinct": True},
    )
    t_setup = time.time() - t0  # scratch lookup write (eager part)
    out.write.mode("overwrite").format("noop").save()
    wall = round(time.time() - t0, 2)
    print(json.dumps({
        "cores": cores, "n": n, "pairs": n_pairs, "scoring_sec": wall,
        "setup_sec": round(t_setup, 2), "n_parts": n_parts,
        "pairs_per_sec": round(n_pairs / wall, 1),
    }))
    spark.stop()


def main() -> None:
    argv = sys.argv[1:]
    if argv and argv[0] == "--prepare":
        prepare(int(argv[1]))
        return
    if argv and argv[0] == "--inproc":
        n = int(argv[1])
        rest = [a for a in argv[2:] if a != "--profile"]
        inproc(n, int(rest[0]) if rest else 0, "--profile" in argv)
        return
    if argv and argv[0] == "--leg":
        leg(int(argv[1]), int(argv[2]))
        return
    n = int(argv[0]) if argv else 50_000
    reps = int(argv[1]) if len(argv) > 1 else 2
    walls: "dict[int, list[float]]" = {2: [], 8: []}
    for _ in range(reps):
        for cores in (2, 8):
            out = subprocess.run(
                ["taskset", "-c", f"0-{cores - 1}", sys.executable, __file__,
                 "--leg", str(cores), str(n)],
                capture_output=True, text=True, cwd=REPO,
            )
            lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
            if not lines:
                sys.stderr.write(out.stdout[-1500:] + "\n" + out.stderr[-3000:])
                raise RuntimeError(f"leg cores={cores} failed")
            run = json.loads(lines[-1])
            sys.stderr.write(f"[leg] {run}\n")
            walls[run["cores"]].append(run["scoring_sec"])
    w2, w8 = min(walls[2]), min(walls[8])
    print(json.dumps({
        "n": n, "wall_2": w2, "wall_8": w8,
        "scoring_efficiency_2_to_8": round(w2 / (4 * w8), 3),
        "all": walls,
    }))


if __name__ == "__main__":
    main()
