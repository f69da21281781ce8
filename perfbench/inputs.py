"""Benchmark inputs, made by the program's own ``synth`` and ``noise``
code and cached under ``.bench_cache/inputs``.

Generation is the slow part (about a minute on 4 cores), so it is done
once per checkout, independent of the seed, and a run picks its inputs
from it by seed in well under a second:

* ``census`` — un-noised decennial-census records (``noise_census``),
  one population for every seed; the seed is the noise seed of the
  measured plan.
* ``linkage`` — census, W-2 and SSA extracts noised from a pool of
  POOL_FACTOR times the workload's simulants, stored as normalised
  records (the in-memory resolve) and as span documents (the
  checkpointed job), with ``simulant_id`` held back in a separate truth
  table. A run takes the records of a seed-chosen set of whole
  households holding the workload's number of simulants
  (``linkage_for_seed``).

An entry is keyed by (input kind, size, hash of every file under
``pseudopeople_spark/`` and of this generator): a change to the program
gets fresh inputs, and an entry whose key file is missing or differs is
never read. Generation runs in a child process, so the measuring process
starts the same JVM whether the cache was warm or not:

    python3 perfbench/inputs.py --size full --kinds census,linkage
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import subprocess
import sys
import time

import sparkenv

KINDS = ("census", "linkage")
SIZES = {
    "full": {"census": 200_000, "linkage": 5_000},
    "tiny": {"census": 10_000, "linkage": 500},
}
# Both kinds are generated from one fixed seed; the run's seed picks the
# noise (census) or the households (linkage).
POOL_SEED = 0
POOL_FACTOR = 2
# (extract name, dataset spec in pseudopeople_spark.datasets)
LINKAGE_DATASETS = (
    ("census", "DECENNIAL_CENSUS"),
    ("w2", "TAXES_W2_AND_1099"),
    ("ssa", "SOCIAL_SECURITY"),
)
_KEY_FILE = "_KEY.json"
_HASH: "list[str]" = []


def code_hash() -> str:
    """Hash of the program's sources and of this generator."""
    if not _HASH:
        h = hashlib.sha256()
        with open(os.path.abspath(__file__), "rb") as f:
            h.update(f.read())
        src = os.path.join(sparkenv.ROOT, "pseudopeople_spark")
        for dirpath, dirnames, filenames in os.walk(src):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            for name in sorted(filenames):
                if name.endswith(".pyc"):
                    continue
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, src).encode() + b"\0")
                with open(path, "rb") as f:
                    h.update(f.read())
                h.update(b"\0")
        _HASH.append(h.hexdigest())
    return _HASH[0]


def _key(kind: str, size: str) -> dict:
    n = SIZES[size][kind] * (POOL_FACTOR if kind == "linkage" else 1)
    return {"kind": kind, "seed": POOL_SEED, "n": n, "code_hash": code_hash()}


def _entry(key: dict) -> str:
    return os.path.join(
        sparkenv.CACHE, "inputs", f"{key['kind']}-s{key['seed']}-n{key['n']}-{key['code_hash'][:16]}"
    )


def normalize_all(census, w2, ssa):
    """Canonical records from the three extracts, as jobs/resolve_job.py
    builds them."""
    from pseudopeople_spark.linkage.pipeline import normalize_records

    nc = normalize_records(census, "census", "MM/dd/yyyy", ref_year=2020)
    nw = normalize_records(
        w2, "w2", "MM/dd/yyyy",
        column_map={"zipcode": "mailing_address_zipcode", "city": "mailing_address_city",
                    "state": "mailing_address_state"},
        ref_year=2020,
    )
    ns = normalize_records(ssa, "ssa", "yyyyMMdd", dob_fallback="event_date", period_col="event_type")
    return nc.unionByName(nw).unionByName(ns)


def lookup(kind: str, size: str) -> "tuple[str, dict] | None":
    """(entry dir, metadata) of a complete entry whose key matches."""
    key = _key(kind, size)
    path = _entry(key)
    try:
        with open(os.path.join(path, _KEY_FILE)) as f:
            stored = json.load(f)
    except (OSError, ValueError):
        return None
    if stored.get("key") != key:
        return None
    return path, stored["meta"]


def ensure(size: str) -> float:
    """Make every input kind present; returns the seconds spent
    generating (0 when the cache was warm)."""
    missing = [k for k in KINDS if lookup(k, size) is None]
    if not missing:
        return 0.0
    t0 = time.time()
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--size", size, "--kinds", ",".join(missing)],
        cwd=sparkenv.ROOT, stdout=sys.stderr, check=True, timeout=600,
    )
    still = [k for k in missing if lookup(k, size) is None]
    if still:
        raise RuntimeError(f"input generation left {still} missing")
    return time.time() - t0


def linkage_for_seed(seed: int, size: str, dest: str) -> dict:
    """Writes to ``dest`` the linkage inputs of ``seed``: the pool's
    records, span documents and truth rows of the simulants of randomly
    chosen whole households, as many simulants as the workload resolves.
    Each part file of the pool keeps its own filtered part file, so
    Spark reads the subset in as many partitions as the pool. Returns
    the entry's metadata."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from pseudopeople_spark.synth import HH_SIZE

    entry, _ = lookup("linkage", size)
    truth = pq.read_table(f"{entry}/truth")
    households = truth["simulant_id"].to_numpy().astype(np.int64) // HH_SIZE
    chosen = np.random.default_rng(seed % 2**63).choice(
        np.unique(households), size=SIZES[size]["linkage"] // HH_SIZE, replace=False)
    keep = truth["record_id"].filter(pa.array(np.isin(households, chosen)))
    rows: "dict[str, int]" = {}
    for sub, id_col in (("records", "record_id"), ("truth", "record_id"),
                        *((f"spans/{spec}", "doc_id") for spec in sorted(os.listdir(f"{entry}/spans")))):
        os.makedirs(f"{dest}/{sub}", exist_ok=True)
        for name in sorted(os.listdir(f"{entry}/{sub}")):
            if name.endswith(".parquet"):
                part = pq.read_table(f"{entry}/{sub}/{name}")
                part = part.filter(pc.is_in(part[id_col], keep))
                pq.write_table(part, f"{dest}/{sub}/{name}")
                rows[sub] = rows.get(sub, 0) + part.num_rows
    return {"records": rows["records"], "households": len(chosen)}


def _generate(spark, kind: str, size: str) -> None:
    from pseudopeople_spark import config, datasets as D, noise, synth
    from pseudopeople_spark.spans import encode_records

    key = _key(kind, size)
    seed = key["seed"]
    dest = _entry(key)
    # entries made by another version of the program can never be read
    for old in glob.glob(os.path.join(os.path.dirname(dest), "*")):
        if old == dest or not old.endswith(key["code_hash"][:16]):
            sparkenv.remove(old)
    tmp = f"{dest}.part-{os.getpid()}"
    pop = synth.simulants(spark, key["n"], seed=key["seed"])
    meta: dict = {}
    if kind == "census":
        synth.census_records(pop, 2020).write.parquet(f"{tmp}/census")
        meta["rows"] = spark.read.parquet(f"{tmp}/census").count()
    else:
        cfg = config.get_config()
        extracts = {
            "census": synth.census_records(pop, 2020),
            "w2": synth.w2_records(pop, 2020),
            "ssa": synth.ssa_records(pop),
        }
        noised, truth = {}, None
        for i, (name, spec_attr) in enumerate(LINKAGE_DATASETS):
            spec = getattr(D, spec_attr)
            df = noise.noise_dataset(extracts[name], spec, cfg, seed=seed * 10 + i + 1).localCheckpoint()
            fields = [c for c in spec.column_names if c != "simulant_id"]
            encode_records(df, "record_id", fields).write.parquet(f"{tmp}/spans/{spec.name}")
            noised[name] = df.drop("simulant_id")
            part = df.select("record_id", "simulant_id")
            truth = part if truth is None else truth.unionByName(part)
        normalize_all(noised["census"], noised["w2"], noised["ssa"]).write.parquet(f"{tmp}/records")
        truth.coalesce(1).write.parquet(f"{tmp}/truth")
        meta["records"] = spark.read.parquet(f"{tmp}/records").count()
    with open(os.path.join(tmp, _KEY_FILE), "w") as f:
        json.dump({"key": key, "meta": meta}, f)
    os.replace(tmp, dest)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--kinds", default=",".join(KINDS))
    args = ap.parse_args()
    if not sparkenv.program_present():
        print("perfbench: pseudopeople_spark/ not found next to perfbench/", file=sys.stderr)
        return 2
    tmp = os.path.join(sparkenv.CACHE, "tmp", f"gen-{os.getpid()}")
    sparkenv.prepare(tmp)
    # Generation is off every clock: skip the session warm-up, and
    # evaluate expressions interpreted, since compiling the noise plans
    # costs more than running them on these sizes.
    os.environ["SPARK_GRAFT_NO_WARMUP"] = "1"
    spark = sparkenv.start("perfbench-inputs", tmp, {
        "spark.sql.codegen.wholeStage": "false",
        "spark.sql.codegen.factoryMode": "NO_CODEGEN",
    })
    try:
        for kind in args.kinds.split(","):
            _generate(spark, kind, args.size)
    finally:
        sparkenv.stop(spark)
        sparkenv.remove(tmp)
    return 0


if __name__ == "__main__":
    sys.exit(main())
