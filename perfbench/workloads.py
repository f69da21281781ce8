"""The benchmark workloads. Each drives the program's public entry points
on cached inputs:

* ``noise_census`` — ``noise.noise_dataset`` (the full census plan) over
  pre-materialised census records, evaluated through an all-column
  ``xxhash64`` checksum.
* ``resolve_5k`` — in-memory ``linkage.pipeline.resolve`` on normalised
  census + W-2 + SSA records. With tracing on it also runs the
  ``jobs/resolve_job.py`` shape once: span documents ->
  ``spans.decode_records`` -> ``resolve(checkpoint_dir=...)`` ->
  assignments written as parquet, then the same job against the complete
  checkpoint directory (a resume).

A workload has a first call (the cold call a fresh process pays), a warm
call repeated for the measured window, and, for traced runs, extra
calls. ``check`` validates each call's output after its clock stops.
With tracing on, ``layers`` returns the per-layer metrics of the calls.
"""

from __future__ import annotations

import os
import statistics
import time

from pyspark.sql import functions as F

import inputs
from inputs import normalize_all

RESOLVE_STAGES = ("normalize", "blocking", "pairs", "scoring", "clustering")
MIN_F1 = 0.99


def checksum(df, cols=None) -> "tuple[str, int]":
    """Order-independent content hash and row count of ``df``."""
    row = df.agg(
        F.sum(F.xxhash64(*(cols or df.columns)).cast("decimal(38,0)")).alias("h"),
        F.count("*").alias("n"),
    ).first()
    return str(row["h"]), int(row["n"])


def truth_in_rid_space(res, truth):
    return truth.join(res["id_mapping"], "record_id").select(
        F.col("rid").alias("record_id"), "simulant_id"
    )


def pairwise_f1(res, truth) -> float:
    """Pairwise F1 of the call's clusters on its candidate pairs."""
    from pseudopeople_spark.linkage.metrics import pairwise_f1_on_candidates

    asg_rid = res["assignments"].join(res["id_mapping"], "record_id").select(
        F.col("rid").alias("record_id"), "cluster_id"
    )
    return pairwise_f1_on_candidates(res["pairs"], asg_rid, truth_in_rid_space(res, truth))["f1"]


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Workload:
    name = ""
    layer = ""

    def __init__(self, spark, seed: int, entry: str, meta: dict, tmp: str, cores: int):
        self.spark = spark
        self.seed = seed
        self.entry = entry
        self.meta = meta
        self.tmp = tmp
        self.cores = cores
        # one entry per call: kind, wall, t0, t1, job group, output (None
        # if the call raised), whether its output check passed
        self.calls: "list[dict]" = []

    @staticmethod
    def make_inputs(seed: int, size: str, tmp: str) -> "tuple[str, dict]":
        """(input dir, metadata) of the run's inputs, made before the
        session starts and off every clock."""
        raise NotImplementedError

    def calls_of(self, kind: str) -> "list[dict]":
        """Calls of ``kind`` that returned (their check may have failed)."""
        return [c for c in self.calls if c["kind"] == kind and c["out"] is not None]

    def slim(self, out):
        """What ``layers`` still needs of an earlier call's output."""
        return out

    def traced_calls(self) -> list:
        """(kind, call, check) run after the warm window in traced runs."""
        return []

    def spark_totals(self, trace, call: dict) -> dict:
        return trace.totals(call["group"], call["t0"], call["t1"], self.cores)


class NoiseCensus(Workload):
    name = "noise_census"
    layer = "noise"

    @staticmethod
    def make_inputs(seed: int, size: str, tmp: str) -> "tuple[str, dict]":
        return inputs.lookup("census", size)

    def setup(self) -> None:
        from pseudopeople_spark import config

        self.census = self.spark.read.parquet(f"{self.entry}/census").localCheckpoint()
        self.rows_in = self.meta["rows"]
        self.cfg = config.get_config()
        self.noised = None
        self.plan_s = 0.0
        self.reference = None

    def first(self):
        from pseudopeople_spark import datasets as D, noise

        t0 = time.perf_counter()
        self.noised = noise.noise_dataset(self.census, D.DECENNIAL_CENSUS, self.cfg, seed=self.seed)
        self.plan_s = time.perf_counter() - t0
        return checksum(self.noised)

    def warm(self):
        return checksum(self.noised)

    def check(self, out, kind: str) -> bool:
        if kind == "first":
            self.reference = out
            # the plan must change the data and keep roughly every row
            clean = checksum(self.census, self.noised.columns)
            return out[0] != clean[0] and 0.8 * self.rows_in < out[1] < 1.2 * self.rows_in
        return out == self.reference

    def own_metrics(self, first_s: float, call_s: float) -> dict:
        n = len(self.calls_of("warm"))
        return {
            "noise_first_s": {"value": first_s, "unit": "s", "samples": 1},
            "noise_rows_per_s": {"value": self.rows_in / call_s, "unit": "rows/s", "samples": n},
        }

    def layers(self, trace) -> dict:
        first = self.calls_of("first")[0]
        warm = self.calls_of("warm")
        per = [self.spark_totals(trace, c) for c in warm]
        out = {f"noise.{k}": median([p[k] for p in per])
               for k in ("jobs", "tasks", "exec_cpu_s", "gc_s", "shuffle_write_bytes",
                         "cpu_util", "driver_only_s")}
        out.update({
            "noise.plan_s": self.plan_s,
            "noise.first_eval_s": first["wall"] - self.plan_s,
            "noise.eval_s": median([c["wall"] for c in warm]),
            "noise.rows_in": self.rows_in,
            "noise.rows_out": self.reference[1],
            "noise.failed_tasks": sum(self.spark_totals(trace, c)["failed_tasks"] for c in self.calls),
        })
        return out


class Resolve5k(Workload):
    name = "resolve_5k"
    layer = "resolve"

    @staticmethod
    def make_inputs(seed: int, size: str, tmp: str) -> "tuple[str, dict]":
        dest = os.path.join(tmp, "inputs")
        return dest, inputs.linkage_for_seed(seed, size, dest)

    def setup(self) -> None:
        from pseudopeople_spark import datasets as D

        self.n_records = self.meta["records"]
        self.records = self.spark.read.parquet(f"{self.entry}/records").localCheckpoint()
        self.truth = self.spark.read.parquet(f"{self.entry}/truth").localCheckpoint()
        self.specs = [getattr(D, attr) for _, attr in inputs.LINKAGE_DATASETS]
        self.job_dir = os.path.join(self.tmp, "job")
        self.reference = None
        self.fresh = None
        self.f1s: "list[float]" = []

    # -- in-memory resolve: the first and warm calls ---------------------

    def _resolve(self):
        from pseudopeople_spark.linkage.pipeline import ResolveConfig, resolve

        res = resolve(self.spark, self.records, ResolveConfig())
        res["n_pairs"] = res["pairs"].count()
        res["n_assignments"] = res["assignments"].count()
        return res

    first = warm = _resolve

    def check(self, res, kind: str) -> bool:
        """Every call yields the first call's candidate set and clusters
        bit for bit, one cluster row per record, and the first call's
        F1 is at least MIN_F1 (so every call's is)."""
        got = (checksum(res["pairs"], ["id_l", "id_r"]),
               checksum(res["assignments"], ["record_id", "cluster_id"]))
        if kind == "first":
            self.reference = got
            self.f1s.append(pairwise_f1(res, self.truth))
        return (got == self.reference and got[0][1] == res["n_pairs"]
                and got[1][1] == res["n_assignments"] == self.n_records
                and self.f1s[0] >= MIN_F1)

    def slim(self, res):
        return {"stage_seconds": res["stage_seconds"]}

    # -- the checkpointed job and its resume (traced runs) ---------------

    def _decoded(self) -> list:
        from pseudopeople_spark.spans import decode_records

        return [
            decode_records(
                self.spark.read.parquet(f"{self.entry}/spans/{spec.name}"),
                [c for c in spec.column_names if c != "simulant_id"],
            ).withColumnRenamed("doc_id", "record_id")
            for spec in self.specs
        ]

    def _job(self, assignments: str):
        from pseudopeople_spark.linkage.pipeline import ResolveConfig, resolve

        records = normalize_all(*self._decoded())
        res = resolve(self.spark, records, ResolveConfig(checkpoint_dir=f"{self.job_dir}/stages"))
        res["assignments"].write.mode("overwrite").parquet(f"{self.job_dir}/{assignments}")
        res["written"] = f"{self.job_dir}/{assignments}"
        return res

    def _check_job(self, res) -> bool:
        self.fresh = self.spark.read.parquet(res["written"]).localCheckpoint()
        return self.fresh.count() == self.n_records and pairwise_f1(res, self.truth) >= MIN_F1

    def _check_resume(self, res) -> bool:
        written = self.spark.read.parquet(res["written"])
        return (written.count() == self.n_records
                and written.exceptAll(self.fresh).isEmpty()
                and self.fresh.exceptAll(written).isEmpty())

    def traced_calls(self) -> list:
        return [
            ("job", lambda: self._job("assignments"), self._check_job),
            ("resume", lambda: self._job("assignments_resume"), self._check_resume),
        ]

    # -- results ----------------------------------------------------------

    def own_metrics(self, first_s: float, call_s: float) -> dict:
        m = {
            "resolve_first_s": {"value": first_s, "unit": "s", "samples": 1},
            "resolve_s": {"value": call_s, "unit": "s", "samples": len(self.calls_of("warm"))},
            "f1": {"value": median(self.f1s), "unit": "ratio", "samples": len(self.f1s)},
        }
        for kind in ("job", "resume"):
            for c in self.calls_of(kind):
                m[f"{kind}_s"] = {"value": c["wall"], "unit": "s", "samples": 1}
        return m

    def layers(self, trace) -> dict:
        from pseudopeople_spark.checkpoint import StageCheckpointer
        from pseudopeople_spark.linkage.blocking import block_size_stats
        from pseudopeople_spark.linkage.metrics import blocking_recall

        warm = self.calls_of("warm")
        per = [self.spark_totals(trace, c) for c in warm]
        out = {f"resolve.{k}": median([p[k] for p in per])
               for k in ("jobs", "stages", "skipped_stages", "tasks", "exec_cpu_s", "gc_s",
                         "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "driver_only_s")}
        out["resolve.failed_tasks"] = sum(
            self.spark_totals(trace, c)["failed_tasks"] for c in self.calls if c["group"]
        )
        for stage in RESOLVE_STAGES:
            out[f"resolve.{stage}_s"] = median([c["out"]["stage_seconds"][stage] for c in warm])

        res = self.calls_of("warm")[-1]["out"]
        stats = block_size_stats(res["blocks"]).first()
        matches = res["scored"].count()
        out.update({
            "normalize.records": res["records"].count(),
            "blocking.keys": stats["n_blocks"],
            "blocking.max_block": stats["max_block"],
            "blocking.recall": blocking_recall(res["pairs"], truth_in_rid_space(res, self.truth))["recall"],
            "pairs.candidates": res["n_pairs"],
            "scoring.matches": matches,
            "scoring.match_ratio": matches / res["n_pairs"],
            "clustering.clusters": res["assignments"].select("cluster_id").distinct().count(),
            "linkage.f1": median(self.f1s),
        })
        out.update(kernel_phases(res))

        job, resume = self.calls_of("job"), self.calls_of("resume")
        if job and resume:
            stages = f"{self.job_dir}/stages"
            ck = StageCheckpointer(self.spark, stages)
            manifests = [m for m in (ck.manifest(s) for s in sorted(os.listdir(stages))) if m]
            t0 = time.perf_counter()
            for df in self._decoded():
                checksum(df)
            decode_s = time.perf_counter() - t0
            out.update({
                "job.job_s": job[0]["wall"],
                "job.resume_s": resume[0]["wall"],
                "checkpoint.write_s": sum(m["wall_seconds"] for m in manifests),
                "checkpoint.rows": sum(m["rows"] for m in manifests),
                "checkpoint.bytes": sum(
                    os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(stages) for f in fs
                ),
                "spans.decode_s": decode_s,
                "resume.normalize_s": resume[0]["out"]["stage_seconds"]["normalize"],
            })
        return out


KERNEL_PAIRS = 100_000


def kernel_phases(res) -> dict:
    """Per-pair phase costs of the fused scoring kernel, driven
    in-process over the first KERNEL_PAIRS of the call's candidate pairs
    in 20k-row batches, in the decide mode ``resolve`` runs."""
    from pseudopeople_spark.linkage import scoring
    from pseudopeople_spark.linkage.pipeline import CANONICAL_FIELDS, ResolveConfig

    cfg = ResolveConfig()
    attach = [c for c in CANONICAL_FIELDS if c != "state"] + ["base_rid"]
    records = res["records"].select("record_id", *attach).toArrow()
    pairs = res["pairs"].select("id_l", "id_r").limit(KERNEL_PAIRS).toArrow().combine_chunks()

    class _Lookup:
        value = records

    gen = scoring.make_fused_batches(
        _Lookup(), "record_id", attach, [(s.name, s.kind, s.weight) for s in scoring.DEFAULT_FIELDS],
        scoring._nickname_families(), 0, 1,
        emit_attach=["dataset", "period", "first_name", "byear", "ssn_digits", "base_rid"],
        decide={"threshold": cfg.threshold, "same_dataset_distinct": cfg.unique_within_dataset},
    )
    for k in scoring.PHASE_SECONDS:
        scoring.PHASE_SECONDS[k] = 0.0
    t0 = time.perf_counter()
    for _ in gen(iter(pairs.to_batches(max_chunksize=20_000))):
        pass
    wall = time.perf_counter() - t0
    per_pair = 1e9 / max(pairs.num_rows, 1)
    out = {"scoring.kernel_ns_per_pair": wall * per_pair}
    for k, v in scoring.PHASE_SECONDS.items():
        out[f"scoring.{k}_ns_per_pair"] = v * per_pair
    return out


WORKLOADS = {w.name: w for w in (NoiseCensus, Resolve5k)}
