"""End-to-end entity-resolution pipeline:

    span docs -> decode -> normalize -> multi-pass blocking ->
    skew-aware pair gen -> batched scoring -> thresholded edges ->
    large-star/small-star connected components -> clusters

Every stage boundary is a checkpoint (StageCheckpointer): durable
parquet + a manifest with per-partition row counts under
``checkpoint_dir``, else a localCheckpoint that cuts lineage. Stage
wall clocks come back in ``stage_seconds``; stage KPIs (block-size
histogram, match rate) are not written to the manifests yet.

Stage shuffle budget (the thing that matters at 10^12 docs):
  1 shuffle for pair dedup (hash on pair key),
  2 hash joins to attach fields (on record_id) above
  scoring.LOOKUP_MAX_ROWS records, none below it,
  O(log n) small shuffles for connected components on the (tiny)
  match-edge set — none at all while it fits the local-finish cap:
  clustering + refinement then run on the driver from ONE size-gated
  collect of the scoring checkpoint plus one slim records-meta
  collect. Blocking itself is narrow except the pair join.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import ClassVar

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pseudopeople_spark.checkpoint import StageCheckpointer
from pseudopeople_spark.operators.assets import FAKE_FIRST_NAMES, FAKE_LAST_NAMES
from pseudopeople_spark.linkage import blocking, pairs as pairgen, refine, scoring
from pseudopeople_spark.linkage.clustering import cluster_records
from pseudopeople_spark.linkage.metrics import pairwise_f1_on_candidates


@dataclass
class ResolveConfig:
    threshold: float = 0.92
    checkpoint_dir: "str | None" = None
    # pseudopeople-style extracts carry each entity at most ONCE per
    # dataset-period (one census row per simulant per year), so a pair
    # WITHIN one dataset can only be a guardian-duplication twin
    # (record_id + "_dup") — every other same-dataset pair is a
    # different entity by construction. The same invariant drives the
    # split of clusters whose transitive closure violates it
    # (linkage.refine): the FP mass at scale is same-household twins
    # merged through a low-evidence bridge edge.
    unique_within_dataset: ClassVar[bool] = True


CANONICAL_FIELDS = ["dataset", "period", "first_name", "middle", "last_name",
                    "dob", "byear", "ssn_digits", "zipcode", "city", "state", "sex"]

# Fine-grained sub-stage wall clocks (dotted keys), merged into
# resolve()'s stage_seconds: the N-vs-4N scaling work needs to know
# WHICH sub-step inside a stage is the non-scaling (fixed) component,
# not just the stage totals.
_PROF: "dict[str, float]" = {}


def _dob_digits(col: Column, fmt: str) -> Column:
    """Rearrange a dataset-format date STRING into yyyyMMdd digit form
    *without parsing* — noised dates (swapped month/day, wrong digits)
    must survive normalization verbatim (they are evidence, not
    timestamps)."""
    if fmt == "MM/dd/yyyy":
        return F.concat(col.substr(7, 4), col.substr(1, 2), col.substr(4, 2))
    if fmt == "MMddyyyy":
        return F.concat(col.substr(5, 4), col.substr(1, 2), col.substr(3, 2))
    if fmt == "yyyyMMdd":
        return col
    raise ValueError(fmt)


def normalize_records(
    df: DataFrame,
    dataset_name: str,
    date_format: str = "MM/dd/yyyy",
    column_map: "dict[str, str] | None" = None,
    dob_fallback: "str | None" = None,
    ref_year: "int | None" = None,
    period_col: "str | None" = None,
) -> DataFrame:
    """Map a dataset extract onto the canonical linkage schema:
    (record_id, dataset, period, first_name, last_name, dob, ssn_digits,
    zipcode, city, state, sex). Missing fields become nulls; strings are
    upper-cased and trimmed. column_map: canonical -> source column.

    ``period`` scopes the uniqueness unit the same-dataset match veto
    relies on (one row per entity per dataset-PERIOD): ``ref_year``
    stamps it for annual extracts; ``period_col`` (e.g.
    ``event_type`` for SSA, where an entity has at most one creation
    and one death event) reads it per row. When both are absent the
    period is NULL and the veto treats the whole dataset as one period
    (the conservative single-extract behavior) — multi-year extracts
    fed as ONE dataset must pass one of them or true cross-period
    pairs are hard-vetoed."""
    m = dict(column_map) if column_map else {}  # never mutate the caller's map

    def src(canon: str) -> "Column | None":
        name = m.get(canon, canon)
        return F.col(name) if name in df.columns else None

    def _strip_fakes(out: Column, strip_fakes: tuple) -> Column:
        # placeholder/fake names (the use_fake_name noise channel)
        # carry zero identity signal — treat as missing, exactly
        # like production ER name-cleaning would. Long placeholders
        # are matched within edit distance 1 (they get typo'd too);
        # short ones exactly.
        exact = [x.upper() for x in strip_fakes]
        out = F.when(out.isin(*exact), None).otherwise(out)
        long_fakes = [x for x in exact if len(x) >= 4]
        if long_fakes:
            min_lev = F.least(*[F.levenshtein(out, F.lit(x)) for x in long_fakes])
            out = F.when(min_lev <= 1, None).otherwise(out)
        return out

    def clean(c: "Column | None", strip_fakes: "tuple | None" = None) -> Column:
        if c is None:
            return F.lit(None).cast("string")
        out = F.upper(F.trim(c.cast("string")))
        out = F.when(out == "", None).otherwise(out)
        if strip_fakes:
            out = _strip_fakes(out, strip_fakes)
        return out

    dob_src = src("dob") if "dob" in m else (F.col("date_of_birth") if "date_of_birth" in df.columns else None)
    # domain-evidence recovery for blanked dobs:
    #  * dob_fallback: another date column that equals the birth date
    #    (SSA 'creation' events are dated at birth);
    #  * ref_year + age: reconstruct the birth YEAR when the dob cell
    #    was blanked (age is a separate column with independent noise).
    if dob_src is not None:
        dob_clean = F.when(dob_src.cast("string") == "", None).otherwise(dob_src.cast("string"))
    else:
        dob_clean = F.lit(None).cast("string")
    if dob_fallback and dob_fallback in df.columns:
        fb = F.when(F.col(dob_fallback).cast("string") == "", None).otherwise(F.col(dob_fallback).cast("string"))
        dob_clean = F.coalesce(dob_clean, fb)
    dob_digits_expr = (
        _dob_digits(dob_clean, date_format) if (dob_src is not None or dob_fallback) else F.lit(None).cast("string")
    )
    byear = F.substring(dob_digits_expr, 1, 4)
    if ref_year is not None and "age" in df.columns:
        age_num = F.when(F.col("age").cast("string").rlike("^[0-9]+$"), F.col("age").cast("int"))
        byear = F.coalesce(byear, (F.lit(ref_year) - age_num).cast("string"))
    if "middle" not in m:
        for cand in ("middle", "middle_initial", "middle_name"):
            if cand in df.columns:
                m["middle"] = cand
                break
    ssn_src = src("ssn_digits") if "ssn_digits" in m else (F.col("ssn") if "ssn" in df.columns else None)
    if ref_year is not None:
        period_expr = F.lit(str(ref_year))
    elif period_col and period_col in df.columns:
        period_expr = F.col(period_col).cast("string")
    else:
        period_expr = F.lit(None).cast("string")
    out = df.select(
        F.col("record_id"),
        F.lit(dataset_name).alias("dataset"),
        period_expr.alias("period"),
        clean(src("first_name")).alias("__first_raw"),
        F.substring(clean(src("middle"), FAKE_FIRST_NAMES), 1, 1).alias("middle"),
        clean(src("last_name"), FAKE_LAST_NAMES).alias("last_name"),
        dob_digits_expr.alias("dob"),
        byear.alias("byear"),
        (F.regexp_replace(ssn_src.cast("string"), "[^0-9]", "") if ssn_src is not None else F.lit(None).cast("string")).alias("ssn_digits"),
        clean(src("zipcode")).alias("zipcode"),
        clean(src("city")).alias("city"),
        clean(src("state")).alias("state"),
        clean(src("sex")).alias("sex"),
    )
    # Nickname handling (the inverse of the use_nickname noise channel)
    # does NOT substitute a canonical form: the full 1,080-name table is
    # a GRAPH (JUDITH <-> JUDY are each other's nicknames; LISA is in
    # both the ALICE and ELIZABETH families), so records keep the raw
    # cleaned name and the SCORER applies nickname-family equivalence
    # (scoring._nickname_families + similarity.make_pair_sim).
    first = F.when(F.col("__first_raw").rlike("[0-9]"), None).otherwise(  # OCR/typo garbage
        _strip_fakes(F.col("__first_raw"), FAKE_FIRST_NAMES)
    )
    out = out.withColumn("first_name", first)
    cols = ["record_id", "dataset", "period", "first_name", "middle", "last_name",
            "dob", "byear", "ssn_digits", "zipcode", "city", "state", "sex"]
    return out.select(*cols)


def _assign_int_ids(records: DataFrame, id_col: str = "record_id", max_tries: int = 5):
    """Replace the string record id with a verified-unique int64
    surrogate for the pair/scoring/clustering domain.

    Why: the candidate-pair set is the pipeline's bulk data (63M
    pre-dedup rows at the 300k-simulant bench) and every pair row
    carries two ids through the dedup exchange and two scoring joins.
    With string ids the dedup alone costs 157s at 8 pinned cores; with
    int64 ids, 64s (tools/ab_pair_dedup.py, last present in commit
    b8e0934) — hashing, comparison and exchange bytes all shrink
    ~2.5x. At 10^12 records this is the difference between shuffling
    ~32TB and ~13TB per full-width pass.

    Exactness: the frame-with-rids is localCheckpointed FIRST and the
    verification aggregate runs on the MATERIALIZED data, so the
    uniqueness guarantee binds to the exact bytes every downstream
    stage reads — a non-deterministic upstream plan (sample / unseeded
    rand) cannot pass the check on one evaluation and collide on
    another. The upstream plan is evaluated exactly ONCE (the old shape
    paid an aggregate plus two independent checkpoints = 3 evals).
    rid = xxhash64(record_id, salt), verified count == countDistinct;
    ``base_rid`` hashes the id with a ``_dup`` suffix stripped (the key
    the same-dataset guardian-twin exemption matches on,
    scoring.cascade_match_mask) and is verified 1:1 against the stripped
    string key in the SAME aggregate, so a base_rid collision can never
    silently exempt an unrelated same-dataset pair. On any collision
    the salt is bumped and the whole check re-runs (expected retries ~0
    below ~2^32 rows; at larger scale widen to a (hash, hash') pair).

    Returns (mapping, records_int, n_records): mapping (rid, record_id)
    for the final translation back; records_int = records with
    ``record_id`` replaced by the int64 rid + a ``base_rid`` column —
    both cheap projections of ONE materialized frame; n_records, free
    from the verification pass, for data-driven partition sizing.
    """
    import time as _time

    from pseudopeople_spark.checkpoint import _capped_local_checkpoint

    stripped = F.regexp_replace(F.col(id_col), r"_dup$", "")
    for salt in range(max_tries):
        rid = F.xxhash64(F.col(id_col), F.lit(salt))
        base = F.xxhash64(stripped, F.lit(salt))
        _t0 = _time.time()
        with_rid = _capped_local_checkpoint(
            records.withColumn("__rid", rid).withColumn("base_rid", base)
        )
        _PROF["normalize.ckpt"] = round(_time.time() - _t0, 2)
        _t0 = _time.time()
        n, nd, nb, nbk = with_rid.agg(
            F.count("*"),
            F.count_distinct("__rid"),
            F.count_distinct("base_rid"),
            F.count_distinct(stripped),
        ).first()
        _PROF["normalize.verify"] = round(_time.time() - _t0, 2)
        if n == nd and nb == nbk:
            mapping = with_rid.select(F.col("__rid").alias("rid"), F.col(id_col))
            recs = with_rid.drop(id_col).withColumnRenamed("__rid", id_col)
            return mapping, recs, int(n)
        with_rid.unpersist()
    raise RuntimeError(f"no collision-free xxhash64 salt in {max_tries} tries for {id_col}")


def resolve(
    spark: SparkSession,
    records: DataFrame,
    cfg: "ResolveConfig | None" = None,
    truth: "DataFrame | None" = None,
) -> "dict":
    """Run the full pipeline on canonical records. Returns dict with
    DataFrames (blocks, pairs, scored, edges, assignments) and, when
    ``truth`` (record_id, simulant_id) is given, the pairwise-F1
    metrics."""
    import time as _time

    cfg = cfg or ResolveConfig()
    ckpt = StageCheckpointer(spark, cfg.checkpoint_dir or "", enabled=bool(cfg.checkpoint_dir))
    stage_seconds: "dict[str, float]" = {}
    _PROF.clear()

    def _timed(name, fn):
        t0 = _time.time()
        out = ckpt.run(name, fn, upstream=None)
        stage_seconds[name] = round(_time.time() - t0, 2)
        return out

    # Materialize the (noised) input once: every downstream stage joins
    # against it, and the noising plan upstream is deep. String record
    # ids are swapped for verified-unique int64 surrogates here — every
    # downstream stage (blocking keys, pair dedup, scoring joins,
    # clustering) runs in rid space; the tiny mapping translates the
    # final assignments (and the truth labels) back. _assign_int_ids
    # checkpoints ONE frame and hands back mapping/records as
    # projections of it — one upstream evaluation total.
    t0 = _time.time()
    mapping, records, n_records = _assign_int_ids(records)
    stage_seconds["normalize"] = round(_time.time() - t0, 2)
    blocks = _timed("blocking", lambda: blocking.all_block_keys(records))

    def _pair_partitions() -> int:
        """Size the candidate-pair exchange from the DATA, not the
        static shuffle conf: an exact upper bound on the pair count is
        one cheap aggregate over the (already materialized) block set —
        capped blocks contribute c(c-1)/2 pairs, oversized blocks a
        linear c·w sweep (pairs.pairs_from_blocks), sorted-neighborhood
        ≤ n_records·window. Target ~250k pair rows (~4 MB of int64
        pairs) per partition; clamp to [defaultParallelism, shuffle
        width] so a small input still uses every core and a huge one
        never exceeds the operator-configured exchange width. A static
        conf value here is right at one scale only — wasteful at 20k
        rows, undersized at 10^12."""
        par = spark.sparkContext.defaultParallelism
        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
        if n_shuffle <= par:
            # the clamp collapses to [par, par]: no bound can change
            # the answer, so its aggregate (~3 jobs) is skipped —
            # always the case under get_spark, which sets the shuffle
            # width to the local core count
            return par
        per_block = F.when(
            F.col("c") <= pairgen.MAX_BLOCK_SIZE, F.col("c") * (F.col("c") - 1) / 2
        ).otherwise(F.col("c") * pairgen.NEIGHBORHOOD_WINDOW)
        _t0 = _time.time()
        ub_row = (
            blocks.groupBy("block_key").agg(F.count("*").alias("c"))
            .agg(F.sum(per_block).alias("ub")).first()
        )
        _PROF["pairs.ub_agg"] = round(_time.time() - _t0, 2)
        ub = int(ub_row["ub"] or 0) + n_records * blocking.SNB_WINDOW
        return max(par, min(-(-ub // 250_000), n_shuffle))

    def _pairs() -> DataFrame:
        p = pairgen.pairs_from_blocks(blocks, dedup=False)
        snb = blocking.sorted_neighborhood_pairs(
            records, ["last_name", "first_name", "dob"]
        ).select("id_l", "id_r")
        p = p.unionByName(snb)
        # ONE dedup shuffle for all pair sources, hash-partitioned on
        # id_l alone: HashPartitioning(id_l) satisfies the aggregate's
        # ClusteredDistribution([id_l, id_r]) (all copies of a pair share
        # id_l), so the dropDuplicates adds no second exchange AND the
        # scoring join on id_l reuses the same partitioning — net one
        # full-width shuffle of the candidate set instead of three.
        # The partition count is EXPLICIT: with 16-byte int64 pairs the
        # exchange falls under AQE's 64MB advisory size and would
        # coalesce to a handful of partitions — which then starves the
        # scoring stage that reuses this partitioning (measured: 8-core
        # leg ran scoring on ~4 tasks, 769s vs 443s). An explicit N is
        # exempt from AQE coalescing; the N itself is sized from the
        # block-set pair upper bound (_pair_partitions), not the static
        # conf. The stage checkpoint then caps the MATERIALIZED result
        # at 4x parallelism (checkpoint.py) — the dedup aggregation
        # runs at full width, and the Arrow scoring stage downstream
        # reads >=4 well-sized waves per core.
        return p.repartition(_pair_partitions(), "id_l").dropDuplicates(["id_l", "id_r"])

    cand = _timed("pairs", _pairs)

    def _scored() -> DataFrame:
        # state is normalized into records for blocking but no sim spec
        # and no tier of the match cascade reads it — attaching it here
        # would cost a lookup per side per pair
        attach = [c for c in CANONICAL_FIELDS if c != "state"] + ["base_rid"]
        # One mapInArrow pass scores AND decides in the worker; the stage
        # checkpoints only what downstream reads: the matched rows (plus
        # score + the ssn-consensus inputs). Materializing all 42M scored
        # rows at 300k simulants (~3 GB in the block manager) was
        # measured to DOUBLE the scoring stage's wall at local[8]
        # (252s -> 710s at 24g heap) through GC thrash; matches ~
        # records, not pairs. The field source (closure IPC, scratch
        # parquet, or the co-partitioned join) follows n_records.
        return scoring.score_pairs_fused(
            spark, cand, records, attach,
            decide={
                "threshold": cfg.threshold,
                "same_dataset_distinct": cfg.unique_within_dataset,
            },
            n_records=n_records,
        )

    scored = _timed("scoring", _scored)
    edges = scoring.match_edges(scored)

    def _local_edges():
        """The pruned match edges as a pandas (id_l, id_r, score)
        frame, or None above the local-finish cap. ONE action: the
        scoring checkpoint's matched rows are collected through a
        limit one past the cap — the size gate needs no count of its
        own — and the SSN-consensus prune runs on the driver
        (scoring.prune_edges_by_ssn_consensus_local, the twin of the
        Spark prune inside match_edges)."""
        from pseudopeople_spark.linkage.clustering import LOCAL_FINISH_MAX_EDGES

        pdf = (
            scored.where(F.col("is_match"))
            .select("id_l", "id_r", "score", "l_ssn_digits", "r_ssn_digits")
            .limit(LOCAL_FINISH_MAX_EDGES + 1)
            .toPandas()
        )
        if len(pdf) > LOCAL_FINISH_MAX_EDGES:
            return None
        return scoring.prune_edges_by_ssn_consensus_local(pdf)[["id_l", "id_r", "score"]]

    def _assignments() -> DataFrame:
        if (e_pdf := _local_edges()) is not None:
            # Small-edge-set regime (same cap as the CC local finish):
            # ONE fused driver pass for CC + violation detection +
            # constrained rebuild on the edges just collected, plus one
            # meta collect (refine.local_cluster_and_refine) — instead
            # of ~8 fixed-latency distributed jobs.
            asg = refine.local_cluster_and_refine(e_pdf, records)
        else:
            # Beyond the cap the fully distributed shape is the
            # 10^12-record path: detection = one aggregate over the
            # records-sized assignment set; the rebuild touches only the
            # (rare, entity-sized) violating clusters — see linkage.refine
            asg = refine.split_violating_clusters(
                cluster_records(edges, records), edges, records
            )
        # translate back to the caller's string ids — one broadcast-size
        # join over the (small) assignment set, never over the pairs
        return (
            asg.withColumnRenamed("record_id", "rid")
            .join(mapping, "rid")
            .select("rid", "record_id", "cluster_id")
        )

    assignments_full = _timed("clustering", _assignments)
    assignments = assignments_full.select("record_id", "cluster_id")
    stage_seconds.update(_PROF)
    stage_seconds.update(scoring.PROF)
    scoring.PROF.clear()
    stage_seconds.update(refine.PROF)
    refine.PROF.clear()

    out = {
        "records": records,      # rid space (record_id is the int64 surrogate)
        "id_mapping": mapping,   # rid -> original record_id
        "blocks": blocks,
        "pairs": cand,           # rid space
        "scored": scored,        # rid space; MATCH rows only (the stage
                                 # checkpoints what downstream reads)
        "edges": edges,          # rid space
        "assignments": assignments,  # original record_id space
        "stage_seconds": stage_seconds,
    }
    if truth is not None:
        truth_rid = (
            truth.join(mapping, "record_id")
            .select(F.col("rid").alias("record_id"), *[c for c in truth.columns if c != "record_id"])
        )
        out["truth_rid"] = truth_rid
        # candidate pairs are rid-keyed, so the F1 join uses rid-space
        # truth + rid-space cluster labels (no wide translation of the
        # pair set)
        asg_rid = assignments_full.select(F.col("rid").alias("record_id"), "cluster_id")
        out["metrics"] = pairwise_f1_on_candidates(cand, asg_rid, truth_rid)
    return out
