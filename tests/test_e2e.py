"""End-to-end north-star test: synthesize -> encode to interleaved span
docs -> noise -> decode -> resolve -> pairwise F1 >= 0.99 on labeled
pairs within the same blocking key (BASELINE.json metric), plus the
span-sequence invariant and partition-count invariance."""

import pytest
from pyspark.sql import functions as F

from pseudopeople_spark import config, datasets as D, noise, synth
from pseudopeople_spark.linkage import clustering
from pseudopeople_spark.linkage.metrics import blocking_recall
from pseudopeople_spark.linkage.pipeline import ResolveConfig, normalize_records, resolve
from pseudopeople_spark.spans import decode_records, encode_records, span_sequence_signature

N = 1200
SEED = 42


@pytest.fixture(scope="module")
def noised(spark):
    pop = synth.simulants(spark, N, seed=SEED)
    cfg = config.get_config()
    census = noise.noise_dataset(synth.census_records(pop, 2020), D.DECENNIAL_CENSUS, cfg, seed=7)
    w2 = noise.noise_dataset(synth.w2_records(pop, 2020), D.TAXES_W2_AND_1099, cfg, seed=8)
    ssa = noise.noise_dataset(synth.ssa_records(pop), D.SOCIAL_SECURITY, cfg, seed=9)
    return census.localCheckpoint(), w2.localCheckpoint(), ssa.localCheckpoint()


@pytest.fixture(scope="module")
def linkage_input(spark, noised):
    """(records, truth): the three extracts as canonical records, read
    back through the span-document round trip, plus the truth labels."""
    census, w2, ssa = noised

    # storage model round trip: records travel as interleaved span docs
    def via_spans(df, name):
        fields = [c for c in df.columns if c != "record_id"]
        docs = encode_records(df, "record_id", fields)
        back = decode_records(docs, fields).withColumnRenamed("doc_id", "record_id")
        return back

    nc = normalize_records(via_spans(census, "census"), "census", "MM/dd/yyyy", ref_year=2020)
    nw = normalize_records(
        via_spans(w2, "w2"),
        "w2",
        "MM/dd/yyyy",
        column_map={
            "zipcode": "mailing_address_zipcode",
            "city": "mailing_address_city",
            "state": "mailing_address_state",
        },
        ref_year=2020,
    )
    ns = normalize_records(via_spans(ssa, "ssa"), "ssa", "yyyyMMdd", dob_fallback="event_date", period_col="event_type")
    records = nc.unionByName(nw).unionByName(ns)
    truth = (
        census.select("record_id", "simulant_id")
        .unionByName(w2.select("record_id", "simulant_id"))
        .unionByName(ssa.select("record_id", "simulant_id"))
        .localCheckpoint()
    )
    return records, truth


@pytest.fixture(scope="module")
def resolved(spark, linkage_input):
    records, truth = linkage_input
    res = resolve(spark, records, ResolveConfig(), truth=truth)
    res["truth"] = truth
    return res


def test_pairwise_f1_at_least_099(resolved):
    m = resolved["metrics"]
    assert m["f1"] >= 0.99, m
    assert m["precision"] >= 0.98, m
    assert m["recall"] >= 0.98, m


def test_blocking_recall_high(resolved):
    # pairs are rid-keyed (int64 surrogate ids); use the rid-space truth
    br = blocking_recall(resolved["pairs"], resolved["truth_rid"])
    assert br["recall"] >= 0.95, br


def _checksum(df, cols):
    row = df.agg(
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"), F.count("*").alias("n")
    ).first()
    return row["h"], row["n"]


def test_resolve_is_partitioning_invariant(spark, linkage_input, resolved):
    """Candidate set and assignments are bit-identical whether the
    shuffle width equals defaultParallelism (resolve() skips the
    pair-bound aggregate) or is 4x it (the bound sizes the pair
    exchange)."""
    records, _ = linkage_input
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    assert int(old) == spark.sparkContext.defaultParallelism
    spark.conf.set(key, str(4 * spark.sparkContext.defaultParallelism))
    try:
        wide = resolve(spark, records, ResolveConfig())
        got = (_checksum(wide["pairs"], ["id_l", "id_r"]),
               _checksum(wide["assignments"], ["record_id", "cluster_id"]))
    finally:
        spark.conf.set(key, old)
    assert got == (_checksum(resolved["pairs"], ["id_l", "id_r"]),
                   _checksum(resolved["assignments"], ["record_id", "cluster_id"]))


def test_distributed_clustering_matches_local(spark, linkage_input, resolved, monkeypatch):
    """With the local-finish cap at 0, clustering takes the branch built
    for match-edge sets too big for the driver: distributed refinement
    over the star-round connected components. Its assignments must equal
    the driver-local finish's, record for record."""
    records, _ = linkage_input
    monkeypatch.setattr(clustering, "LOCAL_FINISH_MAX_EDGES", 0)
    dist = resolve(spark, records, ResolveConfig())
    assert _checksum(dist["assignments"], ["record_id", "cluster_id"]) == _checksum(
        resolved["assignments"], ["record_id", "cluster_id"]
    )


# Spark jobs one warm resolve() of the fixture issues (measured: 18 at
# local[8]); a new action anywhere in the pipeline shows up here
MAX_RESOLVE_JOBS = 18


def test_resolve_job_count(spark, linkage_input, resolved):
    """A warm resolve() stays within its job budget: each job is a
    fixed scheduling latency, which is what a small resolve pays for."""
    records, _ = linkage_input
    sc = spark.sparkContext
    group = "test_e2e:resolve_job_count"
    sc.setJobGroup(group, group)
    try:
        resolve(spark, records, ResolveConfig())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= MAX_RESOLVE_JOBS, len(jobs)


def test_span_sequence_equality_after_noise(spark, noised):
    """Encoding the same noised records twice yields identical span
    sequences (kind, text, media_ref, order) — the per-row invariant."""
    census = noised[0]
    fields = [c for c in census.columns if c != "record_id"]
    sig1 = encode_records(census, "record_id", fields).select(
        "doc_id", span_sequence_signature().alias("sig")
    )
    sig2 = encode_records(census.repartition(7), "record_id", fields).select(
        "doc_id", span_sequence_signature().alias("sig2")
    )
    diff = sig1.join(sig2, "doc_id").where(F.col("sig") != F.col("sig2"))
    assert diff.count() == 0


def test_noise_is_partition_invariant_end_to_end(spark):
    """Same seed + different partitioning => identical noised output
    (the reference's shard-count invariance, SURVEY.md §5.7)."""
    pop = synth.simulants(spark, 400, seed=1)
    cfg = config.get_config()
    a = noise.noise_dataset(synth.census_records(pop, 2020).repartition(2), D.DECENNIAL_CENSUS, cfg, seed=3)
    b = noise.noise_dataset(synth.census_records(pop, 2020).repartition(29), D.DECENNIAL_CENSUS, cfg, seed=3)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_truth_columns_never_noised(spark, noised):
    """simulant_id/household_id are the truth deck (reference
    tests/integration/test_schema.py:19-38)."""
    census = noised[0]
    assert census.where(F.col("simulant_id").isNull()).count() == 0
    assert census.where(~F.col("simulant_id").rlike("^[0-9]{9}$")).count() == 0
