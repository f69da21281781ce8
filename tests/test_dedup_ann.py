"""Dedup operator tests: SimHash properties of the portable SQL the
``simhash_near_dups`` query runs, the char-Jaccard block cap, streaming
noising and streaming dedup."""

import pytest
from pyspark.sql import functions as F

from pseudopeople_spark.functions import portable as PT

SF = "/root/testdata/sf0.001"


def _simhash_sigs(spark, docs, view):
    """(doc_id, sig) of ``docs`` through the production signature SQL,
    materialized and registered as ``view``."""
    docs.createOrReplaceTempView("documents")
    sigs = spark.sql(PT.simhash_sigs_relation_sql(PT.SPARK)).localCheckpoint()
    sigs.createOrReplaceTempView(view)
    return sigs


def _simhash_pairs(spark, view, max_hamming):
    """The (id_l, id_r, hamming) rows the Spark query path emits."""
    sql = PT.simhash_pairs_from_sigs_sql(PT.SPARK, view, max_hamming=max_hamming, first_band_only=True)
    return {(r["id_l"], r["id_r"], r["hamming"]) for r in spark.sql(sql).collect()}


def test_simhash_identical_and_near_texts(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),  # identical
            (3, "the quick brown fox jumps over the lazy cat"),  # near
            (4, "completely different words entirely unrelated totally"),
        ],
        ["doc_id", "text"],
    )
    sigs = {r["doc_id"]: r["sig"] for r in _simhash_sigs(spark, df, "_sigs_near_test").collect()}
    assert sigs[1] == sigs[2]
    ham = lambda a, b: bin(sigs[a] ^ sigs[b]).count("1")
    assert ham(1, 3) < ham(1, 4)

    got = {(l, r) for l, r, _ in _simhash_pairs(spark, "_sigs_near_test", max_hamming=ham(1, 3))}
    assert (1, 2) in got and (1, 3) in got
    assert (1, 4) not in got


def test_streaming_noise_matches_batch(spark, tmp_path):
    """The stateless noise plan yields IDENTICAL output on a stream and
    a batch of the same records (determinism carries across execution
    modes)."""
    from pseudopeople_spark import config, datasets as D, noise, synth
    from pseudopeople_spark.streaming.stream_noise import noise_stream

    pop = synth.simulants(spark, 300, seed=4)
    census = synth.census_records(pop, 2020)
    src = str(tmp_path / "src")
    census.write.mode("overwrite").parquet(src)
    cfg = config.get_config()

    stream = noise_stream(spark, src, D.DECENNIAL_CENSUS, cfg, seed=6)
    out = str(tmp_path / "out")
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.read.parquet(out)

    batch_cfg = {**cfg}
    # streams can't host the eligibility-scaling aggregate -> compare
    # against the batch plan under the same streaming semantics
    batch = noise.noise_dataset(
        spark.read.parquet(src), D.DECENNIAL_CENSUS, batch_cfg, seed=6, scale_by_eligibility=False
    )
    # guardian duplication is excluded on the stream; exclude from batch compare
    batch = batch.where(~F.col("record_id").endswith("_dup"))
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


@pytest.mark.parametrize("h", [0, 3, 6])
def test_simhash_banding_recall_guarantee(spark, h):
    """Pigeonhole completeness of the production banding: with
    ``h + 1`` bands, EVERY pair within Hamming ``h`` must be emitted,
    with its exact distance — checked against a brute-force cross join
    of the signatures. The DuckDB oracle replays the same banding, so
    it would share a recall hole rather than catch it. Three exact
    copies make the h=0 case (one 30-bit band, the whole signature as
    the key) non-empty."""
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", F.substring("text", 1, 120).alias("text"))
        .orderBy("doc_id")
        .limit(200)
    )
    copies = docs.where(F.col("doc_id") < 3).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    sigs = _simhash_sigs(spark, docs.unionByName(copies), "_sigs_recall_test")
    l, r = sigs.alias("l"), sigs.alias("r")
    brute = (
        l.crossJoin(r)
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("a"),
            F.col("r.doc_id").alias("b"),
            F.bit_count(F.col("l.sig").bitwiseXOR(F.col("r.sig"))).alias("d"),
        )
        .where(F.col("d") <= h)
    )
    want = {(x["a"], x["b"], x["d"]) for x in brute.collect()}
    got = _simhash_pairs(spark, "_sigs_recall_test", max_hamming=h)
    assert len(want) >= 3
    assert got == want, f"h={h}: missed {len(want - got)}, extra {len(got - want)}"


def test_dedup_char_jaccard_block_cap(spark, tmp_path):
    """One oversized (lang, length-bucket) block must yield linear
    sweep pairs, never the quadratic join (the 100 TB straggler
    guard)."""
    import __spark_entry__ as E

    n = 400
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("aaaa bbbb cccc dddd").alias("text"),
        F.lit("en").alias("lang"),
        F.lit("web").alias("source"),
        F.lit(19).cast("int").alias("n_chars"),
    )
    sf = str(tmp_path / "sf")
    docs.coalesce(1).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    out = E.queries()["dedup_char_jaccard"](spark, sf)
    cnt = out.count()
    assert 0 < cnt <= n * 8, f"expected <= n*sweep_window pairs, got {cnt}"


def test_streaming_stateful_dedup_first_seen(spark, tmp_path):
    """applyInPandasWithState exact dedup: the first record per key is
    emitted ONCE across micro-batches (state persists between
    triggers); later duplicates — same batch or later batches — are
    dropped; ties inside the first batch break on order_col."""
    import pyspark.sql.types as T

    from pseudopeople_spark.streaming.stateful import dedup_stream_first_seen

    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("payload", T.StringType()),
    ])
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    import os

    os.makedirs(src)

    def feed(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    # batch 1: key a twice (seq 2 then 1 -> seq 1 wins), key b once
    feed([("a", 2, "a2"), ("a", 1, "a1"), ("b", 7, "b7")], "b1")
    stream = spark.readStream.schema(schema).parquet(src)
    dd = dedup_stream_first_seen(stream, ["k"], "seq")
    q = (
        dd.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got1 = {(r["k"], r["seq"]) for r in spark.read.parquet(out).collect()}
    assert got1 == {("a", 1), ("b", 7)}

    # batch 2: duplicate of a (must be dropped — state crossed the
    # trigger boundary via the checkpoint) + new key c
    feed([("a", 0, "late-dup"), ("c", 3, "c3")], "b2")
    q = (
        dedup_stream_first_seen(
            spark.readStream.schema(schema).parquet(src), ["k"], "seq"
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got2 = {(r["k"], r["seq"]) for r in spark.read.parquet(out).collect()}
    assert got2 == {("a", 1), ("b", 7), ("c", 3)}


def test_simhash_first_band_only_equals_distinct(spark):
    """The Spark runtime path's first-band-only banding (which deletes
    the cross-band DISTINCT exchange) must emit exactly the DISTINCT
    formulation's pair set — same ids, same hamming."""
    from pseudopeople_spark.functions import portable as PT

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {'epsilon' if i % 7 else 'zeta'} tok{i % 3}") for i in range(300)],
        ["doc_id", "text"],
    ).repartition(4)
    docs.createOrReplaceTempView("documents")
    sigs = spark.sql(PT.simhash_sigs_relation_sql(PT.SPARK)).localCheckpoint()
    sigs.createOrReplaceTempView("_sigs_fbo_test")
    a = spark.sql(
        PT.simhash_pairs_from_sigs_sql(PT.SPARK, "_sigs_fbo_test", max_hamming=3)
    ).collect()
    b = spark.sql(
        PT.simhash_pairs_from_sigs_sql(PT.SPARK, "_sigs_fbo_test", max_hamming=3, first_band_only=True)
    ).collect()
    ka = sorted((r["id_l"], r["id_r"], r["hamming"]) for r in a)
    kb = sorted((r["id_l"], r["id_r"], r["hamming"]) for r in b)
    assert ka == kb and len(ka) > 0
