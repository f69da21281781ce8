"""Plan-quality tests: predicate pushdown, broadcast joins, and a noise
plan that never leaves the JVM. At 100 TB the plan shape is the
correctness criterion for performance."""

from pyspark.sql import functions as F

from pseudopeople_spark import config, datasets as D, noise, synth
from pseudopeople_spark.plans.inspect import (
    assert_broadcast_join,
    assert_pushed_filters,
    codegen_method_bytes,
    count_python_eval_nodes,
    physical_plan,
)
from pseudopeople_spark.sources.reader import load_standard_dataset
from tests.test_noise_golden import RECORDS

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_to_parquet_scan(spark):
    df = load_standard_dataset(
        spark, f"{SF}/lineitem.parquet",
        user_filters=[("l_shipdate", "<", "1996-01-01"), ("l_discount", ">", 0.02)],
    ).select("l_orderkey", "l_quantity")
    assert_pushed_filters(df, "l_shipdate", "l_discount")
    # column pruning: the scan must read only the needed columns
    plan = physical_plan(df)
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_lines and "l_extendedprice" not in scan_lines[0]


def test_dimension_joins_are_broadcast(spark):
    o = spark.read.parquet(f"{SF}/orders.parquet")
    c = spark.read.parquet(f"{SF}/customer.parquet")
    n = spark.read.parquet(f"{SF}/nation.parquet")
    df = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name").agg(F.sum("o_totalprice").alias("t"))
    )
    assert_broadcast_join(df, at_least=2)


def test_noise_plan_single_arrow_crossing(spark):
    """No noise plan crosses into Python: token noise runs as JVM
    expressions (``column_noise.token_noise``), so no dataset's plan has
    an ArrowEvalPython, BatchEvalPython or MapInArrow node (census once
    had one ArrowEvalPython for its 5 token columns)."""
    pop = synth.simulants(spark, 100, seed=1)
    cfg = config.get_config()
    found = {
        dataset: count_python_eval_nodes(noise.noise_dataset(records(pop), spec, cfg, seed=2))
        for dataset, (spec, records) in RECORDS.items()
    }
    assert found == dict.fromkeys(RECORDS, 0)


# HotSpot never JIT-compiles a method of more bytecode than this
# (-XX:+DontCompileHugeMethods, the default): a codegen stage over it
# runs every row in the bytecode interpreter.
HUGE_METHOD_LIMIT = 8_000


def test_noise_plan_fits_jit_limit(spark):
    """Every whole-stage-codegen stage of the executed census noise plan
    fits the JIT. The fused noise stage once reached a 41,680-byte
    processNext (write_wrong_digits' unrolled positions were ~26 KB of
    it) and the guardian-duplication branch, which every row passes
    through, 9,845 bytes; both ran interpreted."""
    # materialized first, as a noising job reads its extract: the stages
    # then start at a scan, not at synth's record generation
    census = synth.census_records(synth.simulants(spark, 100, seed=1), 2020).localCheckpoint()
    noised = noise.noise_dataset(census, D.DECENNIAL_CENSUS, config.get_config(), seed=2)
    noised.collect()
    sizes = codegen_method_bytes(noised)
    assert any("BroadcastNestedLoopJoin" in stage for stage, _ in sizes), sizes  # the main noise stage
    assert all(size <= HUGE_METHOD_LIMIT for _, size in sizes), sizes


# Py4J round trips of one census noise_dataset build: 977 measured in
# a local[4] session, plus headroom. The plan is SQL text, so the count
# scales with columns, not expression nodes; the Column-API build made
# ~31k-38k. Memory commands are not counted: they release Java
# references of earlier objects as Python's collector finalizes them
# (316-955 observed during one build, depending on prior garbage).
NOISE_PLAN_MAX_ROUND_TRIPS = 1_100


def test_noise_plan_build_py4j_round_trips(spark, monkeypatch):
    from py4j import protocol
    from py4j.clientserver import ClientServerConnection

    census = synth.census_records(synth.simulants(spark, 100, seed=1), 2020)
    cfg = config.get_config()
    noise.noise_dataset(census, D.DECENNIAL_CENSUS, cfg, seed=2)  # loads assets, warms caches
    calls = []
    send = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith(protocol.MEMORY_COMMAND_NAME):
            calls.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    noise.noise_dataset(census, D.DECENNIAL_CENSUS, cfg, seed=3)
    monkeypatch.undo()
    assert len(calls) <= NOISE_PLAN_MAX_ROUND_TRIPS


def test_no_rowwise_python_udfs_anywhere(spark):
    """BatchEvalPython (row-at-a-time pickling) must never appear; only
    ArrowEvalPython (vectorized) is allowed."""
    pop = synth.simulants(spark, 100, seed=1)
    census = synth.census_records(pop, 2020)
    noised = noise.noise_dataset(census, D.DECENNIAL_CENSUS, config.get_config(), seed=2)
    assert "BatchEvalPython" not in physical_plan(noised)


def test_loader_filter_ops(spark):
    df = load_standard_dataset(
        spark, f"{SF}/orders.parquet", user_filters=[("o_orderpriority", "in", ["1-URGENT", "2-HIGH"])]
    )
    got = {r["o_orderpriority"] for r in df.select("o_orderpriority").distinct().collect()}
    assert got <= {"1-URGENT", "2-HIGH"}


def test_pair_dedup_reuses_one_exchange(spark):
    """The candidate-pair stage must cost ONE full-width shuffle: the
    explicit repartition on id_l satisfies the dedup aggregate's
    [id_l, id_r] clustering AND the downstream join on id_l, so the
    physical plan may contain no exchange hash-partitioned on the pair
    key and no second exchange on id_l above the repartition."""
    from pyspark.sql import functions as F

    from pseudopeople_spark.linkage import pairs as pairgen

    blocks = spark.range(5000).select(
        (F.col("id") % 300).cast("string").alias("block_key"),
        F.concat(F.lit("r"), F.col("id")).alias("record_id"),
    )
    p = pairgen.pairs_from_blocks(blocks, dedup=False)
    deduped = p.repartition("id_l").dropDuplicates(["id_l", "id_r"])
    recs = spark.range(5000).select(
        F.concat(F.lit("r"), F.col("id")).alias("id_l"), F.lit("x").alias("f")
    )
    joined = deduped.join(recs, "id_l")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    import re

    pair_key_exchanges = [
        l for l in plan.splitlines()
        if "Exchange hashpartitioning" in l and re.search(r"id_l#\d+, id_r#\d+", l)
    ]
    assert not pair_key_exchanges, pair_key_exchanges
    id_l_exchanges = [
        l for l in plan.splitlines()
        if "Exchange hashpartitioning" in l and "id_l#" in l
    ]
    assert len(id_l_exchanges) == 1, id_l_exchanges


def test_pairs_from_blocks_single_block_exchange_and_semantics(spark):
    """pairs_from_blocks must (a) produce exactly the brute-force
    within-block i<j pair set for small blocks plus a linear sweep for
    oversized ones, and (b) cost ONE exchange of the block set — the
    count window and both follower windows share hash(block_key) and
    the (block_key, record_id) sort."""
    import itertools

    from pyspark.sql import functions as F

    from pseudopeople_spark.linkage import pairs as pairgen

    # 40 small blocks of mixed sizes 1..6 + one oversized block of 500
    rows = []
    rid = 0
    for b in range(40):
        for _ in range(b % 6 + 1):
            rows.append((f"b{b:02d}", f"r{rid:05d}"))
            rid += 1
    big_ids = [f"z{j:05d}" for j in range(500)]
    rows += [("BIG", x) for x in big_ids]
    blocks = spark.createDataFrame(rows, "block_key string, record_id string")

    got = {
        (r.id_l, r.id_r)
        for r in pairgen.pairs_from_blocks(
            blocks, max_block_size=100, neighborhood_window=5
        ).collect()
    }

    expect = set()
    by_key: dict = {}
    for k, r in rows:
        by_key.setdefault(k, []).append(r)
    for k, ids in by_key.items():
        ids = sorted(ids)
        if k == "BIG":
            for i, a in enumerate(ids):
                for b2 in ids[i + 1 : i + 6]:
                    expect.add((a, b2))
        else:
            expect.update(itertools.combinations(ids, 2))
    assert got == expect

    plan = physical_plan(pairgen.pairs_from_blocks(blocks, dedup=False))
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    block_key_exchanges = [l for l in exchanges if "block_key" in l]
    # one branch-shared exchange on block_key; union of the two filtered
    # branches must NOT re-shuffle (ReusedExchange or a single node)
    assert len(block_key_exchanges) <= 2, plan  # <=2: Spark may not dedupe across branches pre-AQE
    assert not [l for l in exchanges if "id_r" in l and "id_l" in l]
