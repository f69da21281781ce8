"""Constraint-guided cluster splitting (linkage.refine) — the
dataset-period uniqueness invariant (one row per entity per extract,
reference interface.py's one-row-per-simulant pulls) applied AFTER
transitive closure: a cluster holding two different base_rids in one
(dataset, period) slot is a detectable twin merge and must be split
along its lowest-confidence edge."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pseudopeople_spark.linkage import refine


def _meta(spark, rows):
    return spark.createDataFrame(
        rows, "record_id long, dataset string, period string, base_rid long"
    )


def _asg(spark, rows):
    return spark.createDataFrame(rows, "record_id long, cluster_id long")


def _edges(spark, rows):
    return spark.createDataFrame(rows, "id_l long, id_r long, score double")


def test_no_violation_is_a_no_op(spark):
    # one entity across three datasets: same cluster, no (ds, period)
    # slot repeats -> assignments come back unchanged
    meta = _meta(spark, [(1, "census", "2020", 1), (2, "w2", "2020", 2), (3, "ssa", None, 3)])
    asg = _asg(spark, [(1, 1), (2, 1), (3, 1)])
    edges = _edges(spark, [(1, 2, 0.99), (2, 3, 0.98)])
    out = refine.split_violating_clusters(asg, edges, meta)
    assert sorted(out.collect()) == sorted(asg.collect())


def test_twin_merge_is_split_on_the_weakest_edge(spark):
    # entities A = {1 census, 2 w2, 3 ssa} and B = {4 census, 5 w2}
    # merged by one low-score bridge (3 <-> 4). The merged cluster has
    # two census-2020 base_rids -> violation; greedy best-first rebuild
    # keeps both entities intact and drops exactly the bridge.
    meta = _meta(
        spark,
        [
            (1, "census", "2020", 1), (2, "w2", "2020", 2), (3, "ssa", None, 3),
            (4, "census", "2020", 4), (5, "w2", "2020", 5),
        ],
    )
    asg = _asg(spark, [(1, 1), (2, 1), (3, 1), (4, 1), (5, 1)])
    edges = _edges(
        spark,
        [(1, 2, 0.99), (2, 3, 0.97), (3, 4, 0.93), (4, 5, 0.99)],
    )
    out = {r["record_id"]: r["cluster_id"] for r in refine.split_violating_clusters(asg, edges, meta).collect()}
    assert out[1] == out[2] == out[3]
    assert out[4] == out[5]
    assert out[1] != out[4]
    # min-rid labels, consistent with connected_components' convention
    assert out[1] == 1 and out[4] == 4


def test_dup_twin_shares_base_rid_and_survives(spark):
    # guardian-duplication twin: two census-2020 rows with the SAME
    # base_rid are one entity by construction -> no violation
    meta = _meta(spark, [(1, "census", "2020", 1), (2, "census", "2020", 1), (3, "w2", "2020", 3)])
    asg = _asg(spark, [(1, 1), (2, 1), (3, 1)])
    edges = _edges(spark, [(1, 2, 0.99), (1, 3, 0.95)])
    out = refine.split_violating_clusters(asg, edges, meta)
    assert {r["cluster_id"] for r in out.collect()} == {1}


def test_null_periods_compare_equal(spark):
    # two ssa rows with NULL period and different base_rids in one
    # cluster: NULL slots as one key (eqNullSafe semantics) -> violation
    # -> split; the third record follows its strongest edge
    meta = _meta(spark, [(1, "ssa", None, 1), (2, "ssa", None, 2), (3, "census", "2020", 3)])
    asg = _asg(spark, [(1, 1), (2, 1), (3, 1)])
    edges = _edges(spark, [(1, 3, 0.99), (2, 3, 0.93)])
    out = {r["record_id"]: r["cluster_id"] for r in refine.split_violating_clusters(asg, edges, meta).collect()}
    assert out[1] == out[3] == 1
    assert out[2] == 2


def test_local_and_distributed_paths_agree(spark):
    # same twin-merge fixture through BOTH rebuild paths: the driver
    # -local fast path (default gate) and the cogroup path (gate 0)
    meta = _meta(
        spark,
        [
            (1, "census", "2020", 1), (2, "w2", "2020", 2), (3, "ssa", None, 3),
            (4, "census", "2020", 4), (5, "w2", "2020", 5),
        ],
    )
    asg = _asg(spark, [(1, 1), (2, 1), (3, 1), (4, 1), (5, 1)])
    edges = _edges(spark, [(1, 2, 0.99), (2, 3, 0.97), (3, 4, 0.93), (4, 5, 0.99)])
    local = sorted(refine.split_violating_clusters(asg, edges, meta).collect())
    dist = sorted(
        refine.split_violating_clusters(asg, edges, meta, local_limit=0).collect()
    )
    assert local == dist


def _signed64(x: int) -> int:
    x %= 2**64
    return x - 2**64 if x >= 2**63 else x


@pytest.mark.parametrize("ids", ["small", "xxhash64"])
def test_local_fused_path_matches_distributed(spark, ids):
    """local_cluster_and_refine (one driver pass) must equal
    cluster_records + split_violating_clusters on the same input —
    twin merges, null periods, dup twins sharing base_rid, and
    edge-less records all represented. The xxhash64 variant uses the
    pipeline's real id range (negative, above 2^53), where any float64
    round trip of a record or cluster id would change the output."""
    from pseudopeople_spark.linkage.clustering import cluster_records

    rid = (lambda i: i) if ids == "small" else (lambda i: _signed64(i * 0x9E3779B97F4A7C15))
    meta = _meta(
        spark,
        [
            (rid(i), ds, per, rid(b))
            for i, ds, per, b in [
                # entity A (census/w2/ssa) + entity B bridged via ssa edge
                (1, "census", "2020", 1), (2, "w2", "2020", 2), (3, "ssa", None, 3),
                (4, "census", "2020", 4), (5, "w2", "2020", 5),
                # dup twin: same base_rid in one slot -> exempt, stays merged
                (6, "census", "2020", 6), (7, "census", "2020", 6),
                # null-period pair in one dataset -> treated as one slot
                (8, "ssa", None, 8), (9, "ssa", None, 9),
                # edge-less records keep their own id
                (10, "w2", "2030", 10), (11, "census", "2020", 11), (12, "ssa", None, 12),
            ]
        ],
    )
    edges = _edges(
        spark,
        [
            (rid(a), rid(b), s)
            for a, b, s in [
                (1, 2, 0.99), (2, 3, 0.97), (3, 4, 0.93), (4, 5, 0.99),
                (6, 7, 0.96),
                (8, 9, 0.95),
            ]
        ],
    )
    fused = sorted(refine.local_cluster_and_refine(edges.toPandas(), meta).collect())
    asg = cluster_records(edges, meta)
    dist = sorted(refine.split_violating_clusters(asg, edges, meta).collect())
    assert fused == dist
    by = dict((r["record_id"], r["cluster_id"]) for r in fused)
    assert len(by) == 12
    assert by[rid(1)] == by[rid(2)] == by[rid(3)] and by[rid(4)] == by[rid(5)]
    assert by[rid(1)] != by[rid(4)]
    assert by[rid(6)] == by[rid(7)]          # dup twin exempt from the split
    assert by[rid(8)] != by[rid(9)]          # null periods compare equal -> split
    for i in (10, 11, 12):
        assert by[rid(i)] == rid(i)          # edge-less records keep their own id
    # every label is one of the records' own ids (min of its cluster)
    assert set(by.values()) <= set(by)


def test_local_fused_path_without_edges(spark):
    """No match edges at all: every record is its own cluster."""
    meta = _meta(spark, [(1, "census", "2020", 1), (-(2**62) - 1, "w2", "2020", 2)])
    edges = _edges(spark, [])
    out = sorted(refine.local_cluster_and_refine(edges.toPandas(), meta).collect())
    assert [(r["record_id"], r["cluster_id"]) for r in out] == [(-(2**62) - 1, -(2**62) - 1), (1, 1)]


def test_resolve_end_to_end_has_no_violations(spark):
    """After resolve() (which always refines), NO cluster may hold two
    base_rids in one (dataset, period) slot."""
    from pseudopeople_spark import config, datasets as D, noise, synth
    from pseudopeople_spark.linkage.pipeline import ResolveConfig, normalize_records, resolve

    pop = synth.simulants(spark, 1200, seed=42)
    cfg = config.get_config()
    census = noise.noise_dataset(synth.census_records(pop, 2020), D.DECENNIAL_CENSUS, cfg, seed=7)
    w2 = noise.noise_dataset(synth.w2_records(pop, 2020), D.TAXES_W2_AND_1099, cfg, seed=8)
    nc = normalize_records(census, "census", "MM/dd/yyyy", ref_year=2020)
    nw = normalize_records(
        w2, "w2", "MM/dd/yyyy",
        column_map={"zipcode": "mailing_address_zipcode", "city": "mailing_address_city",
                    "state": "mailing_address_state"},
        ref_year=2020,
    )
    records = nc.unionByName(nw)
    res = resolve(spark, records, ResolveConfig())
    asg_rid = (
        res["assignments"].withColumnRenamed("record_id", "orig")
        .join(res["id_mapping"].withColumnRenamed("record_id", "orig"), "orig")
        .select(F.col("rid").alias("record_id"), "cluster_id")
    )
    meta = res["records"].select("record_id", "dataset", "period", "base_rid")
    bad = refine.find_violating_clusters(asg_rid, meta)
    assert bad.count() == 0
