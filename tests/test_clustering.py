"""Connected-components tests: known graphs, convergence, scale shape."""

from pyspark.sql import functions as F

from pseudopeople_spark.linkage import clustering
from pseudopeople_spark.linkage.clustering import cluster_records, connected_components


def _cc(spark, edges):
    df = spark.createDataFrame(edges, ["u", "v"])
    rows = connected_components(df).collect()
    comp = {r["u"]: r["component"] for r in rows}
    return comp


def _groups(comp):
    inv = {}
    for node, c in comp.items():
        inv.setdefault(c, set()).add(node)
    return {frozenset(g | {c}) for c, g in inv.items()}


def test_cc_path_graph(spark):
    comp = _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert len({comp.get(i, i) for i in range(1, 6)}) == 1


def test_cc_two_components_and_star(spark):
    comp = _cc(spark, [(10, 11), (11, 12), (20, 21), (30, 21)])
    cluster_a = {comp.get(n, n) for n in (10, 11, 12)}
    cluster_b = {comp.get(n, n) for n in (20, 21, 30)}
    assert len(cluster_a) == 1 and len(cluster_b) == 1
    assert cluster_a != cluster_b


def test_cc_large_random_union(spark):
    # 1000 chains of length 4 -> exactly 1000 components of size 4
    edges = []
    for g in range(1000):
        b = g * 10
        edges += [(b, b + 1), (b + 1, b + 2), (b + 2, b + 3)]
    df = spark.createDataFrame(edges, ["u", "v"])
    comp = connected_components(df)
    sizes = comp.groupBy("component").count()
    assert sizes.count() == 1000
    assert sizes.where(F.col("count") != 4).count() == 0


def test_cluster_records_covers_singletons(spark):
    recs = spark.createDataFrame([(1,), (2,), (3,), (4,)], "record_id long")
    edges = spark.createDataFrame([(1, 2)], "id_l long, id_r long")
    out = cluster_records(edges, recs)
    rows = {r["record_id"]: r["cluster_id"] for r in out.collect()}
    assert rows == {1: 1, 2: 1, 3: 3, 4: 4}


def test_local_finish_matches_distributed(spark, monkeypatch):
    """The capped driver-local union-find finish must produce EXACTLY
    the distributed fixed point (same min-id component labels) on a
    graph with chains, stars, merges, and singletons-in-edges."""
    edges = []
    for g in range(200):
        b = g * 100
        edges += [(b, b + 1), (b + 1, b + 2), (b + 2, b + 3)]
        edges += [(b + 3, b + 50), (b + 50, b + 1)]  # cycle back
    edges += [(5, 105), (205, 305)]  # cross-chain merges
    df = spark.createDataFrame(edges, ["u", "v"])
    local = connected_components(df).collect()  # cap >> edge count -> local path
    monkeypatch.setattr(clustering, "LOCAL_FINISH_MAX_EDGES", 0)  # forced distributed
    dist = connected_components(df).collect()
    assert {(r["u"], r["component"]) for r in local} == {(r["u"], r["component"]) for r in dist}


def test_mid_loop_local_cutover_matches(spark, monkeypatch):
    """Cutover AFTER some distributed rounds (cap between initial and
    converged edge count) is exact too: star-rounds preserve
    connectivity so union-find on an intermediate edge set gives the
    same components."""
    # 100 chains of 30 with redundant (i, i+2) shortcuts: 5700 initial
    # edges converging to 2900 star edges — a cap of 4000 is crossed
    # only after at least one distributed round
    edges = [(i, i + 1) for i in range(3000) if (i + 1) % 30 != 0]
    edges += [(i, i + 2) for i in range(3000) if (i % 30) < 28]
    df = spark.createDataFrame(edges, ["u", "v"])
    monkeypatch.setattr(clustering, "LOCAL_FINISH_MAX_EDGES", 0)
    want = connected_components(df).collect()
    monkeypatch.setattr(clustering, "LOCAL_FINISH_MAX_EDGES", 4000)
    got = connected_components(df).collect()
    assert {(r["u"], r["component"]) for r in got} == {(r["u"], r["component"]) for r in want}
