"""Transitive clustering: iterative large-star / small-star connected
components (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14) as a driver-controlled DataFrame loop.

Why this algorithm: it converges in O(log^2 n) rounds on any graph,
every round is two groupBy-aggregations — no vertex-program framework,
no GraphFrames dependency, and it is the shape that survives 10^12
nodes (each round's shuffle is on node id, uniformly distributed by
construction since node ids are xxhash64 of record ids).

Driver responsibilities (SURVEY.md §4 #2):
  * ``localCheckpoint()`` every round to truncate lineage — naive loops
    OOM the driver with exponentially growing plans;
  * convergence = edge-set fingerprint (count + sum of pair hashes)
    unchanged — one lightweight action per round, no expensive
    ``exceptAll``.

Node ids are the pipeline's int64 record ids (pipeline._assign_int_ids:
xxhash64 surrogates verified unique; the id->record mapping is kept and
re-joined at the end).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor larger than u to u's minimum neighbor
    (including u itself)."""
    und = edges.select("u", "v").union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = und.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("mn", "u").alias("m"))
    return (
        und.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges high->low, connect all small neighbors (and u) to
    the minimum."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = oriented.join(mins, "u").where(F.col("v") != F.col("m")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    selfe = mins.select(F.col("u"), F.col("m").alias("v"))
    return nbrs.union(selfe).distinct()


def _fingerprint(edges: DataFrame) -> "tuple[int, int]":
    row = edges.agg(
        F.count("*").alias("n"),
        # sum in unbounded decimal: int64 sums overflow under ANSI mode
        F.coalesce(F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def min_label_components(u, v):
    """Connected components of the int64 edge arrays ``u``/``v`` ->
    (ids, labels): the sorted distinct endpoint ids and, per id, its
    component's MIN id — the label the star-rounds, the DuckDB oracle
    and refine._rebuild all converge to.

    Vectorized min-label propagation with pointer jumping: a scalar
    union-find loop in Python costs ~8 s/1M edges of pure driver time
    (a FIXED, parallelism-independent cost that caps scaling
    efficiency); this converges in O(log diameter) vectorized passes,
    well under 1 s at the 2M-edge cap."""
    import numpy as np

    ids = np.unique(np.concatenate([u, v]))
    iu = np.searchsorted(ids, u)
    iv = np.searchsorted(ids, v)
    parent = np.arange(len(ids), dtype="int64")
    while True:
        m = np.minimum(parent[iu], parent[iv])
        nxt = parent.copy()
        np.minimum.at(nxt, iu, m)
        np.minimum.at(nxt, iv, m)
        nxt = nxt[nxt]  # pointer jumping halves chain depth per pass
        if np.array_equal(nxt, parent):
            break
        parent = nxt
    return ids, ids[parent]


def _local_union_find(edges: DataFrame) -> DataFrame:
    """Finish a SMALL edge set with a driver-local union-find.

    Why: each distributed star-round costs 2 shuffles + a checkpoint +
    a fingerprint action of FIXED latency; once the active edge set
    fits comfortably on the driver (cap below — ~16 bytes/edge, tens of
    MB), one local pass (:func:`min_label_components`) replaces the
    remaining O(log n) rounds and their non-scaling per-round latency.
    This is the same small-graph cutover GraphFrames applies in its CC
    implementation. At 10^12 nodes the star-edge set never shrinks
    below the node count, the cap never triggers, and the loop stays
    fully distributed.
    """
    import pandas as pd

    pdf = edges.select("u", "v").toPandas()  # Arrow batch transfer
    spark = edges.sparkSession
    if len(pdf) == 0:
        return spark.createDataFrame([], schema="u long, v long")
    ids, labels = min_label_components(
        pdf["u"].to_numpy(dtype="int64"), pdf["v"].to_numpy(dtype="int64")
    )
    nonroot = labels != ids
    out = pd.DataFrame({"u": ids[nonroot], "v": labels[nonroot]})
    if len(out) == 0:
        return spark.createDataFrame([], schema="u long, v long")
    return spark.createDataFrame(out)


# Edge-count cap for the driver-local CC finish: 2M edges x ~16 B is
# ~32 MB on the driver — trivially safe, and far below any real match-
# edge set at cluster scale (where the cap simply never triggers).
LOCAL_FINISH_MAX_EDGES = 2_000_000


# Upper bound on driver round trips (two star-rounds each); the loop
# converges in O(log^2 n) rounds, far below it at any real scale.
MAX_ITERATIONS = 25


def connected_components(edges: DataFrame) -> DataFrame:
    """edges: (u:int64, v:int64) -> assignments (u:int64, component:int64).

    Alternates large-star / small-star until the edge set is a fixed
    point (a forest of depth-1 stars pointing at component minima).
    When the active edge set drops under ``LOCAL_FINISH_MAX_EDGES`` (read
    at call time) the remaining rounds are replaced by one driver-local
    union-find pass (see :func:`_local_union_find`)."""
    e = edges.select("u", "v").where(F.col("u") != F.col("v")).distinct().localCheckpoint()
    # size the iteration loop's partitioning by DATA, not core count:
    # ~250k edges per partition keeps tasks meaningful while bounding
    # the per-round task-launch overhead that otherwise dominates the
    # O(log n) loop (and makes wall time depend on executor count)
    n_edges = e.count()
    if n_edges <= LOCAL_FINISH_MAX_EDGES:
        e = _local_union_find(e)
        assign = e.select(F.col("u"), F.col("v").alias("component"))
        roots = e.select(F.col("v").alias("u"), F.col("v").alias("component")).distinct()
        # no groupBy: union-find output maps each non-root node to its
        # root exactly once and roots are disjoint from non-roots, so
        # the union is already unique on u — a min-aggregate here would
        # be one more full shuffle of the assignment set for nothing
        return assign.union(roots)
    parts = max(1, min(256, n_edges // 250_000 + 1))
    if e.rdd.getNumPartitions() != parts:
        e = e.repartition(parts).localCheckpoint()
    import concurrent.futures

    # The loop only runs above the local-finish cap, where rounds are
    # expensive: the fingerprint of the PREVIOUS round runs concurrently
    # with the next round's materialization (one serial action per round
    # instead of two), at the price of one wasted round after
    # convergence.
    prev_fp = None
    with concurrent.futures.ThreadPoolExecutor(max_workers=1) as pool:
        for i in range(MAX_ITERATIONS):
            # two star-rounds per driver round-trip: halves the number
            # of checkpoint+fingerprint jobs (extra converged rounds are
            # idempotent)
            nxt = _small_star(_large_star(e))
            nxt = _small_star(_large_star(nxt))
            fp_future = pool.submit(_fingerprint, e) if i > 0 else None
            nxt = nxt.localCheckpoint()
            fp = fp_future.result() if fp_future is not None else None
            if fp is not None and fp == prev_fp:
                break
            prev_fp = fp
            e = nxt
            # star-rounds preserve connectivity, so once the active
            # edge set is small a local union-find finish is exact
            if fp is not None and fp[0] <= LOCAL_FINISH_MAX_EDGES:
                e = _local_union_find(e)
                break
    # star edges now point node -> component min; include roots themselves
    assign = e.select(F.col("u"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("u"), F.col("v").alias("component")).distinct()
    return assign.union(roots).groupBy("u").agg(F.min("component").alias("component"))


def cluster_records(
    edges_by_record: DataFrame,
    all_records: DataFrame,
    id_col: str = "record_id",
) -> DataFrame:
    """(id_l, id_r) int64 match edges -> (record_id, cluster_id)
    covering ALL records (singletons keep their own id as cluster id).

    Record ids are the pipeline's int64 rids, unique by construction
    (_assign_int_ids VERIFIED it on the materialized data), so they are
    the graph node ids directly: no defensive ``distinct`` over the
    record set and no second hash, whose unverified collisions would
    silently merge two records."""
    ids = all_records.select(F.col(id_col).alias("record_id")).withColumn("u", F.col("record_id"))
    edges = edges_by_record.select(F.col("id_l").alias("u"), F.col("id_r").alias("v"))
    comp = connected_components(edges)
    return (
        ids.join(comp, "u", "left")
        .select("record_id", F.coalesce("component", F.col("u")).alias("cluster_id"))
    )
