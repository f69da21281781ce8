"""Candidate-pair generation within blocking keys, skew-aware.

The pair join is the quadratic danger zone of any ER pipeline: a block
of size n yields n(n-1)/2 pairs, and block keys are Zipfian (SMITH…).
Strategy (SURVEY.md §4 "custom Spark work" #1):

* blocks with size <= ``max_block_size``: all within-block pairs
  ``i < j`` — generated WITHOUT a self-join, by exploding each row's
  follower list (``collect_list`` over the block ordered by record id,
  frame = 1 following → unbounded following);
* blocks larger than the cap: a *linear* sorted-neighborhood sweep
  inside the block (same window, frame capped at ``neighborhood_window``
  followers) — bounded pairs per record instead of quadratic, so the
  Zipf head contributes O(n·w) pairs, never a straggler task;
* oversized-block counts are reported, never silently dropped.

Physical plan (the point, at 10^12 docs): the whole stage is ONE
exchange of the block set — hash(block_key) — followed by one sort
(block_key, record_id) shared by the size-count window and both
follower windows (the small/big filters preserve partitioning and
ordering, so the branch windows add no exchange and no sort). The old
shape (groupBy sizes → join back → self-join small × small) shuffled
the same block set three times and paid a sort-merge join besides.

Dedup across passes is a ``dropDuplicates`` on the (id_l, id_r) pair —
one shuffle on the pair key, which also co-locates the pairs for the
scoring stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Blocks up to this size emit all their pairs; larger ones are swept.
MAX_BLOCK_SIZE = 100
# Followers each record of an oversized block pairs with.
NEIGHBORHOOD_WINDOW = 5


def pairs_from_blocks(
    blocks: DataFrame,
    max_block_size: int = MAX_BLOCK_SIZE,
    neighborhood_window: int = NEIGHBORHOOD_WINDOW,
    dedup: bool = True,
) -> DataFrame:
    """blocks: (block_key, record_id) -> distinct (id_l, id_r).

    Pass ``dedup=False`` when the caller unions further pair sources
    and dedups ONCE at the end — two full-width dropDuplicates over the
    candidate set is the single biggest avoidable shuffle in the
    pipeline (42M pairs at the 300k-simulant bench)."""
    # One shared sort order for every window in the stage. The count
    # window declares an explicit full-partition frame so it can carry
    # the record_id ordering (default frame with orderBy would be
    # running-count); the follower windows then match its exchange AND
    # its sort exactly.
    w_cnt = (
        Window.partitionBy("block_key")
        .orderBy("record_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    sized = blocks.withColumn("_bs", F.count("*").over(w_cnt))

    # Small blocks: each row pairs with ALL followers in its block —
    # the follower list is ≤ (max_block_size - 1) entries, so per-row
    # state is bounded; the big branch never evaluates this window
    # (filter BEFORE the window, not a `when` around it: window
    # functions are computed for every row they see, and an unbounded
    # collect_list over a Zipf-head block would be O(n²) memory).
    w_all = (
        Window.partitionBy("block_key")
        .orderBy("record_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    small = sized.where((F.col("_bs") > 1) & (F.col("_bs") <= max_block_size))
    quad = (
        small.select(
            F.col("record_id").alias("id_l"),
            F.collect_list("record_id").over(w_all).alias("_nbrs"),
        )
        .select("id_l", F.explode("_nbrs").alias("id_r"))
    )

    # Oversized blocks: linear sweep — only the next `neighborhood_window`
    # followers. ROUND-6 (verdict #1): when the block set carries a
    # `_sweep` column (blocking.all_block_keys rides the dob along),
    # the sweep window is ordered by (_sweep, record_id) instead of
    # record id — the round-5 1M diagnosis showed Zipf-head (surname,
    # year) blocks outgrowing the cap lose same-last+same-dob pairs
    # with a blanked first name (80% of the misses; recall 0.984@300k
    # -> 0.957@1M) because a record-id-ordered sweep samples past them.
    # Ordering by dob makes same-dob records ADJACENT at the SAME pair
    # budget (still w followers per record, no quadratic growth). The
    # (dob, record_id) composite is a total order, so the candidate
    # set stays partition-invariant. Followers are no longer id-sorted,
    # so the emitted pair is orientation-normalized (least/greatest).
    has_sweep = "_sweep" in blocks.columns
    if has_sweep:
        w_near = (
            Window.partitionBy("block_key")
            .orderBy("_sweep", "record_id")
            .rowsBetween(1, neighborhood_window)
        )
    else:
        w_near = Window.partitionBy("block_key").orderBy("record_id").rowsBetween(1, neighborhood_window)
    big = sized.where(F.col("_bs") > max_block_size)
    sweep = (
        big.select(
            F.col("record_id").alias("id_l"),
            F.collect_list("record_id").over(w_near).alias("_nbrs"),
        )
        .select("id_l", F.explode("_nbrs").alias("id_r"))
    )
    if has_sweep:
        sweep = sweep.select(
            F.least("id_l", "id_r").alias("id_l"), F.greatest("id_l", "id_r").alias("id_r")
        )

    out = quad.unionByName(sweep)
    return out.dropDuplicates(["id_l", "id_r"]) if dedup else out
