"""Multi-pass blocking — the recall stage of the ER pipeline.

Each pass maps records to ``(block_key: string, record_id)``; candidate
pairs are generated *within* block keys only (north_rule: "labeled
pairs at the same blocking key"). Passes are complementary — a pair
missed by one key (typo'd surname breaks soundex) is caught by another
(MinHash over n-grams, or SSN exact):

  1. phonetic: soundex(last_name) built-in + double-metaphone primary,
     each salted with the DOB year band;
  2. exact identifier: SSN digits (when present);
  3. sorted neighborhood: window ``lead(record_id, k)`` over a global
     sort on (last_name, first_name, dob) — catches first-character
     corruption that breaks phonetic keys;
  4. MinHash-LSH: b bands × r rows of xxhash64 MinHash over padded name
     3-gram shingles — catches heavy multi-token corruption.

Skew handling (north_rule "partitioning/shuffle/skew handled
explicitly"): block-size histogram → blocks above ``pairs.MAX_BLOCK_SIZE``
are NOT exploded quadratically; they fall back to a sorted-neighborhood
sweep *inside* the block (linear in block size), so one Zipf-head
surname cannot produce a straggler task. All passes are pure DataFrame
ops; the only Python is the metaphone pandas UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pseudopeople_spark.functions.similarity import double_metaphone_udf, ngrams_padded

BLOCK_SCHEMA = ["block_key", "record_id"]

# Followers each record pairs with in the sorted-neighborhood pass.
SNB_WINDOW = 3
# MinHash-LSH banding of the name 3-grams: bands x rows per band.
MINHASH_BANDS = 4
MINHASH_ROWS = 2


def sorted_neighborhood_pairs(
    df: DataFrame,
    sort_cols: "list[str]",
    id_col: str = "record_id",
    window_size: int = SNB_WINDOW,
    partition_expr: Column | None = None,
) -> DataFrame:
    """Sorted-neighborhood blocking: sort by a composite key, pair each
    record with its next ``window_size`` neighbors via ``lead()``
    (SURVEY.md §2.E "window functions" — absent in the reference, core
    for us).

    At cluster scale a single global sort is one range-partitioned
    shuffle; we additionally partition the window by the first character
    of the sort key (``partition_expr``) so the window itself never
    funnels through one task. Returns (id_l, id_r, block_key)."""
    key = F.concat_ws("\x01", *[F.coalesce(F.col(c), F.lit("")) for c in sort_cols])
    base = df.select(F.col(id_col), key.alias("_snk"))
    # window partitioned by a 2-char sort-key prefix: a 1-char prefix
    # gives ~26 Zipf-skewed partitions whose head serializes the stage
    # (Amdahl) at high parallelism; 2 chars -> ~500 partitions. Pairs
    # that straddle a prefix boundary are the standard windowed-SNB
    # loss, covered by the phonetic/MinHash passes.
    part = partition_expr if partition_expr is not None else F.substring(F.col("_snk"), 1, 2)
    w = Window.partitionBy(part).orderBy(F.col("_snk"), F.col(id_col))
    # all lead(k) neighbors in ONE window pass — a per-k union would
    # re-exchange and re-sort the whole table window_size times
    leads = base.select(
        F.col(id_col).alias("id_l"),
        F.array(*[F.lead(F.col(id_col), k).over(w) for k in range(1, window_size + 1)]).alias("_nbrs"),
    )
    pairs = leads.select("id_l", F.explode("_nbrs").alias("id_r")).where(F.col("id_r").isNotNull())
    return pairs.select(
        F.least("id_l", "id_r").alias("id_l"),
        F.greatest("id_l", "id_r").alias("id_r"),
        F.lit("snb").alias("block_key"),
    )


def snb_partition_histogram(
    df: DataFrame, sort_cols: "list[str]", prefix_len: int = 2
) -> "dict":
    """Skew evidence for the sorted-neighborhood window: sizes of the
    2-char-prefix partitions :func:`sorted_neighborhood_pairs` windows
    over. The Zipf head of surnames (SMITH…) makes the largest prefix
    partition unbounded in ABSOLUTE size as data grows — this histogram
    (max / p99 / share-of-max) belongs in every at-scale bench so the
    cutover to a longer prefix (26x more partitions per extra char, the
    same standard boundary-loss) is data-driven, not guessed."""
    key = F.concat_ws("\x01", *[F.coalesce(F.col(c), F.lit("")) for c in sort_cols])
    sizes = (
        df.select(F.substring(key, 1, prefix_len).alias("_p"))
        .groupBy("_p").agg(F.count("*").alias("n"))
    )
    row = sizes.agg(
        F.count("*").alias("n_partitions"),
        F.sum("n").alias("rows"),
        F.max("n").alias("max"),
        F.expr("percentile_approx(n, 0.99)").alias("p99"),
    ).first()
    return {
        "n_partitions": int(row["n_partitions"]),
        "rows": int(row["rows"]),
        "max": int(row["max"]),
        "p99": int(row["p99"]),
        "max_share": round(row["max"] / row["rows"], 5) if row["rows"] else 0.0,
    }


def minhash_blocks(
    df: DataFrame,
    text_expr: Column,
    id_col: str = "record_id",
    bands: int = 4,
    rows_per_band: int = 2,
    seed: int = 1337,
) -> DataFrame:
    """MinHash-LSH banding over character 3-gram shingles, implemented
    directly with built-ins (explicit variant of Spark ML's MinHashLSH —
    SURVEY.md §7.2): per hash function h_i, signature_i = min over
    shingles of xxhash64(shingle, i); band key = concat of r signatures.
    Pure JVM expressions: shingles via sequence/transform, min via
    array_min of transform — no UDF, no explode, no extra shuffle."""
    base = df.where(text_expr.isNotNull() & (F.length(text_expr) > 0))
    sig_table = _minhash_sig_table(base, text_expr, id_col, bands * rows_per_band, seed)
    keyed = sig_table.select(
        "record_id",
        *[
            F.concat(
                F.lit(f"mh{b}:"),
                F.concat_ws(
                    "_",
                    *[_sig_str(F.col(f"c{b * rows_per_band + r}")) for r in range(rows_per_band)],
                ),
            ).alias(f"mh{b}")
            for b in range(bands)
        ],
    )
    stack = f"stack({bands}, " + ", ".join(f"mh{b}" for b in range(bands)) + ") AS block_key"
    return keyed.selectExpr("record_id", stack).select("block_key", "record_id")


def _minhash_sig_table(
    df: DataFrame, text_expr: Column, id_col: str, n_hashes: int, seed: int
) -> DataFrame:
    """(record_id, c0..c{n-1}) MinHash signature table via explode +
    hash-aggregate — the formulation that stays inside whole-stage
    codegen. Per-row array folds (``aggregate``/``transform`` +
    ``array_min``) are CodegenFallback: every shingle×hash evaluation
    runs interpreted, measured ~90 s for 745k names × 8 hashes, and the
    cost is per-task-serial so the stage barely scales. Exploding the
    shingles and taking ``min(xxhash64(seed_i, s))`` per record runs
    codegen'd (~20x faster) and the map-side partial aggregate shrinks
    the shuffle back to one row per record before it moves."""
    shingles = F.explode(ngrams_padded(text_expr, 3)).alias("_sh")
    exploded = df.select(F.col(id_col).alias("record_id"), shingles)
    aggs = [
        F.min(F.xxhash64(F.lit(seed + i), F.col("_sh"))).alias(f"c{i}") for i in range(n_hashes)
    ]
    return exploded.groupBy("record_id").agg(*aggs)


def _sig_str(sig: Column) -> Column:
    # pmod (not abs): abs(Long.MIN_VALUE) overflows under ANSI
    return F.conv(F.pmod(sig, F.lit(2**62)).cast("string"), 10, 36)


def all_block_keys(
    df: DataFrame,
    id_col: str = "record_id",
    last_col: str = "last_name",
    first_col: str = "first_name",
    dob_col: str = "dob",
    ssn_col: str = "ssn_digits",
) -> DataFrame:
    """All non-MinHash passes in ONE narrow projection + one ``stack``
    unpivot (a single scan and a single metaphone-UDF evaluation); the
    MinHash band keys come from the explode + hash-aggregate signature
    table (:func:`_minhash_sig_table` — the codegen'd formulation) and
    union in. At 10^12 docs the blocking stage is scan-bound, so pass
    count must not multiply scans.

    Emits (block_key, record_id) for: soundex+year, double-metaphone
    primary/secondary+year, SSN exact, and ``MINHASH_BANDS`` MinHash
    band keys."""
    year = F.coalesce(F.substring(F.col(dob_col), 1, 4), F.lit("x"))
    dm = double_metaphone_udf(F.col(last_col))
    name_text = F.concat_ws(
        " ", F.coalesce(F.col(first_col), F.lit("")), F.coalesce(F.col(last_col), F.lit(""))
    )

    key_cols = {
        "sdx": F.when(
            F.col(last_col).isNotNull(),
            F.concat(F.lit("sdx:"), F.soundex(F.upper(F.col(last_col))), F.lit("|"), year),
        ),
        "dmp": F.when(dm["primary"] != "", F.concat(F.lit("dmp:"), dm["primary"], F.lit("|"), year)),
        "dms": F.when(
            dm["secondary"] != dm["primary"],
            F.concat(F.lit("dms:"), dm["secondary"], F.lit("|"), year),
        ),
        "ssn": F.when(F.length(ssn_col) == 9, F.concat(F.lit("ssn:"), F.col(ssn_col))),
        # Recall passes for the two dominant miss modes measured at 300k
        # (tools/diag_blocking_recall.py, round 5; last present in
        # commit b8e0934): 55% of missed true pairs had last_name
        # BLANKED/corrupted on one side with the full DOB intact (every
        # key above needs last_name), and 31% had intact names but a
        # null/noised DOB (the year salt above breaks every phonetic
        # key). Neither mode is exotic — they are the leave_blank +
        # wrong-digits noise channels doing their job.
        "fnd": F.when(
            F.col(first_col).isNotNull() & (F.length(dob_col) == 8),
            F.concat(F.lit("fnd:"), F.soundex(F.upper(F.col(first_col))), F.lit("|"), F.col(dob_col)),
        ),
        "nys": F.when(
            F.col(first_col).isNotNull() & F.col(last_col).isNotNull(),
            F.concat(
                F.lit("nys:"),
                F.soundex(F.upper(F.col(last_col))),
                F.lit("|"),
                F.soundex(F.upper(F.col(first_col))),
            ),
        ),
    }

    # `_sweep` rides along as the oversized-block sweep ordering key
    # (pairs.pairs_from_blocks): the measured 1M miss mode is Zipf-head
    # (surname, year) blocks whose record-id-ordered sweep samples past
    # same-dob pairs — ordering the sweep window by dob makes same-dob
    # records adjacent at the SAME pair budget (round-5 verdict #1).
    keyed = df.select(
        F.col(id_col).alias("record_id"),
        F.coalesce(F.col(dob_col), F.lit("")).alias("_sweep"),
        *[v.alias(k) for k, v in key_cols.items()],
    )
    names = list(key_cols)
    stack_expr = f"stack({len(names)}, " + ", ".join(f"{n}" for n in names) + ") AS block_key"
    out = keyed.selectExpr("record_id", "_sweep", stack_expr).where(F.col("block_key").isNotNull())

    mh_base = df.where(F.length(name_text) > 1).select(
        F.col(id_col).alias("record_id"), name_text.alias("_nm")
    )
    sig_table = _minhash_sig_table(
        mh_base, F.col("_nm"), "record_id", MINHASH_BANDS * MINHASH_ROWS, 1337
    )
    mh_keyed = sig_table.select(
        "record_id",
        *[
            F.concat(
                F.lit(f"mh{b}:"),
                F.concat_ws(
                    "_", *[_sig_str(F.col(f"c{b * MINHASH_ROWS + r}")) for r in range(MINHASH_ROWS)]
                ),
            ).alias(f"mh{b}")
            for b in range(MINHASH_BANDS)
        ],
    )
    mh_stack = f"stack({MINHASH_BANDS}, " + ", ".join(f"mh{b}" for b in range(MINHASH_BANDS)) + ") AS block_key"
    # MinHash bands are hash-uniform (never the Zipf head), so they
    # skip the dob carry: _sweep NULL keeps the shingle-exploded
    # shuffle narrow, and the sweep window's (_sweep, record_id)
    # order degrades to plain record_id order within these blocks
    # (a block's rows all come from one pass - keys are prefixed).
    return out.unionByName(
        mh_keyed.selectExpr("record_id", mh_stack)
        .select("record_id", F.lit(None).cast("string").alias("_sweep"), "block_key")
    )


def block_size_stats(blocks: DataFrame) -> DataFrame:
    """Block-size histogram — the skew diagnostic recorded in stage
    metrics (SURVEY.md §7.3)."""
    sizes = blocks.groupBy("block_key").agg(F.count("*").alias("n"))
    return sizes.groupBy().agg(
        F.count("*").alias("n_blocks"),
        F.max("n").alias("max_block"),
        F.expr("percentile_approx(n, 0.5)").alias("p50"),
        F.expr("percentile_approx(n, 0.99)").alias("p99"),
        F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("candidate_pairs_upper_bound"),
    )
