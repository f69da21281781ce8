"""Pairwise scoring — batched field similarities over candidate pairs.

One join brings both records' normalized fields onto the pair row
(two hash joins on record_id, the same key the dedup shuffle already
partitioned by), then a single projection computes the per-field
similarity vector:

  * name fields: Jaro-Winkler (Arrow pandas UDF, DuckDB-compatible
    semantics) — the only Python in the stage, batched per Arrow chunk;
  * DOB: built-in levenshtein on the normalized yyyyMMdd string,
    converted to a [0,1] similarity;
  * SSN: exact/edit-distance on digits (built-in);
  * zipcode/city/state/sex: exact-match indicators (built-in).

The combiner is a weighted linear score with null-aware renormalization
(missing fields redistribute their weight), thresholded into match
edges. Everything except the JW UDF is whole-stage-codegen'd.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pseudopeople_spark.functions.similarity import jaro_winkler_udf


@dataclass(frozen=True)
class FieldSpec:
    name: str
    kind: str  # 'jw' | 'lev' | 'exact'
    weight: float


DEFAULT_FIELDS: "tuple[FieldSpec, ...]" = (
    FieldSpec("first_name", "jw", 1.2),
    FieldSpec("middle", "exact", 0.4),
    FieldSpec("last_name", "jw", 1.6),
    FieldSpec("dob", "dob", 2.2),
    FieldSpec("ssn_digits", "lev", 3.0),
    FieldSpec("zipcode", "exact", 0.6),
    FieldSpec("city", "exact", 0.4),
    FieldSpec("sex", "exact", 0.3),
)


def attach_pair_fields(
    pairs: DataFrame,
    records: DataFrame,
    fields: "list[str]",
    id_col: str = "record_id",
    broadcast_records: bool = False,
) -> DataFrame:
    """(id_l, id_r) × records -> one row per pair with l_*/r_* fields.

    ``broadcast_records`` hash-broadcasts the two record projections
    instead of sort-merge joining. Measured A/B on 26.5M pairs × 745k
    records at 8 pinned cores (tools/ab_scoring_broadcast.py): broadcast
    186s vs sort-merge 116s — broadcast LOSES here because the id_l
    join already rides the pair-dedup's HashPartitioning(id_l) exchange
    (see resolve()._pairs), so broadcasting saves only the id_r
    exchange while paying two ~200MB single-threaded hash-relation
    builds per query plus GC pressure. Kept as an option for genuinely
    small record tables joined against un-pre-partitioned pair sets."""
    l = records.select(F.col(id_col).alias("id_l"), *[F.col(c).alias(f"l_{c}") for c in fields])
    r = records.select(F.col(id_col).alias("id_r"), *[F.col(c).alias(f"r_{c}") for c in fields])
    if broadcast_records:
        l, r = F.broadcast(l), F.broadcast(r)
    return pairs.join(l, "id_l").join(r, "id_r")


def _py_gated(udf, a: Column, b: Column) -> Column:
    """Arrow-UDF similarity with the decided rows SHORT-CIRCUITED on
    the JVM side. Spark evaluates pandas UDFs in a separate
    ArrowEvalPython pass for EVERY row regardless of any enclosing CASE
    branch, so `when(equal, 1.0).otherwise(udf(a, b))` still ships all
    the string bytes to Python. Instead the UDF inputs themselves are
    nulled for rows the JVM already decides (either side null, or
    upper-equal — the dominant case in blocked candidate pairs, since
    blocking keys select for name agreement): the Arrow batch then
    carries a validity bitmap instead of string payloads for those rows
    and the Python loop hits its first `is None` branch. Measured on
    the 300k-simulant bench this removes the string traffic for the
    ~60% equal-name pairs. Value semantics are identical: the UDFs'
    own equal-string fast path returns 1.0 (or 0.0 for '') which is
    reproduced here as a JVM expression.

    ``PP_SCORING_JVM_GATE=0`` disables the gate (plain null-guarded UDF
    over the upper-cased columns) — the switch exists so the two plan
    shapes can be A/B-measured on identical inputs
    (tools/ab_scoring_gate.py)."""
    import os

    if os.environ.get("PP_SCORING_JVM_GATE", "1") == "0":
        return F.when(
            a.isNull() | b.isNull(), F.lit(None).cast("double")
        ).otherwise(udf(F.upper(a), F.upper(b)))
    ua, ub = F.upper(a), F.upper(b)
    need = a.isNotNull() & b.isNotNull() & (ua != ub)
    s_py = udf(F.when(need, ua), F.when(need, ub))
    return (
        F.when(a.isNull() | b.isNull(), F.lit(None).cast("double"))
        .when(ua == ub, F.when(F.length(ua) > 0, F.lit(1.0)).otherwise(F.lit(0.0)))
        .otherwise(s_py)
    )


def _sim(spec: FieldSpec) -> Column:
    a, b = F.col(f"l_{spec.name}"), F.col(f"r_{spec.name}")
    if spec.kind == "jw":
        return _py_gated(jaro_winkler_udf, a, b)
    elif spec.kind == "dob":
        return dob_similarity(a, b)
    elif spec.kind == "lev":
        max_len = F.greatest(F.length(a), F.length(b))
        # explicit both-empty -> null (ANSI-safe: x/0 raises under
        # spark.sql.ansi.enabled, the Spark 4 default)
        s = F.when(max_len > 0, F.lit(1.0) - F.levenshtein(a, b).cast("double") / max_len)
    else:
        s = F.when(a == b, 1.0).otherwise(0.0)
    return F.when(a.isNull() | b.isNull(), None).otherwise(s)


_FAMILIES: "dict[str, frozenset] | None" = None


def _nickname_families() -> "dict[str, frozenset]":
    """name -> union of all nickname families containing it, built from
    the full asset table. The table is a GRAPH (JUDITH <-> JUDY are each
    other's nicknames; LISA is in both the ALICE and ELIZABETH
    families), so membership is a set relation, not a canonical map."""
    global _FAMILIES
    if _FAMILIES is None:
        from pseudopeople_spark.operators.assets import NICKNAMES

        fam: "dict[str, set]" = {}
        for canon, nicks in NICKNAMES.items():
            members = {canon.upper()} | {n.upper() for n in nicks}
            for name in members:
                fam.setdefault(name, set()).update(members)
        _FAMILIES = {k: frozenset(v) for k, v in fam.items()}
    return _FAMILIES


def score_pairs(pairs_with_fields: DataFrame, fields: "tuple[FieldSpec, ...]" = DEFAULT_FIELDS) -> DataFrame:
    """Add sim_<field> columns and a null-renormalized weighted score.

    Dispatches between two value-identical physical strategies
    (``PP_SCORING_IMPL``: ``arrow`` | ``udf``):

    * ``arrow`` (default): ONE ``mapInArrow`` pass computes every
      similarity and the score per Arrow batch — no ``EvalPythonExec``
      row queue. The scalar-pandas-UDF plan buffers EVERY input row
      through a JVM-side HybridRowQueue (UnsafeRow.copy per row, see
      EvalPythonExec.doExecute) to rejoin UDF outputs positionally; on
      a ~20-column pair frame that queue traffic plus the giant
      codegen'd sims+score projection dominates the stage and is pure
      per-row JVM overhead that grows with row width. mapInArrow
      streams whole columnar batches both ways instead — the JVM side
      is reduced to the parquet scan and Arrow conversion.
    * ``udf``: the previous shape — JVM codegen for the cheap sims +
      two scalar pandas UDFs for the name fields. Kept for A/B
      (tools/ab_scoring_gate.py) and as the fallback.

    Both paths share the same python kernels (similarity.jaro_winkler,
    make_pair_sim, process-persistent memos), so outputs are
    bit-identical (asserted by tests/test_scoring_impls.py)."""
    import os

    if os.environ.get("PP_SCORING_IMPL", "arrow") == "arrow":
        return score_pairs_arrow(pairs_with_fields, fields)
    return score_pairs_udf(pairs_with_fields, fields)


def score_pairs_udf(pairs_with_fields: DataFrame, fields: "tuple[FieldSpec, ...]" = DEFAULT_FIELDS) -> DataFrame:
    """Scalar-pandas-UDF scoring plan (see score_pairs docstring).
    The first-name similarity is nickname-family aware (the inverse of
    the use_nickname noise channel) via a memoized Arrow UDF
    (similarity.make_first_name_sim_udf)."""
    from pseudopeople_spark.functions.similarity import make_first_name_sim_udf

    df = pairs_with_fields
    first_sim_udf = make_first_name_sim_udf(_nickname_families())
    num: Column = F.lit(0.0)
    den: Column = F.lit(0.0)
    for spec in fields:
        sim_col = f"sim_{spec.name}"
        if spec.name == "first_name":
            # same JVM short-circuit as the plain JW fields: the family
            # UDF's equal-string fast path is 1.0 / 0.0-for-empty too
            sim = _py_gated(first_sim_udf, F.col("l_first_name"), F.col("r_first_name"))
        else:
            sim = _sim(spec)
        df = df.withColumn(sim_col, sim)
        present = F.col(sim_col).isNotNull()
        num = num + F.when(present, F.col(sim_col) * spec.weight).otherwise(0.0)
        den = den + F.when(present, F.lit(spec.weight)).otherwise(0.0)
    return df.withColumn("score", F.when(den > 0, num / den).otherwise(F.lit(0.0)))


def score_pairs_arrow(
    pairs_with_fields: DataFrame, fields: "tuple[FieldSpec, ...]" = DEFAULT_FIELDS
) -> DataFrame:
    """Single-pass mapInArrow scorer (see score_pairs docstring for the
    rationale vs the UDF plan). Per batch: pyarrow.compute handles the
    null-propagating equality sims C-side; python touches ONLY the rows
    a JVM/C kernel can't decide (non-equal name pairs -> memoized
    jaro-winkler / nickname-family sim; non-equal dob/ssn -> bounded
    levenshtein), gathered with pc.take so the equal majority is never
    materialized as python objects. Output batches append the sim/score
    columns to the input columns unchanged."""
    from pyspark.sql import types as T

    in_schema = pairs_with_fields.schema
    out_schema = T.StructType(
        list(in_schema.fields)
        + [T.StructField(f"sim_{s.name}", T.DoubleType()) for s in fields]
        + [T.StructField("score", T.DoubleType())]
    )
    in_names = [f.name for f in in_schema.fields]
    specs = [(s.name, s.kind, s.weight) for s in fields]
    families = _nickname_families()

    def _score_batches(batches):
        compute = _make_sim_engine(families, specs)
        for rb in batches:
            col = {name: rb.column(i) for i, name in enumerate(in_names)}
            add_arrays, add_names = compute(col, rb.num_rows)
            yield _pa_batch(list(rb.columns) + add_arrays, list(in_names) + add_names)

    return pairs_with_fields.mapInArrow(_score_batches, out_schema)


def _pa_batch(arrays, names):
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(arrays, names=names)


def _make_sim_engine(families, specs):
    """Worker-side factory shared by score_pairs_arrow and
    score_pairs_fused: returns ``compute(col, n) -> (arrays, names)``
    where ``col`` maps l_*/r_* field names to pyarrow Arrays and the
    result appends sim_<field> columns plus the null-renormalized
    weighted score."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from pseudopeople_spark.functions import similarity as S

    pair_sim = S.make_pair_sim(families)
    fam_token = S.family_cache_token(families)


    def _batch_lev_ratio(out, a, b, idx):
        """Vectorized Wagner-Fischer over the subset rows at idx:
        out[idx] = 1 - lev/max(len) (max(len)==0 -> nan). One numpy
        DP over (k, maxlen) byte matrices instead of k python DPs —
        the dob/ssn fallback pairs are ~90% distinct (dates and SSNs
        are high-cardinality), so per-pair memoization cannot help
        and per-pair python DP at ~30us each dominated the batch.
        ASCII-only fast path (dob/ssn are digit strings); non-ascii
        rows fall back to the python kernel."""
        if idx.size == 0:
            return idx[:0]
        sub_a = pc.take(a, pa.array(idx))
        sub_b = pc.take(b, pa.array(idx))
        ok = pc.and_(pc.string_is_ascii(sub_a), pc.string_is_ascii(sub_b))
        if not pc.min(ok).as_py():
            keep = pc.fill_null(ok, False).to_numpy(zero_copy_only=False)
            slow = idx[~keep]
            idx = idx[keep]
            if idx.size == 0:
                return slow
            sub_a = pc.take(a, pa.array(idx))
            sub_b = pc.take(b, pa.array(idx))
        else:
            slow = idx[:0]

        def _padmat(arr):
            arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
            odt = np.int64 if pa.types.is_large_string(arr.type) else np.int32
            off = np.frombuffer(arr.buffers()[1], dtype=odt)[
                arr.offset : arr.offset + len(arr) + 1
            ]
            buf = arr.buffers()[2]
            data = (
                np.frombuffer(buf, dtype=np.uint8)
                if buf is not None
                else np.zeros(0, dtype=np.uint8)
            )
            lens = (off[1:] - off[:-1]).astype(np.int64)
            width = int(lens.max()) if len(lens) else 0
            mat = np.zeros((len(arr), width), dtype=np.uint8)
            if width:
                pos = np.arange(width)[None, :]
                m = pos < lens[:, None]
                mat[m] = data[(off[:-1, None] + pos)[m]]
            return mat, lens

        ma, la = _padmat(sub_a)
        mb, lb = _padmat(sub_b)
        k = len(la)
        wa, wb = ma.shape[1], mb.shape[1]
        # dp over j=0..wb for each prefix length i of a; capture the
        # row-appropriate cell (la, lb) as i passes each row's la
        dp = np.tile(np.arange(wb + 1, dtype=np.int32), (k, 1))
        res = dp[np.arange(k), lb]  # i == 0 rows (la == 0)
        for i in range(1, wa + 1):
            prev = dp
            dp = np.empty_like(prev)
            dp[:, 0] = i
            ca = ma[:, i - 1][:, None]
            sub = prev[:, :-1] + (ca != mb).astype(np.int32)
            np.minimum(sub, prev[:, 1:] + 1, out=sub)
            # left-to-right carry for the insertion term
            for j in range(1, wb + 1):
                dp[:, j] = np.minimum(sub[:, j - 1], dp[:, j - 1] + 1)
            hit = la == i
            if hit.any():
                res = np.where(hit, dp[np.arange(k), lb], res)
        mx = np.maximum(la, lb).astype(np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            ratio = np.where(mx > 0, 1.0 - res / mx, np.nan)
        out[idx] = ratio
        return slow

    def _py_rows(out, valid, ua, ub, idx, cache, fn):
        """Fill out[idx] with fn over the (string) pairs at idx,
        via the process-persistent cache."""
        if idx.size == 0:
            return
        sa = pc.take(ua, pa.array(idx)).to_pylist()
        sb = pc.take(ub, pa.array(idx)).to_pylist()
        nan = float("nan")
        for j, (x, y) in zip(idx, zip(sa, sb)):
            k = (x, y)
            v = cache.get(k)
            if v is None:
                v = fn(x, y)
                if v is None:  # kernel says "null" (e.g. 0/0)
                    v = nan
                cache[k] = v
            out[j] = v

    def _name_sim(a, b, cache, fn):
        """None if either null; upper-equal -> 1.0 ('' -> 0.0);
        else memoized fn(upper(a), upper(b))."""
        ua, ub = pc.utf8_upper(a), pc.utf8_upper(b)
        valid = pc.and_(a.is_valid(), b.is_valid()).to_numpy(zero_copy_only=False)
        eq = pc.fill_null(pc.equal(ua, ub), False).to_numpy(zero_copy_only=False)
        nonempty = pc.fill_null(pc.greater(pc.utf8_length(ua), 0), False).to_numpy(
            zero_copy_only=False
        )
        out = np.zeros(len(valid), dtype="float64")
        out[eq & nonempty] = 1.0
        idx = np.nonzero(valid & ~eq)[0]
        _py_rows(out, valid, ua, ub, idx, cache, fn)
        return out, valid

    def _lev_sim(a, b, cache):
        """None if either null; else 1 - lev/max(len) (equal -> 1.0,
        both-empty -> None, mirroring Spark's null for x/0)."""
        valid = pc.and_(a.is_valid(), b.is_valid()).to_numpy(zero_copy_only=False)
        eq = pc.fill_null(pc.equal(a, b), False).to_numpy(zero_copy_only=False)
        nonempty = pc.fill_null(pc.greater(pc.utf8_length(a), 0), False).to_numpy(
            zero_copy_only=False
        )
        out = np.zeros(len(valid), dtype="float64")
        out[eq & nonempty] = 1.0
        valid = valid & (~eq | nonempty)  # both-empty -> null (x/0)
        idx = np.nonzero(valid & ~eq)[0]
        slow = _batch_lev_ratio(out, a, b, idx)

        def lev_ratio(x, y):
            m = max(len(x), len(y))
            return 1.0 - S.levenshtein(x, y) / m if m else None

        _py_rows(out, valid, a, b, slow, cache, lev_ratio)
        return out, valid

    def _dob_sim(a, b, cache):
        """Equal or month/day-swapped -> 1.0; else 1 - lev/max(len)."""
        valid = pc.and_(a.is_valid(), b.is_valid()).to_numpy(zero_copy_only=False)
        swapped = pc.binary_join_element_wise(
            pc.utf8_slice_codeunits(a, 0, 4),
            pc.utf8_slice_codeunits(a, 6, 8),
            pc.utf8_slice_codeunits(a, 4, 6),
            "",
        )
        eq = pc.fill_null(
            pc.or_(pc.equal(a, b), pc.equal(swapped, b)), False
        ).to_numpy(zero_copy_only=False)
        out = np.zeros(len(valid), dtype="float64")
        out[eq] = 1.0
        idx = np.nonzero(valid & ~eq)[0]
        slow = _batch_lev_ratio(out, a, b, idx)

        def lev_ratio(x, y):
            m = max(len(x), len(y))
            return 1.0 - S.levenshtein(x, y) / m if m else None

        _py_rows(out, valid, a, b, slow, cache, lev_ratio)
        return out, valid

    def compute(col, n):
        """col: l_*/r_* name -> pa.Array; returns (arrays, names) for
        the sim_<field> columns + score."""
        if len(S._JW_CACHE) > S._CACHE_MAX:
            S._JW_CACHE.clear()
        if len(S._LEV_CACHE) > S._CACHE_MAX:
            S._LEV_CACHE.clear()
        fs_cache = S._FIRST_SIM_CACHES.setdefault(fam_token, {})
        if len(fs_cache) > S._CACHE_MAX:
            fs_cache.clear()
        sims = []
        arrays = []
        names = []
        for name, kind, weight in specs:
            a, b = col[f"l_{name}"], col[f"r_{name}"]
            if kind == "jw" and name == "first_name":
                out, valid = _name_sim(a, b, fs_cache, lambda x, y: pair_sim(str(x), str(y)))
            elif kind == "jw":
                out, valid = _name_sim(a, b, S._JW_CACHE, lambda x, y: S.jaro_winkler(str(x), str(y)))
            elif kind == "dob":
                out, valid = _dob_sim(a, b, S._LEV_CACHE)
            elif kind == "lev":
                out, valid = _lev_sim(a, b, S._LEV_CACHE)
            else:
                eqv = pc.equal(a, b)
                valid = eqv.is_valid().to_numpy(zero_copy_only=False)
                out = pc.cast(pc.fill_null(eqv, False), pa.float64()).to_numpy(
                    zero_copy_only=False
                )
            # a python kernel returning None marks the row null
            nan = np.isnan(out)
            if nan.any():
                valid = valid & ~nan
            sims.append((out, valid, weight))
            arrays.append(pa.array(out, type=pa.float64(), mask=~valid))
            names.append(f"sim_{name}")
        num = np.zeros(n, dtype="float64")
        den = np.zeros(n, dtype="float64")
        for out, valid, weight in sims:
            num += np.where(valid, out * weight, 0.0)
            den += np.where(valid, weight, 0.0)
        score = np.where(den > 0, num / np.where(den > 0, den, 1.0), 0.0)
        arrays.append(pa.array(score, type=pa.float64()))
        names.append("score")
        return arrays, names

    return compute


# single live records lookup directory per process (see
# score_pairs_fused docstring: the previous call's scratch parquet is
# deleted when the next call starts, so a long-lived session holds at
# most one)
_LIVE_REC_DIR: "str | None" = None

# driver-side sub-step wall clocks for the fused scorer (lookup-table
# scratch write) — merged into resolve()'s stage_seconds so scaling
# benches can see which scoring sub-step is fixed vs variable
PROF: "dict[str, float]" = {}


# Records tables at or under this row count ship to the workers as
# Arrow IPC bytes INSIDE the task closure instead of a scratch-parquet
# write + per-worker read: at bench scale (20k simulants = ~45k
# records) the write job alone costs 0.6-1.9 s of the resolve wall,
# while ~4 MB of closure bytes ride the task-binary broadcast for
# free. Above the gate the parquet path is unchanged (the 745k-2.5M
# record scaling runs, and the only 100 TB-viable shape).
SMALL_LOOKUP_MAX_ROWS = 150_000
# ... and only while the collected Arrow table is at most this many
# bytes: the row gate alone lets wide attach columns put far more than
# ~4 MB on the driver and into every task closure. A table over the
# byte gate is dropped and takes the parquet path.
SMALL_LOOKUP_MAX_BYTES = 32 * 1024 * 1024


class ArrowIpcLookup:
    """Closure-shipped records lookup: Arrow IPC bytes, deserialized at
    most once per python worker (make_fused_batches caches decoded
    structures keyed by ``token``)."""

    def __init__(self, table):
        import uuid

        import pyarrow as pa

        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, table.schema) as w:
            w.write_table(table)
        self._ipc = sink.getvalue().to_pybytes()
        self.token = f"ipc_{uuid.uuid4().hex}"

    @property
    def value(self):
        import pyarrow as pa

        return pa.ipc.open_stream(self._ipc).read_all()


def score_pairs_fused(
    spark,
    pairs: DataFrame,
    records: DataFrame,
    attach: "list[str]",
    fields: "tuple[FieldSpec, ...]" = DEFAULT_FIELDS,
    id_col: str = "record_id",
    emit_attach: "list[str] | None" = None,
    decide: "dict | None" = None,
    n_records: "int | None" = None,
) -> DataFrame:
    """Fused attach+score: one mapInArrow pass over the BARE pair ids,
    with the record fields looked up worker-side from a scratch-parquet
    copy of the records table. Replaces attach_pair_fields' two sort-merge
    joins AND shrinks the scoring stage's exchange traffic from the
    ~250-byte wide pair row to the 16-byte id pair — on a host whose
    per-core throughput degrades under memory traffic, bytes-per-pair
    is the scaling limiter, so this is the variant resolve() uses
    whenever the records table fits a per-worker lookup
    (ResolveConfig.broadcast_score_limit, default 5M records ~ 500MB).
    Beyond the limit the join + score_pairs_arrow path is the scale
    shape: it co-partitions pairs and records by id instead of
    replicating records, which is the only option at 10^12 documents.

    Output schema and values are identical to
    attach_pair_fields(...) |> score_pairs_arrow(...) (asserted by
    tests/test_scoring_impls.py).

    Lookup distribution: the records projection is written ONCE as an
    executor-parallel parquet to scratch storage and each python worker
    reads it directly (column-pruned to what the sims/emit need, one
    read per worker, page-cache-shared on a single host). The previous
    shape collected the table to the DRIVER (toArrow) and pickle-
    broadcast it — a serial driver job on the scoring stage's critical
    path (measured 10-20 s at 745k records) that cost the same wall at
    EVERY parallelism (a pure fixed, non-scaling term) and held the
    whole table on the driver heap. Scratch dir: $PP_FUSED_LOOKUP_DIR
    if set, else the system tmpdir; on a real cluster point it at the
    job's DFS scratch — broadcast-via-storage is the standard shape for
    lookup tables near the broadcast ceiling. A single module-level
    slot deletes the PREVIOUS call's scratch table when the next call
    starts, whichever lookup branch it takes, so at most one is live
    per process (the returned DataFrame is lazy, so the current one
    cannot be deleted eagerly here).

    ``emit_attach`` (default: all of ``attach``) restricts which
    attach-VALUE columns the worker sends back to the JVM. All of
    ``attach`` is still looked up worker-side (the sims need it), but
    columns no downstream consumer reads — last_name/dob/city/... once
    their sims are computed — are pure Python→JVM Arrow-stream bytes.
    Catalyst cannot prune a mapInArrow's output into the Python
    process, so the trim must happen here. At 42M pairs the full
    l_*/r_* string set is ~2x the emitted bytes of the consumed set,
    and that stream crosses a local socket per batch — non-scaling
    wall on the scoring stage's critical path."""
    import os
    import shutil
    import tempfile
    import time as _time
    import uuid

    from pyspark.sql import types as T

    # the previous call's scratch lookup dies here on BOTH branches: a
    # small-records call after a large one must not leave it behind
    global _LIVE_REC_DIR
    if _LIVE_REC_DIR is not None:
        shutil.rmtree(_LIVE_REC_DIR, ignore_errors=True)
        _LIVE_REC_DIR = None
    path = None
    if n_records is not None and n_records <= SMALL_LOOKUP_MAX_ROWS:
        # small-records path: no scratch write, no per-worker file read
        _t0 = _time.time()
        table = records.select(id_col, *attach).toArrow()
        if table.nbytes <= SMALL_LOOKUP_MAX_BYTES:
            path = ArrowIpcLookup(table)
        del table
        PROF["scoring.lookup_ipc"] = round(_time.time() - _t0, 2)
    if path is None:
        base = os.environ.get("PP_FUSED_LOOKUP_DIR") or tempfile.gettempdir()
        path = os.path.join(base, f"pp_fused_rec_{uuid.uuid4().hex}")
        _t0 = _time.time()
        records.select(id_col, *attach).write.mode("overwrite").parquet(path)
        PROF["scoring.lookup_write"] = round(_time.time() - _t0, 2)
        _LIVE_REC_DIR = path
    if emit_attach is None:
        emit_attach = attach
    else:
        missing = [c for c in emit_attach if c not in attach]
        if missing:
            raise ValueError(f"emit_attach columns not in attach: {missing}")
    rec_schema = {f.name: f.dataType for f in records.select(id_col, *attach).schema.fields}
    pair_fields = list(pairs.select("id_l", "id_r").schema.fields)
    if decide is not None:
        # decide-and-filter mode: the cascade runs worker-side and only
        # matched rows cross back, already in the slim projection the
        # pipeline checkpoints (cascade_match_mask docstring)
        aux_missing = [c for c in CASCADE_AUX_FIELDS if c not in attach]
        if aux_missing:
            raise ValueError(f"decide mode needs cascade aux fields in attach: {aux_missing}")
        emit_attach = []
        out_schema = T.StructType(
            pair_fields
            + [
                T.StructField("score", T.DoubleType()),
                T.StructField("is_match", T.BooleanType()),
                T.StructField("l_ssn_digits", rec_schema["ssn_digits"]),
                T.StructField("r_ssn_digits", rec_schema["ssn_digits"]),
            ]
        )
    else:
        out_schema = T.StructType(
            pair_fields
            + [T.StructField(f"{side}_{c}", rec_schema[c]) for side in ("l", "r") for c in emit_attach]
            + [T.StructField(f"sim_{s.name}", T.DoubleType()) for s in fields]
            + [T.StructField("score", T.DoubleType())]
        )
    specs = [(s.name, s.kind, s.weight) for s in fields]
    families = _nickname_families()
    # the batches mapInArrow sees come from the 2-column projection
    # below, NOT pairs' full schema — derive the column positions from
    # that projection so extra/reordered pair columns can't misindex
    cand = pairs.select("id_l", "id_r")
    i_l, i_r = 0, 1

    return cand.mapInArrow(
        make_fused_batches(path, id_col, attach, specs, families, i_l, i_r, emit_attach,
                           decide=decide),
        out_schema,
    )


# Per-phase wall-clock accumulators for the fused scorer, updated by
# every worker batch (two perf_counter calls per phase per 20k-row
# batch — noise). Read by tools/profile_scoring.py --inproc, where the
# generator runs driver-side; in real Spark runs each python worker
# accumulates its own copy (not collected).
PHASE_SECONDS: "dict[str, float]" = {"lookup": 0.0, "take": 0.0, "sims": 0.0, "emit": 0.0}

# Single-slot per-worker cache of the records lookup table's decoded
# structures (pd.Index over the id column + chunk-combined field
# arrays). Building these cost ~100ms per TASK before (one pd.Index
# hash table over 745k ids per task); python workers are reused across
# tasks (spark.python.worker.reuse) and at most one records lookup is
# live per process (_LIVE_REC_DIR), so a single key-matched slot gives
# a per-WORKER build (and, for the path form, a per-worker READ)
# instead.
_FUSED_REC_CACHE: "dict[str, object]" = {"key": None}


def make_fused_batches(src, id_col, attach, specs, families, i_l, i_r, emit_attach=None,
                       decide=None):
    """Worker-side generator factory for score_pairs_fused — module
    level so tools/mp_scaling_probe.py can drive it in-process over
    pyarrow batches without a SparkSession. ``src`` is either a path to
    the scratch parquet written by score_pairs_fused (read worker-side,
    column-pruned) or any object with a ``.value`` Arrow table (the
    in-process probe's shim). ``emit_attach`` (default: all of
    ``attach``) selects which looked-up value columns are sent back to
    the JVM; the rest exist only as sim inputs.

    ``decide`` (dict with ``threshold`` / ``same_dataset_distinct``)
    switches the generator to decide-and-filter mode: the match cascade
    (:func:`cascade_match_mask`) runs in the worker and each batch
    emits ONLY the matched rows with the slim downstream projection
    (id_l, id_r, score, is_match, l/r ssn_digits) — see
    cascade_match_mask's docstring for why this is the scaling shape."""
    if emit_attach is None:
        emit_attach = attach
    # look up only what the sims read or the JVM receives — an attach
    # column that is neither (e.g. one kept for the fallback join
    # path's symmetry) costs a pc.take per side per batch otherwise
    need = {s[0] for s in specs} | set(emit_attach)
    if decide is not None:
        need |= set(CASCADE_AUX_FIELDS) & set(attach)
    lookup = [c for c in attach if c in need]

    def _fused_batches(batches):
        from time import perf_counter

        import pandas as pd
        import pyarrow as pa
        import pyarrow.compute as pc

        from pseudopeople_spark.linkage import scoring as _S

        ph = _S.PHASE_SECONDS
        cache = _S._FUSED_REC_CACHE
        key = src if isinstance(src, str) else getattr(src, "token", None) or id(src.value)
        if cache.get("key") != key:
            if isinstance(src, str):
                import pyarrow.dataset as ds

                tbl = ds.dataset(src).to_table(columns=[id_col] + lookup)
            else:
                tbl = src.value
            cache["key"] = key
            cache["index"] = pd.Index(tbl.column(id_col).to_numpy(zero_copy_only=False))
            cache["cols"] = {c: tbl.column(c).combine_chunks() for c in lookup}
        index = cache["index"]
        rec_cols = cache["cols"]
        compute = _make_sim_engine(families, specs)
        for rb in batches:
            t0 = perf_counter()
            ids_l, ids_r = rb.column(i_l), rb.column(i_r)
            take_l = index.get_indexer(ids_l.to_numpy(zero_copy_only=False))
            take_r = index.get_indexer(ids_r.to_numpy(zero_copy_only=False))
            if (take_l < 0).any() or (take_r < 0).any():
                raise ValueError("pair id not present in broadcast records table")
            tl, tr = pa.array(take_l), pa.array(take_r)
            t1 = perf_counter()
            col = {}
            arrays = [ids_l, ids_r]
            names = ["id_l", "id_r"]
            for side, tk in (("l", tl), ("r", tr)):
                for c in lookup:
                    col[f"{side}_{c}"] = pc.take(rec_cols[c], tk)
                for c in emit_attach:
                    arrays.append(col[f"{side}_{c}"])
                    names.append(f"{side}_{c}")
            t2 = perf_counter()
            add_arrays, add_names = compute(col, rb.num_rows)
            t3 = perf_counter()
            if decide is not None:
                import numpy as np

                simmap = {
                    nm[4:]: a.to_numpy(zero_copy_only=False)
                    for nm, a in zip(add_names, add_arrays)
                    if nm.startswith("sim_")
                }
                score = add_arrays[add_names.index("score")].to_numpy(zero_copy_only=False)
                mask = cascade_match_mask(
                    simmap, score, col,
                    threshold=decide.get("threshold", 0.92),
                    same_dataset_distinct=decide.get("same_dataset_distinct", False),
                )
                sel = pa.array(np.flatnonzero(mask))
                out = _pa_batch(
                    [
                        pc.take(ids_l, sel),
                        pc.take(ids_r, sel),
                        pa.array(score[mask], type=pa.float64()),
                        pa.array(np.ones(len(sel), dtype=bool)),
                        pc.take(col["l_ssn_digits"], sel),
                        pc.take(col["r_ssn_digits"], sel),
                    ],
                    ["id_l", "id_r", "score", "is_match", "l_ssn_digits", "r_ssn_digits"],
                )
            else:
                out = _pa_batch(arrays + add_arrays, names + add_names)
            t4 = perf_counter()
            ph["lookup"] += t1 - t0
            ph["take"] += t2 - t1
            ph["sims"] += t3 - t2
            ph["emit"] += t4 - t3
            yield out

    return _fused_batches


def swap_month_day(dob: Column) -> Column:
    """yyyyMMdd with month/day transposed — inverts the reference's
    swap_month_and_day noise for comparison purposes."""
    return F.concat(dob.substr(1, 4), dob.substr(7, 2), dob.substr(5, 2))


def dob_similarity(a: Column, b: Column) -> Column:
    """[0,1] similarity of two yyyyMMdd strings that treats a month/day
    transposition as an exact match (it is the single most common date
    corruption — reference swap_months_and_days) and otherwise falls
    back to normalized edit distance."""
    mx = F.greatest(F.length(a), F.length(b))
    # the equal branch already covers both-empty; the guard keeps the
    # division ANSI-safe (x/0 raises under Spark 4's default ANSI mode)
    lev = F.when(mx > 0, F.lit(1.0) - F.levenshtein(a, b).cast("double") / mx)
    return F.when(a.isNull() | b.isNull(), None).otherwise(
        F.when((a == b) | (swap_month_day(a) == b), 1.0).otherwise(lev)
    )


def _tier_columns(threshold: float = 0.92) -> "dict[str, Column]":
    """Decision layer on top of the similarity vector — a deterministic
    rule cascade, each tier motivated by one of the reference's noise
    channels, with the weighted score as the probabilistic fallback:

      tier 1  SSN exact + (first-name agrees OR dob agrees).
              The corroboration guard matters: copy_from_household_member
              puts a SPOUSE's ssn on 1% of tax rows, so a bare SSN join
              would merge households.
      tier 2  dob agrees (incl. month/day-swap) + last name strong +
              (first name strong OR missing). Covers the no-SSN
              census pairs.
      tier 3  weighted score >= threshold with >=3 identity fields
              (first/last/dob/ssn) present on both sides — the
              evidence floor kills sparse pairs whose few overlapping
              fields renormalize to a perfect score.
      veto    decisive first-name disagreement (both present, JW<0.6)
              blocks tiers 2-3: copy-noise gives spouses/siblings an
              identical dob at the same address, and first name is then
              the only discriminating field.

    All columns here are JVM expressions over the already-computed sims.
    """
    jf, jl = F.col("sim_first_name"), F.col("sim_last_name")
    dob = F.col("sim_dob")
    mid = F.col("sim_middle")
    sex = F.col("sim_sex")
    ssn_exact = (F.col("l_ssn_digits") == F.col("r_ssn_digits")) & (F.length("l_ssn_digits") == 9)
    first_missing = F.col("l_first_name").isNull() | F.col("r_first_name").isNull()
    mid_compat = mid.isNull() | (mid == 1.0)   # middle initial doesn't contradict
    sex_compat = sex.isNull() | (sex == 1.0)   # sex doesn't contradict
    geo_exact = (F.col("sim_zipcode") == 1.0) & (F.col("sim_city") == 1.0)
    evidence = (
        (jf.isNotNull()).cast("int")
        + (jl.isNotNull()).cast("int")
        + (dob.isNotNull()).cast("int")
        + (mid.isNotNull()).cast("int")
        + (F.col("sim_zipcode").isNotNull()).cast("int")
        + (F.col("l_ssn_digits").isNotNull() & F.col("r_ssn_digits").isNotNull()).cast("int")
    )
    # 0.65: low enough that a single in-name typo on a short name
    # (PAVI/PAUL ~ 0.67) doesn't hard-refute a pair that other fields
    # support; different-person first names in the same block sit ~0.5
    veto = jf.isNotNull() & (jf < 0.65)
    # SSN disagreement is strong negative evidence — but the threshold
    # must sit ABOVE the noise channel's tail: write_wrong_digits at
    # token_probability 0.1 corrupts >=3 of 9 digits on ~6% of noised
    # cells (true pairs!), while different people's SSNs differ by ~7+
    # digits. lev > 4 keeps ~99.9% of noised true pairs and still
    # refutes every random pair. Conflict blocks tiers 2-6 (tier 1
    # requires exactness anyway).
    ssn_conflict = (
        F.col("l_ssn_digits").isNotNull()
        & F.col("r_ssn_digits").isNotNull()
        & (F.levenshtein("l_ssn_digits", "r_ssn_digits") > 4)
    )
    # tier 1: SSN agreement, corroborated. The corroboration matters:
    # copy_from_household_member puts a RELATIVE's ssn on 1% of tax rows,
    # so a bare SSN join would merge households. When first name or dob
    # is blanked, last-name + non-conflicting dob corroborates instead.
    # geo conflict: both zips present and different — used as negative
    # evidence in the name-only tiers (same-household true pairs share
    # the address; noise breaks it for only ~2% of them)
    geo_conflict = (
        F.col("sim_zipcode").isNotNull() & (F.col("sim_zipcode") == 0.0)
    )
    # birth-year evidence (from the dob, or reconstructed ref_year-age):
    # agreement within the misreport_age spread supports a match; a gap
    # beyond any noise channel refutes one
    def _sane_byear(c: str):
        y = F.col(c).cast("int")
        # digit noise produces absurd years (7013, 1763) — treat as
        # missing rather than as refuting evidence
        return F.when((y >= 1850) & (y <= 2100), y)

    byear_diff = F.abs(_sane_byear("l_byear") - _sane_byear("r_byear"))
    byear_agree = F.coalesce(byear_diff <= 2, F.lit(False))
    byear_conflict = F.coalesce(byear_diff > 5, F.lit(False))
    tier1 = ssn_exact & (
        (jf >= 0.85)
        | ((dob >= 0.85) & ~veto)
        | ((jl >= 0.85) & (jf.isNull() | dob.isNull()) & (dob.isNull() | (dob >= 0.55)) & ~veto)
    )
    # near-exact SSN (<=2 noised digits — write_wrong_digits at its
    # default rate leaves ~94% of noised SSNs within 2) with the same
    # corroboration: random SSN pairs differ by ~7+ digits, so lev<=2
    # is still ~1-in-10^5 evidence
    ssn_near = (
        F.col("l_ssn_digits").isNotNull()
        & (F.length("l_ssn_digits") == 9)
        # BOTH sides must be full SSNs: unlike equality, lev<=2 does not
        # imply equal lengths — a 7-digit truncated/masked SSN matches
        # ~100 different full SSNs and is not 1-in-10^5 evidence
        & (F.length("r_ssn_digits") == 9)
        & (F.levenshtein("l_ssn_digits", "r_ssn_digits") <= 2)
    )
    tier1b = ssn_near & (
        (jf >= 0.85) | ((dob >= 0.85) & ~veto) | ((jl >= 0.85) & ~veto & (dob >= 0.55))
    )
    # tier 2: dob agreement (incl. month/day swap) + strong last name +
    # first agrees or is missing (blank/fake-name noise); a missing
    # first must not be contradicted by middle initial or sex
    tier2 = (dob == 1.0) & (jl >= 0.85) & ~ssn_conflict & (
        ((jf >= 0.85) & (mid_compat | (jf == 1.0)))
        | (first_missing & mid_compat & sex_compat)
    )
    # tier 3: probabilistic fallback with an evidence floor (sparse
    # pairs renormalize to perfect scores) and the first-name veto
    tier3 = (
        (F.col("score") >= threshold)
        & (evidence >= 3)
        & ~veto
        & ~ssn_conflict
        # with the first name missing, near-miss dobs are pure
        # name-collision bait — demand exact dob agreement and a
        # non-contradicting sex (different-sex twins share last name +
        # dob and one blanked first name is all it takes otherwise)
        & (jf.isNull() | (jf >= 0.78))
        & (jf.isNotNull() | ((dob == 1.0) & sex_compat))
        # a high score with NO hard identifier present (no dob on a
        # side, no ssn pair) is just agreeing names — not enough
        & (dob.isNotNull() | (F.col("l_ssn_digits").isNotNull() & F.col("r_ssn_digits").isNotNull()))
    )
    # tier 4: dob missing on one side (leave_blank) — near-exact names
    # + independent corroboration. 0.94 on the first name sits ABOVE
    # the 0.93 nickname-family grants (a family overlap alone must not
    # qualify as near-exact) while admitting one-typo names.
    tier4 = (
        dob.isNull() & (jf >= 0.94) & (jl >= 0.95)
        & ((mid == 1.0) | geo_exact | byear_agree) & ~byear_conflict
        & ~veto & sex_compat & ~ssn_conflict & ~geo_conflict
    )
    # tier 5: dob conflict (copy_from_household_member puts a relative's
    # dob on the row). The danger class is same-name kin at the same
    # address (parent/child, same-name siblings), so demand either a
    # near-agreeing dob with compatible middle/sex, or an exactly
    # matching middle initial with a half-agreeing dob.
    tier5 = (
        (jl >= 0.95) & ~veto & sex_compat & ~ssn_conflict & ~geo_conflict
        & (
            ((jf >= 0.9) & (dob >= 0.875) & mid_compat)
            | ((jf >= 0.95) & (dob >= 0.55) & (mid == 1.0))
            | ((jf >= 0.95) & (dob >= 0.55) & geo_exact & mid_compat)
            # NOTE deliberately NO (names + dob~0.75 + byear) arm: at
            # 20k simulants that signature is genuinely ambiguous —
            # same-name same-birth-year DIFFERENT people with a
            # 2-char dob difference are as common as true pairs whose
            # dob took one corrupted segment (measured +209 FP / +150
            # TP at 20k) — precision loses more than recall gains.
        )
    )
    # tier 6: last name blanked on a side — first+dob exact with
    # non-contradicting middle/sex (child records appear only in
    # census+ssa, where dob is the main identifier)
    tier6 = jl.isNull() & (jf >= 0.95) & (dob == 1.0) & mid_compat & sex_compat & ~ssn_conflict
    return {
        "tier1": tier1, "tier1b": tier1b, "tier2": tier2, "tier3": tier3,
        "tier4": tier4, "tier5": tier5, "tier6": tier6,
    }


def tier_flags(scored: DataFrame, threshold: float = 0.92) -> DataFrame:
    """scored + one boolean column per cascade tier — the diagnosis
    surface (tools/diag_fp.py): which tier admitted a false positive."""
    out = scored
    for name, col in _tier_columns(threshold).items():
        out = out.withColumn(name, F.coalesce(col, F.lit(False)))
    return out


def tiered_match(
    scored: DataFrame, threshold: float = 0.92, same_dataset_distinct: bool = False
) -> DataFrame:
    """OR of the cascade tiers (see :func:`_tier_columns` for the rule
    rationale), plus the same-dataset-period hard constraint."""
    is_match = None
    for col in _tier_columns(threshold).values():
        c = F.coalesce(col, F.lit(False))
        is_match = c if is_match is None else (is_match | c)
    if same_dataset_distinct and "l_dataset" in scored.columns:
        # Within ONE extract period an entity appears at most once (one
        # census row per simulant per year, reference interface.py), so
        # a same-dataset pair is a different entity BY CONSTRUCTION —
        # except a guardian-duplication twin, whose record_id is the
        # original's + "_dup". Cluster merges are the costly error class
        # (one bad edge turns every cross-pair of two clusters into an
        # FP), and same-household same-name kin are exactly the pairs
        # this hard constraint removes.
        if "l_base_rid" in scored.columns:
            # int64-id pipeline: the guardian-duplication twin shares its
            # original's base_rid (the id hashed with "_dup" stripped).
            # base_rid is VERIFIED 1:1 against the stripped string key in
            # _assign_int_ids' materialized-frame aggregate, so equality
            # here is exactly the string test below — a hash collision
            # cannot falsely exempt an unrelated same-dataset pair.
            dup_twin = F.col("l_base_rid") == F.col("r_base_rid")
        else:
            dup_twin = (F.col("id_r") == F.concat(F.col("id_l"), F.lit("_dup"))) | (
                F.col("id_l") == F.concat(F.col("id_r"), F.lit("_dup"))
            )
        same_dataset = F.col("l_dataset") == F.col("r_dataset")
        if "l_period" in scored.columns:
            # the uniqueness unit is the dataset-PERIOD (normalize_records
            # stamps it from ref_year / period_col): a 2020-census row and
            # a 2030-census row of the same entity are a legitimate match.
            # NULL periods compare equal (eqNullSafe) — the conservative
            # whole-dataset veto for callers that stamp no period.
            same_dataset = same_dataset & F.col("l_period").eqNullSafe(F.col("r_period"))
        is_match = is_match & (~same_dataset | dup_twin)
    return scored.withColumn("is_match", is_match)


# attach values the worker-side cascade reads beyond the sim inputs
CASCADE_AUX_FIELDS = ("ssn_digits", "first_name", "byear", "dataset", "period", "base_rid")


def cascade_match_mask(sim, score, aux, threshold=0.92, same_dataset_distinct=False):
    """Vectorized (numpy/pyarrow) replica of :func:`_tier_columns` +
    :func:`tiered_match`'s hard constraint, for evaluation INSIDE the
    Arrow scoring worker.

    Deciding worker-side lets the fused scorer emit only the matched
    rows (~records-sized, not pairs-sized) with the slim downstream
    projection: at 42M candidate pairs the previous Python->JVM stream
    (all pairs x l_*/r_* strings + sims, ~200 B/pair ~ 8.5 GB per
    resolve) shrinks ~60x, and the JVM-side cascade scan over the full
    pair set disappears. Both ends of that stream are per-pair memory
    traffic on the scoring stage's critical path — exactly the term the
    N->4N scaling measurement shows saturating the shared memory bus.

    SQL three-valued logic maps to two-valued numpy here because every
    NULL-producing comparison in the cascade sits under an EVEN number
    of negations: NaN comparisons yield False, which `coalesce(tier,
    False)` makes equivalent — and each NEGATED subterm (veto,
    ssn_conflict, byear_conflict, geo_conflict, same_dataset) is
    null-proof by construction (isNotNull guards / non-null inputs /
    pre-coalesced), mirroring the Column definitions. Parity with the
    JVM cascade is asserted over an adversarial null grid by
    tests/test_cascade_parity.py.

    ``sim``: field -> float64 ndarray with NaN as SQL NULL (exactly the
    arrays `_make_sim_engine` emits). ``score``: float64 ndarray.
    ``aux``: l_*/r_* -> pyarrow Array for CASCADE_AUX_FIELDS.
    Returns a bool ndarray (the rows `.where(is_match)` would keep)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    jf, jl = sim["first_name"], sim["last_name"]
    dob, mid, sex = sim["dob"], sim["middle"], sim["sex"]
    zp, city = sim["zipcode"], sim["city"]
    ssn = sim["ssn_digits"]

    def _np(a):
        return a.to_numpy(zero_copy_only=False)

    lssn, rssn = aux["l_ssn_digits"], aux["r_ssn_digits"]
    lv, rv = _np(lssn.is_valid()), _np(rssn.is_valid())
    ll = _np(pc.fill_null(pc.utf8_length(lssn), 0))
    rl = _np(pc.fill_null(pc.utf8_length(rssn), 0))
    ssn_eq = _np(pc.fill_null(pc.equal(lssn, rssn), False))
    ssn_exact = ssn_eq & (ll == 9)
    # integer levenshtein recovered from the ratio sim (sim = 1 -
    # lev/max(len), exact over <=12-char digit strings); NaN (a null
    # side, or Spark's x/0 null on two empties — where levenshtein()
    # is 0 and can never exceed a threshold) propagates to False
    mx = np.maximum(ll, rl).astype(np.float64)
    lev = np.rint((1.0 - ssn) * mx)
    ssn_near = (ll == 9) & (rl == 9) & (lev <= 2)
    ssn_conflict = lv & rv & (lev > 4)

    first_missing = ~(_np(aux["l_first_name"].is_valid()) & _np(aux["r_first_name"].is_valid()))
    mid_compat = np.isnan(mid) | (mid == 1.0)
    sex_compat = np.isnan(sex) | (sex == 1.0)
    geo_exact = (zp == 1.0) & (city == 1.0)
    geo_conflict = zp == 0.0
    veto = jf < 0.65
    evidence = (
        (~np.isnan(jf)).astype(np.int32)
        + (~np.isnan(jl))
        + (~np.isnan(dob))
        + (~np.isnan(mid))
        + (~np.isnan(zp))
        + (lv & rv)
    )

    def _sane_byear(a):
        # string cast mirrors the Column cast; byear is digits-or-null
        # by construction (ANSI mode would have rejected junk upstream)
        y = _np(pc.cast(a, pa.float64()))
        return np.where((y >= 1850) & (y <= 2100), y, np.nan)

    byear_diff = np.abs(_sane_byear(aux["l_byear"]) - _sane_byear(aux["r_byear"]))
    byear_agree = byear_diff <= 2
    byear_conflict = byear_diff > 5

    tier1 = ssn_exact & (
        (jf >= 0.85)
        | ((dob >= 0.85) & ~veto)
        | ((jl >= 0.85) & (np.isnan(jf) | np.isnan(dob)) & (np.isnan(dob) | (dob >= 0.55)) & ~veto)
    )
    tier1b = ssn_near & (
        (jf >= 0.85) | ((dob >= 0.85) & ~veto) | ((jl >= 0.85) & ~veto & (dob >= 0.55))
    )
    tier2 = (dob == 1.0) & (jl >= 0.85) & ~ssn_conflict & (
        ((jf >= 0.85) & (mid_compat | (jf == 1.0)))
        | (first_missing & mid_compat & sex_compat)
    )
    tier3 = (
        (score >= threshold)
        & (evidence >= 3)
        & ~veto
        & ~ssn_conflict
        & (np.isnan(jf) | (jf >= 0.78))
        & (~np.isnan(jf) | ((dob == 1.0) & sex_compat))
        & (~np.isnan(dob) | (lv & rv))
    )
    tier4 = (
        np.isnan(dob) & (jf >= 0.94) & (jl >= 0.95)
        & ((mid == 1.0) | geo_exact | byear_agree) & ~byear_conflict
        & ~veto & sex_compat & ~ssn_conflict & ~geo_conflict
    )
    tier5 = (
        (jl >= 0.95) & ~veto & sex_compat & ~ssn_conflict & ~geo_conflict
        & (
            ((jf >= 0.9) & (dob >= 0.875) & mid_compat)
            | ((jf >= 0.95) & (dob >= 0.55) & (mid == 1.0))
            | ((jf >= 0.95) & (dob >= 0.55) & geo_exact & mid_compat)
        )
    )
    tier6 = np.isnan(jl) & (jf >= 0.95) & (dob == 1.0) & mid_compat & sex_compat & ~ssn_conflict

    is_match = tier1 | tier1b | tier2 | tier3 | tier4 | tier5 | tier6
    if same_dataset_distinct:
        dup_twin = _np(pc.fill_null(pc.equal(aux["l_base_rid"], aux["r_base_rid"]), False))
        same_ds = _np(pc.fill_null(pc.equal(aux["l_dataset"], aux["r_dataset"]), False))
        lp, rp = aux["l_period"], aux["r_period"]
        period_eq = _np(pc.fill_null(pc.equal(lp, rp), False)) | (
            ~_np(lp.is_valid()) & ~_np(rp.is_valid())
        )
        is_match = is_match & (~(same_ds & period_eq) | dup_twin)
    return is_match


def prune_edges_by_ssn_consensus(edges: DataFrame) -> DataFrame:
    """Identifier-consensus pruning — the cluster-hygiene pass that
    keeps one bad name/dob edge from merging two whole entity clusters
    (every cross-pair of a bad merge is a false positive, a ~3.5x
    amplification measured at 20k simulants).

    A record WITHOUT an SSN (census) accumulates the SSNs of its
    matched partners (w2/ssa) as votes. When its partners disagree, the
    true partners share the entity's one SSN while a same-household
    look-alike brings a different one — so edges carrying a STRICT-
    minority SSN are dropped (ties keep everything: no evidence which
    side is wrong). Measured on 20k simulants: 24 edges dropped, all
    false, cluster-pair FPs 381 -> 234.

    Shuffle cost: two small aggregations + one broadcast-ish join on
    the EDGE set (already tiny relative to records)."""
    one_sided = (
        edges.where(F.col("l_ssn_digits").isNull() & F.col("r_ssn_digits").isNotNull())
        .select(F.col("id_l").alias("bare_id"), F.col("r_ssn_digits").alias("partner_ssn"))
        .unionByName(
            edges.where(F.col("r_ssn_digits").isNull() & F.col("l_ssn_digits").isNotNull())
            .select(F.col("id_r").alias("bare_id"), F.col("l_ssn_digits").alias("partner_ssn"))
        )
    )
    votes = one_sided.groupBy("bare_id", "partner_ssn").agg(F.count("*").alias("n"))
    w = Window.partitionBy("bare_id").orderBy(F.desc("n"), "partner_ssn")
    ranked = votes.withColumn("rn", F.row_number().over(w))
    top = ranked.where(F.col("rn") == 1).select("bare_id", F.col("partner_ssn").alias("top_ssn"), F.col("n").alias("top_n"))
    second = ranked.where(F.col("rn") == 2).select("bare_id", F.col("n").alias("second_n"))
    winners = (
        top.join(second, "bare_id", "left")
        .where(F.col("top_n") > F.coalesce(F.col("second_n"), F.lit(0)))
        .select("bare_id", "top_ssn")
    )
    bare_id = F.when(
        F.col("l_ssn_digits").isNull() & F.col("r_ssn_digits").isNotNull(), F.col("id_l")
    ).when(F.col("r_ssn_digits").isNull() & F.col("l_ssn_digits").isNotNull(), F.col("id_r"))
    partner_ssn = F.coalesce(F.col("l_ssn_digits"), F.col("r_ssn_digits"))
    out = (
        edges.withColumn("__bare", bare_id)
        .join(winners, F.col("__bare") == F.col("bare_id"), "left")
        .where(
            F.col("top_ssn").isNull()  # no disagreement / not one-sided
            # edit-distance-tolerant agreement, consistent with every
            # other SSN comparison in the cascade (ssn_near lev<=2): a
            # digit-noised variant of the winning SSN is the same
            # identity and must not cost the entity its true edge — only
            # genuinely DIFFERENT numbers (a look-alike's SSN, many
            # digits apart) are pruned
            | (F.levenshtein(partner_ssn, F.col("top_ssn")) <= 2)
        )
    )
    return out.select(*edges.columns).drop("__bare")


def prune_edges_by_ssn_consensus_local(edges):
    """Driver twin of :func:`prune_edges_by_ssn_consensus` on a pandas
    frame with the same columns — the pipeline's small-edge-set
    clustering path collects the matched rows once and prunes them
    here instead of running the prune's ~7-job Spark plan (asserted
    equal in tests/test_similarity.py). Ids keep their dtype: the
    votes key on the id values, never on a float-coerced copy."""
    import numpy as np
    import pandas as pd

    from pseudopeople_spark.functions.similarity import levenshtein

    l_ssn, r_ssn = edges["l_ssn_digits"], edges["r_ssn_digits"]
    l_bare = l_ssn.isna() & r_ssn.notna()
    one_sided = l_bare | (r_ssn.isna() & l_ssn.notna())
    bare = edges["id_l"].where(l_bare, edges["id_r"])[one_sided]
    partner = l_ssn.where(l_ssn.notna(), r_ssn)[one_sided]
    votes = (
        pd.DataFrame({"bare": bare, "ssn": partner})
        .value_counts()
        .rename("n")
        .reset_index()
        .sort_values(["bare", "n", "ssn"], ascending=[True, False, True])
    )
    top = votes.drop_duplicates("bare").set_index("bare")
    second_n = votes[votes.duplicated("bare")].drop_duplicates("bare").set_index("bare")["n"]
    winners = top["ssn"][top["n"] > second_n.reindex(top.index, fill_value=0)]
    contested = bare.isin(winners.index).to_numpy()
    keep = np.ones(len(edges), dtype=bool)
    keep[np.flatnonzero(one_sided.to_numpy())[contested]] = [
        levenshtein(p, w) <= 2
        for p, w in zip(partner[contested], winners.loc[bare[contested].to_numpy()])
    ]
    return edges[keep]


def match_edges(
    scored: DataFrame,
    threshold: float = 0.92,
    same_dataset_distinct: bool = False,
    ssn_consensus: bool = True,
) -> DataFrame:
    """Tiered match decision (+ identifier-consensus pruning) -> edges
    for the clustering stage.

    When ``scored`` already carries an ``is_match`` column (the
    pipeline fuses :func:`tiered_match` into the scoring stage's
    checkpointed projection — one pass over the full pair set instead
    of re-deriving the cascade on every downstream scan), the decision
    is reused as-is. The consensus prune scans its input ~3x, so pass a
    materialized frame (the pipeline passes its scoring checkpoint,
    which already holds only the matched rows)."""
    decided = scored if "is_match" in scored.columns else tiered_match(scored, threshold, same_dataset_distinct)
    edges = decided.where(F.col("is_match"))
    keep = ["id_l", "id_r", "score"]
    if ssn_consensus and "l_ssn_digits" in edges.columns:
        edges = prune_edges_by_ssn_consensus(edges)
    return edges.select(*keep)
