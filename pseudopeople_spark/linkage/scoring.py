"""Pairwise scoring and the match decision: one ``mapInArrow`` pass
over the candidate pairs (``score_pairs_fused``).

Each Arrow batch of (id_l, id_r) pairs gets both records' normalized
fields from one of two sources, chosen by the records-table size:

  * a per-worker lookup: the records table ships in the task closure
    as Arrow IPC bytes or, above SMALL_LOOKUP_MAX_ROWS / _BYTES, is
    read once per python worker from a scratch parquet; the pairs stay
    a 16-byte id stream;
  * above LOOKUP_MAX_ROWS records, the co-partitioned
    ``attach_pair_fields`` join, whose l_*/r_* columns arrive in the
    batch.

The same worker generator (``make_fused_batches``) then computes the
per-field similarity vector (``_make_sim_engine``):

  * first name: Jaro-Winkler (DuckDB semantics) with nickname-family
    equivalence (similarity.make_pair_sim); last name: Jaro-Winkler;
  * DOB: a month/day transposition counts as equal, else
    1 - levenshtein/max(len) on the yyyyMMdd string;
  * SSN: 1 - levenshtein/max(len) on the digits;
  * middle/zipcode/city/sex: exact-match indicators;

the weighted score with null-aware renormalization (missing fields
redistribute their weight), and the match cascade
(``cascade_match_mask``). Only the matched rows leave the worker, in
the slim projection the pipeline checkpoints; ``match_edges`` prunes
them by SSN consensus into the clustering edges.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


@dataclass(frozen=True)
class FieldSpec:
    name: str
    kind: str  # 'jw' | 'dob' | 'lev' | 'exact'
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
    pairs: DataFrame, records: DataFrame, fields: "list[str]", id_col: str = "record_id"
) -> DataFrame:
    """(id_l, id_r) × records -> one row per pair with l_*/r_* fields:
    score_pairs_fused's field source above LOOKUP_MAX_ROWS records.

    Sort-merge, not broadcast: the id_l join already rides the pair
    dedup's HashPartitioning(id_l) exchange (resolve()._pairs), so a
    broadcast saves only the id_r exchange and pays two single-threaded
    hash-relation builds. Measured on 26.5M pairs × 745k records at 8
    pinned cores: broadcast 186 s, sort-merge 116 s
    (tools/ab_scoring_broadcast.py at commit ee15780)."""
    l = records.select(F.col(id_col).alias("id_l"), *[F.col(c).alias(f"l_{c}") for c in fields])
    r = records.select(F.col(id_col).alias("id_r"), *[F.col(c).alias(f"r_{c}") for c in fields])
    return pairs.join(l, "id_l").join(r, "id_r")


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


def _make_sim_engine(families, specs):
    """Worker-side factory shared by make_fused_batches and the
    streaming linker (streaming.stateful): returns
    ``compute(col, n) -> (arrays, names)`` where ``col`` maps l_*/r_*
    field names to pyarrow Arrays and the result appends sim_<field>
    columns plus the null-renormalized weighted score."""
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
# record scaling runs).
SMALL_LOOKUP_MAX_ROWS = 150_000
# ... and only while the collected Arrow table is at most this many
# bytes: the row gate alone lets wide attach columns put far more than
# ~4 MB on the driver and into every task closure. A table over the
# byte gate is dropped and takes the parquet path.
SMALL_LOOKUP_MAX_BYTES = 32 * 1024 * 1024
# Records tables over this row count are not replicated to the workers
# at all (a per-worker lookup is ~500 MB at 5M records): the pairs join
# them co-partitioned by id instead (attach_pair_fields), the only
# shape at 10^12 documents.
LOOKUP_MAX_ROWS = 5_000_000

# attach values the worker-side cascade reads beyond the sim inputs
CASCADE_AUX_FIELDS = ("ssn_digits", "first_name", "byear", "dataset", "period", "base_rid")

# the one output projection of the scoring stage: matched rows only
DECIDED_COLUMNS = ("id_l", "id_r", "score", "is_match", "l_ssn_digits", "r_ssn_digits")


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


def _lookup_fields(attach, specs, emit_attach=()):
    """The attach fields the worker reads: the sim inputs, the
    cascade's aux values and ``emit_attach``. Any other attach column
    would cost a pc.take (or a joined column) per side per batch."""
    need = {s[0] for s in specs} | set(CASCADE_AUX_FIELDS) | set(emit_attach)
    return [c for c in attach if c in need]


def score_pairs_fused(
    spark,
    pairs: DataFrame,
    records: DataFrame,
    attach: "list[str]",
    fields: "tuple[FieldSpec, ...]" = DEFAULT_FIELDS,
    id_col: str = "record_id",
    decide: "dict | None" = None,
    n_records: "int | None" = None,
) -> DataFrame:
    """Score and decide every candidate pair in one mapInArrow pass:
    ``pairs`` (id_l, id_r) -> only the matched rows, as DECIDED_COLUMNS
    (the projection the pipeline checkpoints and match_edges reads).

    ``attach`` names the record fields brought onto each pair; it must
    hold every ``fields`` name and CASCADE_AUX_FIELDS. ``decide``
    carries cascade_match_mask's ``threshold`` (default 0.92) and
    ``same_dataset_distinct`` (default False). ``n_records``, the
    records row count when known, picks the field source:

      * <= SMALL_LOOKUP_MAX_ROWS, and the collected table <=
        SMALL_LOOKUP_MAX_BYTES: Arrow IPC bytes in the task closure (no
        scratch write, no file read);
      * else, up to LOOKUP_MAX_ROWS (or when unknown): a scratch
        parquet written once by the executors and read once per python
        worker, column-pruned. Collecting the table to the driver
        instead was a serial job on the stage's critical path (10-20 s
        at 745k records). Scratch dir: $PP_FUSED_LOOKUP_DIR if set,
        else the system tmpdir; on a cluster, the job's DFS scratch. A
        module-level slot deletes the previous call's scratch table
        when the next call starts, whatever source it takes, so at most
        one is live per process (the returned DataFrame is lazy, so the
        current one cannot be deleted here);
      * over LOOKUP_MAX_ROWS: attach_pair_fields' co-partitioned join,
        which never replicates records.

    A lookup replaces two sort-merge joins and shrinks the stage's
    input from the ~250-byte wide pair row to the 16-byte id pair.
    Deciding in the worker means only matched rows (~records-sized,
    not pairs-sized) cross back to the JVM: Catalyst cannot prune a
    mapInArrow's output, and at 42M candidate pairs the full l_*/r_* +
    sims stream was ~200 B/pair (~8.5 GB per resolve)."""
    import os
    import shutil
    import tempfile
    import time as _time
    import uuid

    from pyspark.sql import types as T

    # the previous call's scratch lookup dies here on every branch: a
    # small-records call after a large one must not leave it behind
    global _LIVE_REC_DIR
    if _LIVE_REC_DIR is not None:
        shutil.rmtree(_LIVE_REC_DIR, ignore_errors=True)
        _LIVE_REC_DIR = None
    aux_missing = [c for c in CASCADE_AUX_FIELDS if c not in attach]
    if aux_missing:
        raise ValueError(f"the match cascade needs these fields in attach: {aux_missing}")
    specs = [(s.name, s.kind, s.weight) for s in fields]
    ssn_type = records.schema["ssn_digits"].dataType
    out_schema = T.StructType(
        list(pairs.select("id_l", "id_r").schema.fields)
        + [
            T.StructField("score", T.DoubleType()),
            T.StructField("is_match", T.BooleanType()),
            T.StructField("l_ssn_digits", ssn_type),
            T.StructField("r_ssn_digits", ssn_type),
        ]
    )
    src = None
    if n_records is not None and n_records > LOOKUP_MAX_ROWS:
        joined = _lookup_fields(attach, specs)
        batches = attach_pair_fields(pairs, records, joined, id_col).select(
            "id_l", "id_r", *[f"{side}_{c}" for side in ("l", "r") for c in joined]
        )
    else:
        # the ids are columns 0 and 1 of this projection, whatever
        # extra or reordered columns ``pairs`` carries
        batches = pairs.select("id_l", "id_r")
        if n_records is not None and n_records <= SMALL_LOOKUP_MAX_ROWS:
            _t0 = _time.time()
            table = records.select(id_col, *attach).toArrow()
            if table.nbytes <= SMALL_LOOKUP_MAX_BYTES:
                src = ArrowIpcLookup(table)
            del table
            PROF["scoring.lookup_ipc"] = round(_time.time() - _t0, 2)
        if src is None:
            base = os.environ.get("PP_FUSED_LOOKUP_DIR") or tempfile.gettempdir()
            src = os.path.join(base, f"pp_fused_rec_{uuid.uuid4().hex}")
            _t0 = _time.time()
            records.select(id_col, *attach).write.mode("overwrite").parquet(src)
            PROF["scoring.lookup_write"] = round(_time.time() - _t0, 2)
            _LIVE_REC_DIR = src
    return batches.mapInArrow(
        make_fused_batches(src, id_col, attach, specs, _nickname_families(), 0, 1, decide=decide),
        out_schema,
    )


# Per-phase wall-clock accumulators for the fused scorer, updated by
# every worker batch (two perf_counter calls per phase per 20k-row
# batch — noise). Read where the generator runs in-process (perfbench's
# kernel phases, tools/profile_scoring.py --inproc); in real Spark runs
# each python worker accumulates its own copy (not collected).
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


def make_fused_batches(src, id_col, attach, specs, families, i_l, i_r, emit_attach=(),
                       decide=None):
    """Worker-side generator factory for score_pairs_fused: per Arrow
    batch of candidate pairs (ids at columns ``i_l`` / ``i_r``), record
    fields -> sims + score (_make_sim_engine) -> cascade_match_mask ->
    the matched rows as DECIDED_COLUMNS. Module level so it also runs
    in-process over pyarrow batches, without a SparkSession.

    ``src`` is where the record fields come from:
      * a path to score_pairs_fused's scratch parquet (read once per
        worker, column-pruned);
      * any object with a ``.value`` Arrow table (ArrowIpcLookup, or an
        in-process shim);
      * None: each batch already carries the l_*/r_* columns
        (attach_pair_fields' join).
    ``emit_attach`` only widens the fields read from ``src``; the output
    projection is fixed. ``decide``: see score_pairs_fused."""
    decide = decide or {}
    threshold = decide.get("threshold", 0.92)
    same_dataset_distinct = decide.get("same_dataset_distinct", False)
    lookup = _lookup_fields(attach, specs, emit_attach)

    def _fused_batches(batches):
        from time import perf_counter

        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.compute as pc

        from pseudopeople_spark.linkage import scoring as _S

        ph = _S.PHASE_SECONDS
        if src is not None:
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
            if src is None:
                t1 = t0
                col = {f"{side}_{c}": rb.column(f"{side}_{c}") for side in ("l", "r") for c in lookup}
            else:
                take_l = index.get_indexer(ids_l.to_numpy(zero_copy_only=False))
                take_r = index.get_indexer(ids_r.to_numpy(zero_copy_only=False))
                if (take_l < 0).any() or (take_r < 0).any():
                    raise ValueError("pair id not present in the records lookup table")
                tl, tr = pa.array(take_l), pa.array(take_r)
                t1 = perf_counter()
                col = {
                    f"{side}_{c}": pc.take(rec_cols[c], tk)
                    for side, tk in (("l", tl), ("r", tr))
                    for c in lookup
                }
            t2 = perf_counter()
            add_arrays, add_names = compute(col, rb.num_rows)
            t3 = perf_counter()
            simmap = {
                nm[4:]: a.to_numpy(zero_copy_only=False)
                for nm, a in zip(add_names, add_arrays)
                if nm.startswith("sim_")
            }
            score = add_arrays[add_names.index("score")].to_numpy(zero_copy_only=False)
            mask = cascade_match_mask(
                simmap, score, col,
                threshold=threshold, same_dataset_distinct=same_dataset_distinct,
            )
            sel = pa.array(np.flatnonzero(mask))
            out = pa.RecordBatch.from_arrays(
                [
                    pc.take(ids_l, sel),
                    pc.take(ids_r, sel),
                    pa.array(score[mask], type=pa.float64()),
                    pa.array(np.ones(len(sel), dtype=bool)),
                    pc.take(col["l_ssn_digits"], sel),
                    pc.take(col["r_ssn_digits"], sel),
                ],
                names=list(DECIDED_COLUMNS),
            )
            t4 = perf_counter()
            ph["lookup"] += t1 - t0
            ph["take"] += t2 - t1
            ph["sims"] += t3 - t2
            ph["emit"] += t4 - t3
            yield out

    return _fused_batches


def cascade_match_mask(sim, score, aux, threshold=0.92, same_dataset_distinct=False):
    """The match decision over one Arrow batch (numpy/pyarrow): a
    deterministic rule cascade, each tier motivated by one of the
    reference's noise channels, with the weighted score as the
    probabilistic fallback, plus the same-dataset-period hard
    constraint:

      tier 1    SSN exact + first name, dob, or (first name or dob
                missing) last name agrees. The corroboration matters:
                copy_from_household_member puts a relative's SSN on 1%
                of tax rows, so a bare SSN join would merge households;
      tier 1b   SSN within 2 edits (both full 9-digit) + a similar
                corroboration;
      tier 2    dob agrees (month/day swap included) + strong last name
                + first name strong or missing;
      tier 3    score >= threshold with >= 3 of six fields present on
                both sides;
      tier 4    dob missing: near-exact names + middle, address or
                birth year;
      tier 5    dob conflict (a relative's dob copied): near-exact
                names + near dob, or matching middle initial or address;
      tier 6    last name missing: first name + exact dob;
      vetoes    first-name JW < 0.65 (kin at one address share dob and
                last name), SSNs > 4 edits apart, and in tiers 4-5
                zips that disagree;
      distinct  with ``same_dataset_distinct``, a same-dataset
                same-period pair is two entities (one row per entity
                per dataset-period) unless it is a guardian-duplication
                twin (equal base_rid).

    The JVM Column form of the same rules, with the reason for each
    threshold, is tests/cascade_reference.py;
    tests/test_cascade_parity.py checks the two agree on an adversarial
    null grid and on both field sources.

    SQL three-valued logic maps to two-valued numpy here because every
    NULL-producing comparison in the cascade sits under an EVEN number
    of negations: NaN comparisons yield False, which `coalesce(tier,
    False)` makes equivalent — and each NEGATED subterm (veto,
    ssn_conflict, byear_conflict, geo_conflict, same_dataset) is
    null-proof by construction (isNotNull guards / non-null inputs /
    pre-coalesced), mirroring the Column definitions.

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


def match_edges(scored: DataFrame) -> DataFrame:
    """score_pairs_fused's matched rows -> (id_l, id_r, score) edges
    for the clustering stage, after identifier-consensus pruning. The
    prune scans its input ~3x, so pass a materialized frame (the
    pipeline passes its scoring checkpoint)."""
    edges = prune_edges_by_ssn_consensus(scored.where(F.col("is_match")))
    return edges.select("id_l", "id_r", "score")
