"""The one scorer (scoring.score_pairs_fused over make_fused_batches):
its Arrow sims against the Python scalar kernels (which
test_similarity pins to DuckDB), its two field sources — the per-worker
lookup and attach_pair_fields' join — against each other, and the
lookup's size gates."""

from __future__ import annotations

import pyarrow as pa

from pseudopeople_spark.functions import similarity as S
from pseudopeople_spark.linkage import scoring
from pseudopeople_spark.plans.inspect import count_python_eval_nodes, physical_plan


def _rows():
    # edge cases: nulls each side, empty strings, equal, case-differing,
    # nickname family pairs, month/day-swapped dob, near/far ssn,
    # non-ascii names (exercises the vectorized-lev ascii fallback)
    return [
        ("a1", "b1", "WILLIAM", "BILL", "SMITH", "SMYTH", "19800102", "19800201", "123456789", "123456780", "99501", "99501", "ANCHORAGE", "ANCHORAGE", "M", "M", "J", "J"),
        ("a2", "b2", None, "MARY", "JONES", None, "19900515", "19900515", None, "987654321", "10001", "10002", "NYC", "NYC", "F", "F", None, "K"),
        ("a3", "b3", "", "", "LEE", "LEE", "", "", "", "", "", "", "", "", "", "", "", ""),
        ("a4", "b4", "JOSÉ", "JOSE", "GARCÍA", "GARCIA", "19751231", "19753112", "111223333", "999887777", "77001", "77001", "HOUSTON", "HOUSTON", "M", "F", "A", "B"),
        ("a5", "b5", "KATHERINE", "KATY", "O'BRIEN", "OBRIEN", "20000229", "20000229", "555443333", "555443333", "60601", "60601", "CHICAGO", "CHICAGO", "F", "F", "R", "R"),
        ("a6", "b6", "BOB", "ROBERT", "BROWN", "BRAUN", "19651111", "19651111", None, None, "30301", None, "ATLANTA", "ATL", "M", "M", None, None),
    ]


# the field order of _rows(): (id_l, id_r, then l/r of each field)
_FIELDS = ["first_name", "last_name", "dob", "ssn_digits", "zipcode", "city", "sex", "middle"]


def _engine_sims():
    """sim_<field> and score of every _rows() pair, from the worker's
    Arrow engine run in-process."""
    rows = _rows()
    col = {}
    for k, f in enumerate(_FIELDS):
        col[f"l_{f}"] = pa.array([r[2 + 2 * k] for r in rows], pa.string())
        col[f"r_{f}"] = pa.array([r[3 + 2 * k] for r in rows], pa.string())
    specs = [(s.name, s.kind, s.weight) for s in scoring.DEFAULT_FIELDS]
    arrays, names = scoring._make_sim_engine(scoring._nickname_families(), specs)(col, len(rows))
    return {
        (r[0], r[1]): {n: a[i].as_py() for n, a in zip(names, arrays)}
        for i, r in enumerate(rows)
    }


def _scalar_sim(name, kind, a, b, pair_sim):
    """One field's similarity from the Python scalar kernels."""
    if a is None or b is None:
        return None
    if kind == "jw":
        a, b = a.upper(), b.upper()
        if a == b:
            return 1.0 if a else 0.0
        return pair_sim(a, b) if name == "first_name" else S.jaro_winkler(a, b)
    if kind == "exact":
        return 1.0 if a == b else 0.0
    if kind == "dob" and (a == b or a[:4] + a[6:8] + a[4:6] == b):
        return 1.0
    m = max(len(a), len(b))
    return 1.0 - S.levenshtein(a, b) / m if m else None


def test_arrow_sims_match_scalar_kernels():
    """Every (pair, field) sim and every score of the Arrow engine
    equals the scalar kernels' value exactly: the vectorized equality
    gates, the numpy Levenshtein, the memos and the ASCII fallback
    change no value."""
    pair_sim = S.make_pair_sim(scoring._nickname_families())
    got = _engine_sims()
    for r in _rows():
        num = den = 0.0
        for spec in scoring.DEFAULT_FIELDS:
            k = _FIELDS.index(spec.name)
            want = _scalar_sim(spec.name, spec.kind, r[2 + 2 * k], r[3 + 2 * k], pair_sim)
            assert got[(r[0], r[1])][f"sim_{spec.name}"] == want, (r[0], spec.name)
            if want is not None:
                num += want * spec.weight
                den += spec.weight
        assert got[(r[0], r[1])]["score"] == (num / den if den > 0 else 0.0), r[0]


def test_arrow_scorer_known_values():
    a = _engine_sims()
    # equal non-empty strings -> 1.0; both-empty names -> 0.0
    assert a[("a3", "b3")]["sim_first_name"] == 0.0
    assert a[("a3", "b3")]["sim_last_name"] == 1.0
    # both-empty ssn mirrors Spark's null for 1 - lev/0
    assert a[("a3", "b3")]["sim_ssn_digits"] is None
    # month/day swap is an exact dob match
    assert a[("a4", "b4")]["sim_dob"] == 1.0
    assert a[("a1", "b1")]["sim_dob"] == 1.0
    # nickname family (WILLIAM/BILL) >= the 0.93 family floor
    assert a[("a1", "b1")]["sim_first_name"] >= 0.93
    # null on either side -> null sim
    assert a[("a2", "b2")]["sim_first_name"] is None
    assert a[("a6", "b6")]["sim_middle"] is None


_ATTACH = _FIELDS + ["dataset", "period", "byear", "base_rid"]


def _records_and_pairs(spark):
    """The _rows() pairs as an int-id records table (left side census,
    right side W-2, so the same-dataset veto never applies) + bare id
    pairs."""
    recs = []
    for i, r in enumerate(_rows()):
        for side, dataset in ((0, "census"), (1, "w2")):
            rid = 2 * i + side
            vals = [r[2 + 2 * k + side] for k in range(len(_FIELDS))]
            dob = vals[_FIELDS.index("dob")]
            recs.append((rid, *vals, dataset, "2020", dob[:4] if dob else None, rid))
    records = spark.createDataFrame(
        recs,
        "record_id long, " + ", ".join(f"{f} string" for f in _FIELDS)
        + ", dataset string, period string, byear string, base_rid long",
    )
    pairs = spark.createDataFrame(
        [(2 * i, 2 * i + 1) for i in range(len(_rows()))], "id_l long, id_r long"
    )
    return records, pairs


def test_fused_broadcast_scorer_matches_join_path(spark, monkeypatch):
    """The per-worker lookup and attach_pair_fields' co-partitioned join
    feed the one generator the same fields: identical decided rows, one
    Python pass each, and a join only on the join side."""
    records, pairs = _records_and_pairs(spark)
    n = len(_rows()) * 2
    looked_up = scoring.score_pairs_fused(spark, pairs, records, _ATTACH, n_records=n)
    monkeypatch.setattr(scoring, "LOOKUP_MAX_ROWS", 0)
    joined = scoring.score_pairs_fused(spark, pairs, records, _ATTACH, n_records=n)
    assert "Join" not in physical_plan(looked_up)
    assert "Join" in physical_plan(joined)
    assert count_python_eval_nodes(looked_up) == count_python_eval_nodes(joined) == 1
    assert looked_up.columns == joined.columns == list(scoring.DECIDED_COLUMNS)
    want = sorted(looked_up.collect())
    assert want and sorted(joined.collect()) == want


def test_ipc_lookup_call_removes_previous_scratch_dir(spark, tmp_path, monkeypatch):
    """The single live scratch-lookup slot is cleared on BOTH lookup
    branches: a scratch-parquet call followed by a closure-IPC call
    leaves no scratch dir behind."""
    monkeypatch.setenv("PP_FUSED_LOOKUP_DIR", str(tmp_path))
    records, pairs = _records_and_pairs(spark)
    big = scoring.score_pairs_fused(
        spark, pairs, records, _ATTACH, n_records=scoring.SMALL_LOOKUP_MAX_ROWS + 1
    )
    want = sorted(big.collect())
    assert want
    assert len(list(tmp_path.iterdir())) == 1  # the parquet lookup
    small = scoring.score_pairs_fused(spark, pairs, records, _ATTACH, n_records=len(_rows()) * 2)
    assert list(tmp_path.iterdir()) == []
    assert scoring._LIVE_REC_DIR is None
    assert sorted(small.collect()) == want


def test_ipc_lookup_over_byte_gate_takes_parquet_path(spark, tmp_path, monkeypatch):
    """A records table under the row gate but over the byte gate is
    looked up from scratch parquet, with unchanged scores."""
    monkeypatch.setenv("PP_FUSED_LOOKUP_DIR", str(tmp_path))
    records, pairs = _records_and_pairs(spark)
    n = len(_rows()) * 2
    want = sorted(scoring.score_pairs_fused(spark, pairs, records, _ATTACH, n_records=n).collect())
    assert list(tmp_path.iterdir()) == []  # IPC path: no scratch write
    monkeypatch.setattr(scoring, "SMALL_LOOKUP_MAX_BYTES", 1)
    gated = scoring.score_pairs_fused(spark, pairs, records, _ATTACH, n_records=n)
    assert len(list(tmp_path.iterdir())) == 1  # the parquet lookup
    assert scoring._LIVE_REC_DIR is not None
    assert sorted(gated.collect()) == want
