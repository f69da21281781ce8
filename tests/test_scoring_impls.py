"""The two score_pairs physical strategies (mapInArrow vs scalar
pandas UDFs) must be value-identical — score_pairs_arrow is the default
plan precisely because it is a pure physical rewrite (see
scoring.score_pairs docstring; measured 1.5-2x on the 8.4M-pair A/B,
tools/ab_scoring_gate.py)."""

from __future__ import annotations

import math

import pytest

from pseudopeople_spark.linkage import scoring


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


@pytest.fixture(scope="module")
def wide(spark):
    cols = ["id_l", "id_r"]
    for f in ["first_name", "last_name", "dob", "ssn_digits", "zipcode", "city", "sex", "middle"]:
        cols += [f"l_{f}", f"r_{f}"]
    rows = []
    for r in _rows():
        (il, ir, lf, rf, ll, rl, ld, rd, ls, rs, lz, rz, lc, rc, lx, rx, lm, rm) = r
        rows.append((il, ir, lf, rf, ll, rl, ld, rd, ls, rs, lz, rz, lc, rc, lx, rx, lm, rm))
    return spark.createDataFrame(rows, cols)


def _collect(df):
    out = {}
    for row in df.collect():
        d = row.asDict()
        out[(d["id_l"], d["id_r"])] = {
            k: v for k, v in d.items() if k.startswith("sim_") or k == "score"
        }
    return out


def test_arrow_and_udf_scorers_identical(wide):
    a = _collect(scoring.score_pairs_arrow(wide))
    u = _collect(scoring.score_pairs_udf(wide))
    assert a.keys() == u.keys()
    for key in a:
        for col in a[key]:
            x, y = a[key][col], u[key][col]
            assert (x is None) == (y is None), (key, col, x, y)
            if x is not None:
                assert math.isclose(x, y, rel_tol=0, abs_tol=0), (key, col, x, y)


_FIELDS = ["first_name", "last_name", "dob", "ssn_digits", "zipcode", "city", "sex", "middle"]


def _records_and_pairs(spark):
    """The _rows() pairs as an int-id records table + bare id pairs."""
    recs = []
    for i, r in enumerate(_rows()):
        (il, ir, lf, rf, ll, rl, ld, rd, ls, rs, lz, rz, lc, rc, lx, rx, lm, rm) = r
        recs.append((2 * i, lf, ll, ld, ls, lz, lc, lx, lm))
        recs.append((2 * i + 1, rf, rl, rd, rs, rz, rc, rx, rm))
    records = spark.createDataFrame(recs, ["record_id"] + _FIELDS)
    pairs = spark.createDataFrame(
        [(2 * i, 2 * i + 1) for i in range(len(_rows()))], ["id_l", "id_r"]
    )
    return records, pairs


def test_fused_broadcast_scorer_matches_join_path(spark):
    records, pairs = _records_and_pairs(spark)
    fused = scoring.score_pairs_fused(spark, pairs, records, _FIELDS)
    joined = scoring.score_pairs_arrow(
        scoring.attach_pair_fields(pairs, records, _FIELDS)
    )
    f = {(r["id_l"], r["id_r"]): r.asDict() for r in fused.collect()}
    j = {(r["id_l"], r["id_r"]): r.asDict() for r in joined.collect()}
    assert f.keys() == j.keys()
    for key in f:
        for col in f[key]:
            assert f[key][col] == j[key][col] or (
                f[key][col] is None and j[key][col] is None
            ), (key, col, f[key][col], j[key][col])


def test_ipc_lookup_call_removes_previous_scratch_dir(spark, tmp_path, monkeypatch):
    """The single live scratch-lookup slot is cleared on BOTH lookup
    branches: a scratch-parquet call followed by a closure-IPC call
    leaves no scratch dir behind."""
    monkeypatch.setenv("PP_FUSED_LOOKUP_DIR", str(tmp_path))
    records, pairs = _records_and_pairs(spark)
    big = scoring.score_pairs_fused(
        spark, pairs, records, _FIELDS, n_records=scoring.SMALL_LOOKUP_MAX_ROWS + 1
    )
    want = sorted(big.collect())
    assert len(list(tmp_path.iterdir())) == 1  # the parquet lookup
    small = scoring.score_pairs_fused(spark, pairs, records, _FIELDS, n_records=len(_rows()) * 2)
    assert list(tmp_path.iterdir()) == []
    assert scoring._LIVE_REC_DIR is None
    assert sorted(small.collect()) == want


def test_ipc_lookup_over_byte_gate_takes_parquet_path(spark, tmp_path, monkeypatch):
    """A records table under the row gate but over the byte gate is
    looked up from scratch parquet, with unchanged scores."""
    monkeypatch.setenv("PP_FUSED_LOOKUP_DIR", str(tmp_path))
    records, pairs = _records_and_pairs(spark)
    n = len(_rows()) * 2
    want = sorted(scoring.score_pairs_fused(spark, pairs, records, _FIELDS, n_records=n).collect())
    assert list(tmp_path.iterdir()) == []  # IPC path: no scratch write
    monkeypatch.setattr(scoring, "SMALL_LOOKUP_MAX_BYTES", 1)
    gated = scoring.score_pairs_fused(spark, pairs, records, _FIELDS, n_records=n)
    assert len(list(tmp_path.iterdir())) == 1  # the parquet lookup
    assert scoring._LIVE_REC_DIR is not None
    assert sorted(gated.collect()) == want


def test_arrow_scorer_known_values(wide):
    a = _collect(scoring.score_pairs_arrow(wide))
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
