"""Similarity function tests: Jaro-Winkler matches DuckDB bit-for-bit
(the oracle contract), metaphone blocking properties, n-gram expression."""

import duckdb
import random
import string

import pytest
from pyspark.sql import functions as F

from pseudopeople_spark.functions.similarity import (
    _double_metaphone_one,
    jaro_winkler,
    jaro_winkler_udf,
    ngrams,
    token_set_ratio_udf,
)


def test_jaro_winkler_matches_duckdb_exactly():
    con = duckdb.connect()
    random.seed(7)
    cases = [("MARTHA", "MARHTA"), ("DIXON", "DICKSONX"), ("", ""), ("", "A"), ("SMITH", "SMYTH")]
    cases += [
        (
            "".join(random.choices(string.ascii_uppercase[:8], k=random.randint(0, 12))),
            "".join(random.choices(string.ascii_uppercase[:8], k=random.randint(0, 12))),
        )
        for _ in range(800)
    ]
    for a, b in cases:
        d = con.execute("select jaro_winkler_similarity(?, ?)", [a, b]).fetchone()[0]
        assert jaro_winkler(a, b) == d, (a, b)


def test_jw_batch_matches_scalar():
    """The vectorized batch kernel behind jaro_winkler_udf must be
    value-IDENTICAL (same float64 ops, same order) to the scalar
    kernel the DuckDB-parity test pins — including empties, equal
    strings, the Winkler prefix boost, transpositions, unicode, and
    the >64-char scalar fallback."""
    from pseudopeople_spark.functions.similarity import jaro_winkler_batch

    random.seed(11)
    cases = [("MARTHA", "MARHTA"), ("DIXON", "DICKSONX"), ("", ""), ("", "A"), ("A", ""),
             ("SMITH", "SMITH"), ("ünïcø", "unico"), ("x" * 70, "x" * 69 + "y")]
    cases += [
        (
            "".join(random.choices(string.ascii_uppercase[:8] + "# 0", k=random.randint(0, 14))),
            "".join(random.choices(string.ascii_uppercase[:8] + "# 0", k=random.randint(0, 14))),
        )
        for _ in range(3000)
    ]
    xs = [c[0] for c in cases]
    ys = [c[1] for c in cases]
    got = jaro_winkler_batch(xs, ys)
    for i, (a, b) in enumerate(cases):
        if a == b:
            exp = 1.0 if a else 0.0
        elif not a or not b:
            exp = 0.0
        else:
            exp = jaro_winkler(a, b)
        assert got[i] == exp, (a, b, got[i], exp)


def test_jaro_winkler_udf(spark):
    df = spark.createDataFrame([("MARTHA", "MARHTA"), ("A", None)], ["a", "b"])
    rows = df.select(jaro_winkler_udf("a", "b").alias("s")).collect()
    assert abs(rows[0]["s"] - jaro_winkler("MARTHA", "MARHTA")) < 1e-12
    assert rows[1]["s"] is None


def test_double_metaphone_blocking_properties():
    # phonetically-similar surnames share a primary code
    assert _double_metaphone_one("SMITH")[0] == _double_metaphone_one("SMYTH")[0]
    assert _double_metaphone_one("PHILLIPS")[0] == _double_metaphone_one("FILLIPS")[0]
    assert _double_metaphone_one("CATHERINE")[0] == _double_metaphone_one("KATHERINE")[0]
    # secondary differs from primary where alternate codings exist
    p, s = _double_metaphone_one("SCHMIDT")
    assert p  # non-empty
    assert _double_metaphone_one("")[0] == ""
    assert _double_metaphone_one("123")[0] == ""


def test_ngrams_expression(spark):
    df = spark.createDataFrame([("abcd",)], ["s"])
    row = df.select(ngrams("s", 3).alias("g")).first()
    assert row["g"] == ["abc", "bcd"]
    row2 = df.select(ngrams(F.lit("ab"), 3).alias("g")).first()
    assert row2["g"] == ["ab"]  # shorter than n -> single truncated gram


def test_token_set_ratio(spark):
    df = spark.createDataFrame([("ACME CORP LLC", "CORP ACME"), ("X", "Y")], ["a", "b"])
    rows = df.select(token_set_ratio_udf("a", "b").alias("s")).collect()
    assert abs(rows[0]["s"] - 2 / 3) < 1e-12
    assert rows[1]["s"] == 0.0


def _signed64(x: int) -> int:
    x %= 2**64
    return x - 2**64 if x >= 2**63 else x


# xxhash64-sized int64 ids (negative and above 2^53): a float64 round
# trip anywhere in a prune would merge or mislabel them
_BIG_IDS = {
    name: _signed64(i * 0x9E3779B97F4A7C15)
    for i, name in enumerate(
        ["c1", "c2", "c3", "c4", "c5", "s1", "s5", "w1", "w2", "w3", "w4",
         "w5", "w6", "w7", "w8", "w9", "w10"], 1
    )
}


def _spark_prune(edges):
    from pseudopeople_spark.linkage.scoring import prune_edges_by_ssn_consensus

    return [(r["id_l"], r["id_r"]) for r in prune_edges_by_ssn_consensus(edges).collect()]


def _local_prune(edges):
    from pseudopeople_spark.linkage.scoring import prune_edges_by_ssn_consensus_local

    kept = prune_edges_by_ssn_consensus_local(edges.toPandas())
    return [(int(a), int(b)) if not isinstance(a, str) else (a, b)
            for a, b in zip(kept["id_l"], kept["id_r"])]


@pytest.mark.parametrize("ids", ["string", "int64"])
@pytest.mark.parametrize("prune", [_spark_prune, _local_prune], ids=["spark", "local"])
def test_ssn_consensus_pruning(spark, prune, ids):
    """Identifier-consensus edge pruning (scoring.prune_edges_by_ssn_
    consensus, and its driver twin ..._local that the pipeline's
    small-edge-set clustering runs): a bare-SSN record whose partners
    disagree keeps only strict-majority-SSN edges; ties keep
    everything. Both must keep exactly the same edges, ids intact."""
    rows = [
        # census c1: two partners vote ssn A, one votes B -> B edge dropped
        ("c1", "w1", 0.99, None, "111111111"),
        ("c1", "s1", 0.99, None, "111111111"),
        ("c1", "w9", 0.99, None, "222222222"),
        # census c2: tie (1 vote each) -> both kept
        ("c2", "w2", 0.95, None, "333333333"),
        ("c2", "w3", 0.95, None, "444444444"),
        # two-sided ssn edge: untouched
        ("s1", "w1", 0.99, "111111111", "111111111"),
        # census c3: single partner, no disagreement -> kept
        ("c3", "w4", 0.93, None, "555555555"),
        # census c4: minority vote is a 1-digit NOISE VARIANT of the
        # winner (write_wrong_digits) -> same identity, edge KEPT
        ("c4", "w5", 0.99, None, "666666666"),
        ("c4", "w6", 0.99, None, "666666666"),
        ("c4", "w7", 0.99, None, "666666667"),
        # census c5 bare on the RIGHT side: same majority rule
        ("w8", "c5", 0.99, "777777777", None),
        ("s5", "c5", 0.99, "777777777", None),
        ("w10", "c5", 0.97, "888888888", None),
    ]
    to_id = (lambda x: x) if ids == "string" else _BIG_IDS.__getitem__
    edges = spark.createDataFrame(
        [(to_id(a), to_id(b), *rest) for a, b, *rest in rows],
        f"id_l {ids if ids == 'string' else 'long'}, id_r {ids if ids == 'string' else 'long'}, "
        "score double, l_ssn_digits string, r_ssn_digits string",
    )
    kept = prune(edges)
    assert len(kept) == len(set(kept))
    kept = set(kept)
    e = lambda a, b: (to_id(a), to_id(b))  # noqa: E731
    assert e("c1", "w9") not in kept and e("w10", "c5") not in kept
    assert {e("c1", "w1"), e("c1", "s1"), e("c2", "w2"), e("c2", "w3"), e("s1", "w1"), e("c3", "w4"),
            e("w8", "c5"), e("s5", "c5")} <= kept
    assert e("c4", "w7") in kept, "digit-noised variant of the winning SSN must survive"
    assert kept == set(_spark_prune(edges))


def test_ssn_consensus_local_matches_spark_random(spark):
    """Random vote patterns (ties, right-side bare records, empty and
    near-miss SSNs, xxhash64-sized ids): the driver prune keeps exactly
    the Spark prune's edges."""
    rng = random.Random(5)
    pool = ["111111111", "111111112", "999999999", "123456789", ""]
    rows = []
    for k in range(400):
        a, b = (_signed64(rng.randrange(40) * 0x9E3779B97F4A7C15) for _ in range(2))
        l_ssn = rng.choice(pool + [None] * 5)
        r_ssn = rng.choice(pool + [None] * 5)
        rows.append((a, b, 0.9 + k * 1e-4, l_ssn, r_ssn))
    edges = spark.createDataFrame(
        rows, "id_l long, id_r long, score double, l_ssn_digits string, r_ssn_digits string"
    )
    got = sorted(_local_prune(edges))
    want = sorted(_spark_prune(edges))
    assert got == want
    assert len(want) < len(rows)  # the fixture does prune something


def test_same_dataset_veto_scoped_to_period(spark):
    """The same-dataset hard veto is scoped to the dataset-PERIOD: a
    2020-census and a 2030-census row of one entity (perfect sims) is a
    legitimate match; two rows in the SAME period stay vetoed, as do
    rows with NULL periods (whole-dataset conservative default). Both
    the production worker cascade and the JVM reference decide so."""
    import numpy as np
    import pyarrow as pa

    from pseudopeople_spark.linkage.scoring import cascade_match_mask
    from tests.cascade_reference import tiered_match

    base = dict(
        score=1.0, sim_first_name=1.0, sim_last_name=1.0, sim_dob=1.0,
        sim_middle=1.0, sim_sex=1.0, sim_zipcode=1.0, sim_city=1.0,
        sim_ssn_digits=1.0,
        l_first_name="ALICE", r_first_name="ALICE",
        l_ssn_digits="123456789", r_ssn_digits="123456789",
        l_byear="1980", r_byear="1980",
        l_dataset="census", r_dataset="census",
    )
    rows = [
        {**base, "id_l": "a", "id_r": "b", "l_period": "2020", "r_period": "2030"},
        {**base, "id_l": "c", "id_r": "d", "l_period": "2020", "r_period": "2020"},
        {**base, "id_l": "e", "id_r": "f", "l_period": None, "r_period": None},
    ]
    want = {"a": True, "c": False, "e": False}
    scored = spark.createDataFrame(rows)
    got = {r["id_l"]: r["is_match"] for r in tiered_match(scored, same_dataset_distinct=True).collect()}
    assert got["a"] is True, "cross-period same-dataset pair must not be hard-vetoed"
    assert got["c"] is False, "same-period pair stays vetoed"
    assert got["e"] is False, "null periods keep the whole-dataset veto"

    sim = {k[4:]: np.array([r[k] for r in rows]) for k in base if k.startswith("sim_")}
    aux = {k: pa.array([r[k] for r in rows], pa.string()) for k in rows[0] if k[:2] in ("l_", "r_")}
    # distinct base_rids: no guardian-duplication twin among the rows
    aux["l_base_rid"], aux["r_base_rid"] = pa.array([1, 3, 5]), pa.array([2, 4, 6])
    mask = cascade_match_mask(sim, np.ones(3), aux, same_dataset_distinct=True)
    assert dict(zip(want, mask.tolist())) == want


def test_cross_best_equals_naive_cross_product():
    """_cross_best (bound-pruned, memoized) must be value-identical to
    the naive max over the family cross-product of
    1 - levenshtein/max(len) — including non-ASCII names, empty
    strings (ratio 0.0 by contract, pruned up front), and the >=0.93
    early stop (its only consumer caps the result at 0.93, so any
    early-stopped value must still compare equal after min(.,0.93))."""
    from pseudopeople_spark.functions.similarity import _cross_best, levenshtein

    rng = random.Random(7)
    pool = [
        "", "JOHN", "JON", "JOHNNY", "JONATHAN", "J", "JOSE", "JOSÉ",
        "KATHERINE", "KATE", "KATIE", "CATHERINE", "KIT", "ÅSA", "ASA",
        "ELIZABETH", "LIZ", "BETH", "BETSY", "ZZZZZZ", "QQ",
    ]

    def naive(va, vb):
        best = 0.0
        for x in va:
            for y in vb:
                m = max(len(x), len(y))
                if m:
                    best = max(best, 1.0 - levenshtein(x, y) / m)
        return best

    for _ in range(200):
        va = frozenset(rng.sample(pool, rng.randint(1, 6)))
        vb = frozenset(rng.sample(pool, rng.randint(1, 6)))
        got, want = _cross_best(va, vb), naive(va, vb)
        assert min(got, 0.93) == min(want, 0.93), (sorted(va), sorted(vb), got, want)
        if want < 0.93:
            assert got == want, (sorted(va), sorted(vb), got, want)
