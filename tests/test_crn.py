"""CRN determinism contract (SURVEY.md §2.D / §7.0): draws are keyed
only by (seed, decision, record key) — invariant to partitioning — and
the portable LCG evaluates identically in DuckDB."""

import duckdb
import numpy as np
from pyspark.sql import functions as F

import pytest

from pseudopeople_spark.crn import (
    fold_salt64,
    hash_u01,
    hash_u01_py,
    hash_u01_salted_sql,
    hash_u01_sql,
    portable_u01,
    portable_u01_spark_sql,
    portable_u01_sql,
    salted_u01_sql,
    splitmix64_u01,
    u01_sql,
    xxhash64_py,
)


def test_hash_u01_range_and_determinism(spark):
    df = spark.range(10_000).select(hash_u01(F.col("id"), 42, "t").alias("u"))
    row = df.agg(F.min("u"), F.max("u"), F.avg("u")).collect()[0]
    assert 0.0 <= row[0] and row[1] < 1.0
    assert abs(row[2] - 0.5) < 0.02  # uniform mean

    a = spark.range(1000).select(hash_u01(F.col("id"), 7, "x").alias("u")).collect()
    b = spark.range(1000).repartition(17).select(hash_u01(F.col("id"), 7, "x").alias("u")).collect()
    assert sorted(r["u"] for r in a) == sorted(r["u"] for r in b), "partitioning changed draws"


def test_different_seeds_and_decisions_differ(spark):
    base = spark.range(500)
    u1 = base.select(hash_u01(F.col("id"), 1, "d").alias("u")).collect()
    u2 = base.select(hash_u01(F.col("id"), 2, "d").alias("u")).collect()
    u3 = base.select(hash_u01(F.col("id"), 1, "e").alias("u")).collect()
    assert [r["u"] for r in u1] != [r["u"] for r in u2]
    assert [r["u"] for r in u1] != [r["u"] for r in u3]


def test_portable_u01_matches_duckdb(spark):
    sdf = spark.range(2000).select(F.col("id"), portable_u01(F.col("id"), 42, "leave_blank").alias("u"))
    spark_vals = {r["id"]: r["u"] for r in sdf.collect()}
    expr = portable_u01_sql("i", 42, "leave_blank")
    duck = duckdb.sql(f"SELECT i, {expr} AS u FROM (SELECT unnest(range(2000)) AS i)").fetchall()
    for i, u in duck:
        assert spark_vals[i] == u, f"id {i}: spark {spark_vals[i]} != duckdb {u}"


@pytest.mark.parametrize(
    "column_form, text_form", [(hash_u01, hash_u01_sql), (portable_u01, portable_u01_spark_sql)]
)
def test_sql_text_twin_draws_bit_identical(spark, column_form, text_form):
    """The noise plan is built from the SQL-text twins; every draw must
    equal the Column form's bit for bit, over negative, small and
    int64-extreme keys and over seeds whose folded salt is negative."""
    extremes = spark.createDataFrame(
        [(-(2**63),), (2**63 - 1,), (2**31 - 1,), (2**31,), (-1,)], "id bigint"
    )
    keys = spark.range(-1000, 1000).unionByName(extremes)
    assert u01_sql(column_form) is text_form and u01_sql(text_form) is text_form
    for seed, decision in [(0, "leave_blank_first_name"), (7, "wwd_digit_ssn_3"), ("s|x", "omit_row")]:
        if column_form is portable_u01 and isinstance(seed, str):
            continue  # the portable LCG takes integer seeds only
        got = keys.select(
            "id",
            column_form(F.col("id"), seed, decision).alias("a"),
            F.expr(text_form("id", seed, decision)).alias("b"),
        ).where("NOT (a <=> b)")
        assert got.count() == 0, got.limit(5).collect()


def test_u01_sql_rejects_unknown_factory():
    with pytest.raises(TypeError):
        u01_sql(lambda key, seed, decision: key)


def test_splitmix64_u01_vectorized_stateless():
    keys = np.arange(1000, dtype=np.uint64)
    u = splitmix64_u01([keys, np.uint64(3), np.uint64(9)])
    assert u.shape == (1000,)
    assert (u >= 0).all() and (u < 1).all()
    u2 = splitmix64_u01([keys, np.uint64(3), np.uint64(9)])
    assert (u == u2).all()
    assert abs(u.mean() - 0.5) < 0.05


@pytest.mark.parametrize("factory", [hash_u01, portable_u01_spark_sql])
def test_salted_form_draws_bit_identical(spark, factory):
    """The salt-as-SQL form over a BIGINT literal salt (as
    write_wrong_digits picks it from a literal array) draws what the
    text twin draws."""
    salt, draw = salted_u01_sql(factory)
    text_form = u01_sql(factory)
    keys = spark.range(-1000, 1000) if text_form is hash_u01_sql else spark.range(0, 2000)
    cols = []
    for seed, decision in [(0, "wwd_ssn_0"), (7, "wwd_digit_ssn_15"), (2**40, "x")]:
        cols += [
            F.expr(text_form("id", seed, decision)),
            F.expr(draw("id", f"element_at(array({salt(seed, decision)}L, 0L), 1)")),
        ]
    rows = keys.select(*cols).collect()
    assert all(r[i] == r[i + 1] for r in rows for i in range(0, len(cols), 2))


def test_min_bigint_salt_literal(spark):
    """fold_salt64 can return -2**63; its BIGINT literal must parse."""
    got = spark.range(3).select(
        F.expr(hash_u01_salted_sql("id", f"{-(2**63)}L")).alias("a"),
        F.expr(hash_u01_salted_sql("id", f"CAST({-(2**63)} AS BIGINT)")).alias("b"),
    ).where("NOT (a <=> b)")
    assert got.count() == 0


def test_fold_salt64_is_length_framed():
    """A separator inside the seed cannot move the seed/decision
    boundary: seed '1|a' with decision 'b' and seed '1' with decision
    'a|b' once folded the same text."""
    assert fold_salt64("1|a", "b") != fold_salt64("1", "a|b")
    assert fold_salt64(1, "a") == fold_salt64("1", "a")  # the seed is folded as text


def test_xxhash64_py_matches_spark(spark):
    """The Python twin of Spark's xxhash64 over BIGINT arguments, on
    the edge values and on random tuples of one to four arguments."""
    import random

    edges = [0, -1, 2**63 - 1, -(2**63), 1, 42]
    rng = random.Random(17)
    tuples = [(a,) for a in edges] + [(a, b) for a in edges for b in edges]
    tuples += [tuple(rng.randrange(-(2**63), 2**63) for _ in range(rng.randint(1, 4))) for _ in range(150)]
    exprs = [
        "xxhash64(" + ", ".join(f"CAST({v} AS BIGINT)" if v != -(2**63) else f"{v}L" for v in t) + ")"
        for t in tuples
    ]
    row = spark.range(1).selectExpr(*exprs).first()
    assert [row[i] for i in range(len(tuples))] == [xxhash64_py(*t) for t in tuples]


def test_hash_u01_py_matches_hash_u01(spark):
    keys = [0, -1, 2**63 - 1, -(2**63), 12345]
    df = spark.createDataFrame([(k,) for k in keys], "k bigint")
    got = df.select("k", hash_u01(F.col("k"), 9, "make_typos_first_name").alias("u")).collect()
    assert {r["k"]: r["u"] for r in got} == {k: hash_u01_py(k, 9, "make_typos_first_name") for k in keys}
