"""Per-operator noise-rate checks at 1M rows against the reference's
DEFAULT levels, asserted with the Bayesian FuzzyChecker (tests/fuzzy.py;
spec reference tests/conftest.py:68-333 — Bayes factor > 100 decisive).

At n = 10^6 the binomial sigma around p = 0.01 is ~1e-4, so these
checks are far tighter than the 20k-row unit suites: a selection-rate
bug of a few parts in ten thousand is decisive here. All operators run
over ONE shared 1M-row frame and each observed count is a single
aggregate — the whole module is one Spark job per operator family.

Targets are the EXACT expected observed-change rates (the reference's
default levels with the documented self-collision / eligibility
scalings applied), not the nominal config values:
  * choose_wrong_option: observed change rate == cell_probability
    (1/(1-1/n) scaling, noise_scaling.py:10-23);
  * write_wrong_digits: per-char change rate == token_probability
    (1/0.9 selection x 9/10 actually-different);
  * write_wrong_zipcode_digits: per-digit change rate ==
    cell_probability x digit_probability;
  * use_nickname / copy_from_household_member: observed rate over ALL
    non-missing rows == cell_probability after the 1/proportion-eligible
    scaling (noise_scaling.py:26-45);
  * make_phonetic_errors / make_ocr_errors / make_typos: cell selection
    rate == cell_probability, and the corruption rate per eligible
    token of a selected cell == token_probability.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pseudopeople_spark import config, datasets as D
from pseudopeople_spark.operators import assets
from pseudopeople_spark.operators import column_noise as cn
from pseudopeople_spark.operators import row_noise as rn
from tests.fuzzy import fuzzy_assert_proportion

N = 1_000_000
P_CELL = config.DEFAULT_CELL_PROBABILITY      # 0.01, reference entity_types.py:79
P_TOKEN = config.DEFAULT_TOKEN_PROBABILITY    # 0.1, reference noise_entities.py:74-114


@pytest.fixture(scope="module")
def base(spark):
    df = spark.range(N).select(
        F.col("id").alias("key"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("v"),
        F.format_string("%05d", F.pmod(F.col("id") * 7919, F.lit(100000))).alias("zip"),
        (F.pmod("id", F.lit(90)) + 5).cast("string").alias("age"),
        F.lit("03/15/1984").alias("date"),
        F.format_string("%09d", F.col("id")).alias("digits"),
        # nickname eligibility: half the rows carry a name with nicknames
        F.when(F.pmod("id", F.lit(2)) == 0, "Robert").otherwise("Xnoname").alias("first"),
        # copy eligibility: 80% of rows have a household member to copy
        F.when(F.pmod("id", F.lit(5)) == 0, None).otherwise(F.lit("other")).alias("copy_v"),
        F.when(F.pmod("id", F.lit(2)) == 0, "OptA").otherwise("OptB").alias("opt"),
    ).localCheckpoint()
    return df


def _changed(df_before, df_after, col):
    j = df_before.select("key", F.col(col).alias("_b")).join(
        df_after.select("key", F.col(col).alias("_a")), "key"
    )
    return j.where(~F.col("_a").eqNullSafe(F.col("_b"))).count()


def test_leave_blank_default_rate(base):
    out = cn.leave_blank(base, "v", "key", p=P_CELL, seed=11)
    blanked = out.where(F.col("v").isNull()).count()
    fuzzy_assert_proportion("leave_blank@1M", blanked, N, P_CELL)


def test_choose_wrong_option_observed_change_rate(base):
    opts = ["OptA", "OptB", "OptC", "OptD"]
    out = cn.choose_wrong_option(base, "opt", "key", options=opts, p=P_CELL, seed=12)
    fuzzy_assert_proportion("choose_wrong_option@1M", _changed(base, out, "opt"), N, P_CELL)


def test_swap_month_day_default_rate(base):
    out = cn.swap_month_and_day(base, "date", "key", p=P_CELL, seed=13)
    fuzzy_assert_proportion("swap_month_day@1M", _changed(base, out, "date"), N, P_CELL)


def test_zipcode_per_digit_rates(base):
    digit_ps = (0.04, 0.04, 0.2, 0.36, 0.36)
    out = cn.write_wrong_zipcode_digits(
        base, "zip", "key", p=0.2, digit_probabilities=digit_ps, seed=14
    )
    j = base.select("key", F.col("zip").alias("_b")).join(
        out.select("key", F.col("zip").alias("_a")), "key"
    )
    counts = j.agg(*[
        F.sum((F.substring("_a", i + 1, 1) != F.substring("_b", i + 1, 1)).cast("long")).alias(f"d{i}")
        for i in range(5)
    ]).first()
    for i, dp in enumerate(digit_ps):
        fuzzy_assert_proportion(f"zip_digit_{i}@1M", counts[f"d{i}"], N, 0.2 * dp)


def test_misreport_age_selection_rate(base):
    out = cn.misreport_age(base, "age", "key", p=P_CELL, seed=15)
    # every selected row changes (reflect/collision keep delta != 0)
    fuzzy_assert_proportion("misreport_age@1M", _changed(base, out, "age"), N, P_CELL)


def test_write_wrong_digits_per_char_rate(base):
    out = cn.write_wrong_digits(base, "digits", "key", p=1.0, token_probability=P_TOKEN, seed=16)
    j = base.select("key", F.col("digits").alias("_b")).join(
        out.select("key", F.col("digits").alias("_a")), "key"
    )
    changed_chars = j.select(
        F.sum(sum(
            (F.substring("_a", i + 1, 1) != F.substring("_b", i + 1, 1)).cast("long")
            for i in range(9)
        )).alias("c")
    ).first()["c"]
    fuzzy_assert_proportion("write_wrong_digits_char@1M", changed_chars, N * 9, P_TOKEN)


def test_use_nickname_scaled_overall_rate(base):
    # eligibility proportion = 0.5 (half the names have nicknames);
    # with the 1/proportion scaling the OVERALL rate is cell_probability
    notna = F.col("first").isNotNull() & (F.col("first") != "")
    eligible = notna & F.col("first").isin("Robert")
    prop = base.agg(cn.eligibility_proportion_expr(eligible, notna, "__prop"))
    out = cn.use_nickname(
        base.crossJoin(F.broadcast(prop)), "first", "key",
        {"Robert": ["Bob", "Rob", "Bobby"]}, p=P_CELL, seed=17, proportion_col="__prop",
    )
    changed = out.where(~F.col("first").isin("Robert", "Xnoname")).count()
    fuzzy_assert_proportion("use_nickname_scaled@1M", changed, N, P_CELL)


def test_copy_from_household_member_scaled_rate(base):
    notna = F.col("v").isNotNull() & (F.col("v") != "")
    eligible = notna & F.col("copy_v").isNotNull()
    prop = base.agg(cn.eligibility_proportion_expr(eligible, notna, "__prop"))
    out = cn.copy_from_household_member(
        base.crossJoin(F.broadcast(prop)), "v", "key", "copy_v",
        p=P_CELL, seed=18, proportion_col="__prop",
    )
    fuzzy_assert_proportion("copy_household_scaled@1M", _changed(base, out, "v"), N, P_CELL)


def test_use_fake_name_default_rate(base):
    out = cn.use_fake_name(base, "v", "key", ["GIRL", "BOY", "ADULT"], p=P_CELL, seed=19)
    fuzzy_assert_proportion("use_fake_name@1M", _changed(base, out, "v"), N, P_CELL)


def test_omit_row_default_rate(base):
    out = rn.omit_rows(base, "key", p=0.005, seed=20)  # W2/WIC default, data_values.py
    fuzzy_assert_proportion("omit_row@1M", N - out.count(), N, 0.005)


def test_do_not_respond_census_default_rate(base):
    # uniform demographics -> expected rate is the exact mean of the
    # per-cell clipped probabilities; build it from the same tables
    races = list(rn.DNR_RACE_ADJ)
    df = base.select(
        "key",
        F.when(F.pmod("key", F.lit(2)) == 0, "Female").otherwise("Male").alias("sex"),
        F.pmod("key", F.lit(95)).cast("bigint").alias("age"),
    )
    race = None
    for i, r in enumerate(races):
        cond = F.pmod("key", F.lit(7)) == i
        race = F.when(cond, F.lit(r)) if race is None else race.when(cond, F.lit(r))
    df = df.withColumn("race_ethnicity", race)

    def cell_p(race_name, sex, age):
        p = rn.DNR_BASE + rn.DNR_RACE_ADJ[race_name]
        for s, lo, hi, adj in rn.DNR_SEX_AGE_ADJ:
            if s == sex and lo <= age < hi:
                p += adj
                break
        return min(max(p, 0.0), 1.0)

    expected = sum(
        cell_p(races[k % 7], "Female" if k % 2 == 0 else "Male", k % 95) for k in range(2 * 7 * 95)
    ) / (2 * 7 * 95)
    out = rn.do_not_respond(df, "key", seed=21)
    fuzzy_assert_proportion("do_not_respond_census@1M", N - out.count(), N, expected)


# (kind, rules, one eligible token that no longer rule starts with and
# every variant of which differs from it); a cell is that token ten
# times between spaces, and no rule token contains a space
TOKEN_KINDS = {
    "phonetic": (D.MAKE_PHONETIC_ERRORS, assets.PHONETIC_VARIANTS, "d"),
    "ocr": (D.MAKE_OCR_ERRORS, assets.OCR_ERRORS, "5"),
    "typos": (D.MAKE_TYPOS, assets.QWERTY_NEIGHBORS, "q"),
}
TOKENS_PER_CELL = 10


def _token_cells(base, token, rows=None):
    cells = base if rows is None else base.where(F.col("key") < rows)
    return cells.select("key", F.lit(" ".join([token] * TOKENS_PER_CELL)).alias("tok"))


def _corrupted_tokens(col, token):
    """Corrupted tokens in a cell: each corruption writes exactly one
    character other than the token and the space (a typo that keeps the
    original writes the token again after its typo character)."""
    return F.length(F.regexp_replace(col, f"[{token} ]", ""))


@pytest.mark.parametrize("kind", sorted(TOKEN_KINDS))
def test_token_noise_cell_selection_rate(base, kind):
    # token_probability 1: a selected cell always changes, so the changed
    # share is the selection share
    name, rules, token = TOKEN_KINDS[kind]
    cells = _token_cells(base, token)
    out = cn.token_noise(cells, {"tok": [(name, rules, P_CELL, 1.0)]}, "key", seed=22)
    changed = out.where(F.col("tok") != " ".join([token] * TOKENS_PER_CELL)).count()
    fuzzy_assert_proportion(f"{name}_cells@1M", changed, N, P_CELL)


@pytest.mark.parametrize("kind", sorted(TOKEN_KINDS))
def test_token_noise_per_token_rate(base, kind):
    # every cell selected; 100k cells x 10 tokens = 1M token draws
    name, rules, token = TOKEN_KINDS[kind]
    rows = 100_000
    cells = _token_cells(base, token, rows)
    out = cn.token_noise(cells, {"tok": [(name, rules, 1.0, P_TOKEN)]}, "key", seed=23)
    corrupted = out.agg(F.sum(_corrupted_tokens(F.col("tok"), token))).first()[0]
    fuzzy_assert_proportion(f"{name}_tokens@1M", corrupted, rows * TOKENS_PER_CELL, P_TOKEN)
