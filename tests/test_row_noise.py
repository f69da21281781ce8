"""Row-noise tests (reference tests/unit/test_row_noise.py model):
omission rates, non-response structure, guardian duplication
correctness."""

from pyspark.sql import functions as F

from pseudopeople_spark import synth
from pseudopeople_spark.operators import row_noise as rn
from tests.conftest import assert_proportion

N = 20_000


def test_omit_rows_rate_and_determinism(spark):
    df = spark.range(N).select(F.col("id").alias("key"))
    kept = rn.omit_rows(df, "key", p=0.0145, seed=1).count()
    assert_proportion(N - kept, N, 0.0145, "omit_row")
    kept2 = rn.omit_rows(df.repartition(13), "key", p=0.0145, seed=1).count()
    assert kept == kept2


def test_do_not_respond_structure(spark):
    pop = synth.simulants(spark, 4000, seed=3)
    census = synth.census_records(pop, 2020).withColumnRenamed("record_id", "key")
    out = rn.do_not_respond(census, "key", configured_level=rn.DNR_DEFAULT_LEVEL, seed=2)
    dropped = census.count() - out.count()
    # overall level ~ base + adjustments: loose bounds
    assert 0.005 * census.count() < dropped < 0.05 * census.count()
    # oversampling transform drops ~half
    out2 = rn.do_not_respond(census, "key", configured_level=rn.DNR_DEFAULT_LEVEL, seed=2, oversample_adjust=True)
    assert_proportion(census.count() - out2.count(), census.count(), 0.51, "ACS/CPS oversample", slack_sigmas=8)


def test_duplicate_rows(spark):
    df = spark.range(N).select(F.col("id").cast("string").alias("key"))
    out = rn.duplicate_rows(df, "key", p=0.05, seed=4)
    assert_proportion(out.count() - N, N, 0.05, "duplicate_row")


def test_duplicate_with_guardian(spark):
    # 20k simulants (was 2k): with ~500 eligible children the Bayes
    # factor on the 0.5-rate check came out inconclusive (0.155 — a
    # pass that couldn't discriminate; round-5 verdict #4). ~10x the
    # children makes the test actually reject a wrong rate.
    pop = synth.simulants(spark, 20_000, seed=5)
    census = synth.census_records(pop, 2020)
    # In the synthesized population guardians co-reside with their
    # dependents (same address), which makes the operator a no-op by
    # design (it only duplicates when the guardian lives ELSEWHERE). For
    # the test, point every child's guardian at the reference person of
    # the NEXT household, whose address differs.
    census = census.withColumn(
        "guardian_1",
        F.when(
            F.col("guardian_1").isNotNull(),
            F.format_string("%09d", (F.col("household_id").cast("bigint") + 1) * 4),
        ),
    ).withColumn("guardian_2", F.lit(None).cast("string"))
    addr = ["street_number", "street_name", "unit_number", "city", "state", "zipcode"]
    out = rn.duplicate_with_guardian(census, "record_id", addr, p_under_18=0.5, p_college=0.5, seed=6)
    base_n = census.count()
    dups = out.where(F.col("record_id").endswith("_dup")).localCheckpoint()
    n_dups = dups.count()
    # denominator = ELIGIBLE rows (the operator's contract): age<18 in a
    # Household or age<24 in College, guardian non-null. The old
    # denominator counted every guardian-carrying row — ~9% of which are
    # ineligible (18-23 Household, group-quarters children), so the true
    # rate vs that denominator was ~0.457, a mismatch the underpowered
    # 2k-simulant sample could not detect (inconclusive BF 0.155).
    age = F.col("age").cast("bigint")
    n_children = census.where(
        F.col("guardian_1").isNotNull()
        & (
            ((age < 18) & (F.col("housing_type") == "Household"))
            | ((age < 24) & (F.col("housing_type") == "College"))
        )
    ).count()
    assert_proportion(n_dups, n_children, 0.5, "duplicate_with_guardian rate", slack_sigmas=6)
    # every duplicate carries the guardian's (different) address
    orig_addr = census.select("simulant_id", *[F.col(c).alias(f"o_{c}") for c in addr])
    joined = dups.join(orig_addr, "simulant_id")
    diff = joined.where(
        F.concat_ws("|", *[F.coalesce(F.col(c), F.lit("")) for c in addr])
        != F.concat_ws("|", *[F.coalesce(F.col(f"o_{c}"), F.lit("")) for c in addr])
    )
    assert diff.count() == n_dups, "every duplicate must carry a DIFFERENT (guardian) address"
    # duplicated rows keep the truth-deck simulant_id and get the
    # relationship remapped from the COPIED guardian housing type
    # (reference noise_type_metadata.py:34-42; synth has ~2% GQ rows)
    remap = F.create_map(*[F.lit(x) for kv in rn.HOUSING_TYPE_RELATIONSHIP_MAP.items() for x in kv])
    bad = dups.where(
        F.col("relationship_to_reference_person") != remap[F.col("housing_type")]
    ).count()
    assert bad == 0, "dup relationship must follow the housing-type remap"
    assert out.count() == base_n + n_dups


def test_duplicate_with_guardian_null_household_eligible(spark):
    """A dependent with a NULL household_id living apart from its
    guardian IS eligible (reference pandas `!=` treats NaN != value as
    True, noise_functions.py:243-248) — Spark's null-propagating `!=`
    must not silently exclude those rows."""
    pop = synth.simulants(spark, 2000, seed=5)
    census = synth.census_records(pop, 2020)
    census = (
        census.withColumn(
            "guardian_1",
            F.when(
                F.col("guardian_1").isNotNull(),
                F.format_string("%09d", (F.col("household_id").cast("bigint") + 1) * 4),
            ),
        )
        .withColumn("guardian_2", F.lit(None).cast("string"))
        # dependents lose their own household id
        .withColumn(
            "household_id",
            F.when(F.col("guardian_1").isNotNull(), None).otherwise(F.col("household_id")),
        )
    )
    out = rn.duplicate_with_guardian(census, "record_id", p_under_18=1.0, p_college=1.0, seed=6)
    # eligible: under-18 Household dependents whose guardian row exists
    gsids = census.select(F.col("simulant_id").alias("g")).distinct()
    n_eligible = (
        census.join(gsids, F.col("guardian_1") == F.col("g"), "left_semi")
        .where((F.col("age").cast("int") < 18) & (F.col("housing_type") == "Household"))
        .count()
    )
    n_dups = out.where(F.col("record_id").endswith("_dup")).count()
    assert n_eligible > 0
    # the old null-propagating != made EVERY null-household dependent
    # ineligible (n_dups == 0); null-safe inequality restores them
    assert n_dups >= n_eligible, "null-household dependents must be eligible for duplication"


def test_do_not_respond_published_rates(spark):
    """Distributional fidelity against the reference's PUBLISHED
    do_not_respond constants (constants/data_values.py:8-45): single-
    demographic frames must drop at exactly base + race + sex-age-bin
    (clipped at 0)."""
    from tests.conftest import assert_proportion

    n = 40_000
    cases = [
        # (race, sex, age, expected = 0.0024 + race_adj + sexage_adj)
        ("White", "Male", 35, 0.0024 - 0.0188 + 0.0281),
        ("Black", "Female", 3, 0.0024 + 0.0306 + 0.0255),
        ("Latino", "Male", 20, 0.0024 + 0.0475 + 0.0201),
        ("Asian", "Male", 70, 0.0),  # 0.0024 - 0.0286 - 0.0079 < 0 -> clipped
    ]
    base = spark.range(n).select(F.col("id").alias("key"))
    for race, sex, age, expected in cases:
        df = base.select(
            "key", F.lit(sex).alias("sex"), F.lit(age).alias("age"), F.lit(race).alias("race_ethnicity")
        )
        kept = rn.do_not_respond(df, "key", configured_level=rn.DNR_DEFAULT_LEVEL, seed=9).count()
        dropped = n - kept
        if expected == 0.0:
            assert dropped == 0, f"{race}/{sex}/{age}: expected zero drops, got {dropped}"
        else:
            assert_proportion(dropped, n, expected, f"dnr {race}/{sex}/{age}", slack_sigmas=6)


def test_cps_additive_and_oversample(spark):
    """CPS: +0.276 additive then the 0.5 + p/2 oversampling transform
    (reference noise_functions.py:124-135) — a White 35yo male CPS row
    drops at 0.5 + (0.0117 + 0.276)/2 ~ 0.644."""
    from tests.conftest import assert_proportion

    n = 40_000
    df = spark.range(n).select(
        F.col("id").alias("key"), F.lit("Male").alias("sex"), F.lit(35).alias("age"),
        F.lit("White").alias("race_ethnicity"),
    )
    kept = rn.do_not_respond(
        df, "key", configured_level=0.2905, default_level=0.2905,
        oversample_adjust=True, cps_additive=rn.CPS_NONRESPONSE_ADDITIVE, seed=4,
    ).count()
    expected = 0.5 + (0.0024 - 0.0188 + 0.0281 + 0.276) / 2
    assert_proportion(n - kept, n, expected, "cps oversampled dnr", slack_sigmas=6)


def _case_chain(table: dict, key_sql: str, default_sql: str, literal) -> str:
    out = default_sql
    for k, v in table.items():
        out = f"CASE WHEN {key_sql} = '{k}' THEN {literal(v)} ELSE {out} END"
    return out


def test_do_not_respond_probability_matches_case_chains(spark):
    """The array-lookup non-response probability equals, bit for bit,
    the per-entry CASE chains it replaced, over every race, sex and age
    from below the first bin to above the last, unknown values and
    NULLs, for the census and the CPS (additive + oversampled) forms."""
    races = [*rn.DNR_RACE_ADJ, "Other", None]
    sexes = ["Female", "Male", "Other", None]
    ages = [str(a) for a in range(-3, 131)] + [None]
    rows = [(r, s, a) for r in races for s in sexes for a in ages]
    df = spark.createDataFrame(rows, "race_ethnicity string, sex string, age string")

    def dbl(x):
        return f"{x!r}D"

    race_ref = _case_chain(rn.DNR_RACE_ADJ, "race_ethnicity", "0.0D", dbl)
    sexage_ref = "0.0D"
    for sx, lo, hi, adj in rn.DNR_SEX_AGE_ADJ:
        age = "CAST(age AS BIGINT)"
        sexage_ref = f"CASE WHEN sex = '{sx}' AND {age} >= {lo} AND {age} < {hi} THEN {dbl(adj)} ELSE {sexage_ref} END"
    base_ref = f"least(greatest({dbl(rn.DNR_BASE)} + ({race_ref}) + ({sexage_ref}), 0.0D), 1.0D)"
    for kwargs, ref in [
        ({}, f"least(({base_ref} * 1.0D), 1.0D)"),
        (
            dict(oversample_adjust=True, cps_additive=rn.CPS_NONRESPONSE_ADDITIVE),
            f"least((0.5D + (({base_ref} + {dbl(rn.CPS_NONRESPONSE_ADDITIVE)}) * 1.0D) / 2), 1.0D)",
        ),
    ]:
        got = df.select(
            F.expr(rn.do_not_respond_probability_sql(**kwargs)).alias("got"), F.expr(ref).alias("want")
        )
        assert got.where("NOT (got <=> want)").count() == 0
        assert got.where("got IS NULL").count() == 0
        assert got.select("got").distinct().count() > 20


def test_relationship_remap_lookup_matches_case_chain(spark):
    housing = [*rn.HOUSING_TYPE_RELATIONSHIP_MAP, "Unknown", "", None]
    df = spark.createDataFrame([(h,) for h in housing], "h string")

    def lit(v):
        return f"'{v}'"

    got = df.select(
        F.expr(rn._lookup(rn.HOUSING_TYPE_RELATIONSHIP_MAP, "h", "CAST(NULL AS STRING)", lit)).alias("got"),
        F.expr(_case_chain(rn.HOUSING_TYPE_RELATIONSHIP_MAP, "h", "CAST(NULL AS STRING)", lit)).alias("want"),
    )
    assert got.where("NOT (got <=> want)").count() == 0
    assert got.where("got IS NOT NULL").count() == len(rn.HOUSING_TYPE_RELATIONSHIP_MAP)
