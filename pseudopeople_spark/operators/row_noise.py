"""Row-noise operators — cardinality-changing transforms
(SURVEY.md §2.B; reference ``src/pseudopeople/noise_functions.py:33-303``).

All row selection is CRN-keyed on the stable record key — NEVER
``df.sample()`` (partition-dependent) — matching the reference's
shard-count-invariance contract
(``tests/integration/test_interface.py:90-153``).

Like the column operators, the filters and projections are written as
Spark SQL text, so building them costs a few JVM calls rather than one
per expression node (see ``column_noise``). ``u01`` is a text factory
or a Column factory with a SQL-text twin (``crn.u01_sql``).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pseudopeople_spark.crn import hash_u01_sql, u01_sql
from pseudopeople_spark.operators.sqltext import double, ident, string, string_array

# Demographic non-response model constants — the reference's published
# values (constants/data_values.py:8-45): base + race additive +
# sex×age-bin additive, clipped to [0,1]; CPS gets an overall +0.276
# (noise_functions.py:124-126).
DNR_BASE = 0.0024
DNR_RACE_ADJ: "dict[str, float]" = {
    "AIAN": 0.0067,
    "Asian": -0.0286,
    "Black": 0.0306,
    "Latino": 0.0475,
    "Multiracial or Other": 0.041,
    "NHOPI": -0.0152,
    "White": -0.0188,
}
# (sex, age_lo, age_hi_exclusive) -> additive; bins [0,5,10,18,30,50,125)
DNR_SEX_AGE_ADJ: "list[tuple[str, int, int, float]]" = [
    ("Female", 0, 5, 0.0255), ("Female", 5, 10, -0.0014), ("Female", 10, 18, -0.0003),
    ("Female", 18, 30, 0.0074), ("Female", 30, 50, -0.0034), ("Female", 50, 125, -0.0287),
    ("Male", 0, 5, 0.0255), ("Male", 5, 10, -0.0014), ("Male", 10, 18, -0.0003),
    ("Male", 18, 30, 0.0201), ("Male", 30, 50, 0.0281), ("Male", 50, 125, -0.0079),
]
DNR_DEFAULT_LEVEL = 0.0145
CPS_NONRESPONSE_ADDITIVE = 0.276  # noise_functions.py:124-126
# Per-dataset defaults, used as both the baseline value and the scaling
# denominator (data_values.py:41-45).
DNR_DEFAULT_LEVELS: "dict[str, float]" = {
    "decennial_census": 0.0145,
    "american_community_survey": 0.0145,
    "current_population_survey": 0.2905,
}


def _lookup(table: "dict[str, object]", key_sql: str, default_sql: str, literal) -> str:
    """``table[key]`` as one lookup in literal arrays (``default_sql``
    for any other key or NULL): O(1) generated code, where a CASE chain
    grows by a branch per entry and compares the key once per branch.
    ``literal`` writes a value as SQL text."""
    keys = string_array(table)
    values = ", ".join([default_sql] + [literal(v) for v in table.values()])
    return f"element_at(array({values}), CAST(coalesce(array_position({keys}, {key_sql}), 0) AS INT) + 1)"


def omit_rows(
    df: DataFrame, key_col: str, p: float = 0.005, seed: int = 0, u01=hash_u01_sql
) -> DataFrame:
    """Uniform random row deletion (reference ``omit_rows``,
    noise_functions.py:33-59). Key-deterministic hash filter — a single
    columnar pass, no shuffle."""
    return df.where(f"{u01_sql(u01)(ident(key_col), seed, 'omit_row')} >= {double(p)}")


def do_not_respond_probability_sql(
    configured_level: float = DNR_DEFAULT_LEVEL,
    default_level: float = DNR_DEFAULT_LEVEL,
    sex_col: str = "sex",
    age_col: str = "age",
    race_col: str = "race_ethnicity",
    oversample_adjust: bool = False,
    cps_additive: float = 0.0,
) -> str:
    """SQL text of :func:`do_not_respond`'s per-row non-response
    probability. The race and sex×age additives are two lookups in
    literal arrays: the reference's pd.cut age-binning becomes an index
    with one array slot per (sex, age), so ``age`` is cast once per row.
    (The CASE chains this replaced cast it 24 times per row and made
    this filter, which every row passes, the largest part of a codegen
    stage too big for the JIT.)"""
    race_adj = _lookup(DNR_RACE_ADJ, ident(race_col), "0.0D", double)
    sexes = list(dict.fromkeys(sx for sx, _, _, _ in DNR_SEX_AGE_ADJ))
    lo = min(b[1] for b in DNR_SEX_AGE_ADJ)
    hi = max(b[2] for b in DNR_SEX_AGE_ADJ)
    # per sex slot (0: any other sex or NULL): one slot below lo, one per
    # age in [lo, hi), one at or above hi (NULL ages land below lo)
    width = hi - lo + 2
    table = [0.0] * ((len(sexes) + 1) * width)
    for sx, a_lo, a_hi, adj in DNR_SEX_AGE_ADJ:
        base = (sexes.index(sx) + 1) * width + 1
        for a in range(a_lo, a_hi):
            table[base + a - lo] = adj
    sex_slot = f"coalesce(array_position({string_array(sexes)}, {ident(sex_col)}), 0)"
    age_slot = f"least(greatest(CAST({ident(age_col)} AS BIGINT), {lo - 1}), {hi}) + {1 - lo}"
    sexage_adj = (
        f"element_at(array({', '.join(double(x) for x in table)}), "
        f"CAST({sex_slot} * {width} + {age_slot} + 1 AS INT))"
    )
    p = f"least(greatest({double(DNR_BASE)} + {race_adj} + {sexage_adj}, 0.0D), 1.0D)"
    if cps_additive:
        p = f"({p} + {double(cps_additive)})"
    p = f"({p} * {double(configured_level / default_level)})"
    if oversample_adjust:
        p = f"(0.5D + {p} / 2)"
    return f"least({p}, 1.0D)"


def do_not_respond(
    df: DataFrame,
    key_col: str,
    configured_level: float = DNR_DEFAULT_LEVEL,
    default_level: float = DNR_DEFAULT_LEVEL,
    seed: int = 0,
    sex_col: str = "sex",
    age_col: str = "age",
    race_col: str = "race_ethnicity",
    oversample_adjust: bool = False,
    cps_additive: float = 0.0,
    u01=hash_u01_sql,
) -> DataFrame:
    """Demographic non-response (reference ``apply_do_not_respond``,
    noise_functions.py:99-142): per-row probability = clip_[0,1](base +
    race additive + sex×age-bin additive) [+ 0.276 for CPS], scaled by
    configured/default (default 0.0145 census/ACS, 0.2905 CPS); then the
    ACS/CPS oversampling transform 0.5 + p/2
    (:func:`do_not_respond_probability_sql`). Pure JVM expressions, no
    join needed."""
    p = do_not_respond_probability_sql(
        configured_level, default_level, sex_col, age_col, race_col, oversample_adjust, cps_additive
    )
    return df.where(f"{u01_sql(u01)(ident(key_col), seed, 'do_not_respond')} >= {p}")


def duplicate_rows(
    df: DataFrame, key_col: str, p: float = 0.05, seed: int = 0, u01=hash_u01_sql
) -> DataFrame:
    """Uniform row duplication — the reference's commented-out stub
    (noise_functions.py:145-158, 'todo actually duplicate rows'),
    implemented for parity behind this explicit call.

    The duplicate's key gets a ``_dup2`` suffix (mirroring
    duplicate_with_guardian's ``_dup``): emitting two rows under ONE
    record_id would silently break every downstream key consumer — CRN
    draws would noise the twins identically, key joins would fan out,
    and resolve() refuses input that repeats a record_id
    (linkage.pipeline._assign_int_ids)."""
    k = ident(key_col)
    base = df.withColumn(key_col, F.expr(f"CAST({k} AS STRING)"))  # deterministic output type
    dupes = base.where(f"{u01_sql(u01)(k, seed, 'duplicate_row')} < {double(p)}")
    dupes = dupes.withColumn(key_col, F.expr(f"concat({k}, '_dup2')"))
    return base.unionByName(dupes)


# Reference constants/noise_type_metadata.py:4-14 — the columns a
# duplicate takes from its guardian's row (address block + housing type,
# household id and year).
GUARDIAN_DUPLICATION_ADDRESS_COLUMNS = [
    "street_number", "street_name", "unit_number", "city", "state", "zipcode",
    "housing_type", "household_id", "year",
]
# Reference constants/noise_type_metadata.py:34-42 — the duplicated
# row's relationship is remapped from the (copied) guardian housing type.
HOUSING_TYPE_RELATIONSHIP_MAP = {
    "Carceral": "Institutionalized group quarters population",
    "Nursing home": "Institutionalized group quarters population",
    "Other institutional": "Institutionalized group quarters population",
    "College": "Noninstitutionalized group quarters population",
    "Military": "Noninstitutionalized group quarters population",
    "Other noninstitutional": "Noninstitutionalized group quarters population",
    "Household": "Other relative",
}


def duplicate_with_guardian(
    df: DataFrame,
    key_col: str,
    address_columns: Sequence[str] = None,
    p_under_18: float = 0.02,
    p_college: float = 0.05,
    seed: int = 0,
    guardian_cols: "tuple[str, str]" = ("guardian_1", "guardian_2"),
    simulant_col: str = "simulant_id",
    age_col: str = "age",
    housing_col: str = "housing_type",
    relationship_col: str = "relationship_to_reference_person",
    household_col: str = "household_id",
    year_col: str = "year",
    u01=hash_u01_sql,
) -> DataFrame:
    """Duplicate dependents at their guardian's address (reference
    ``duplicate_with_guardian``, noise_functions.py:161-303; copied
    column list constants/noise_type_metadata.py:4-14).

    Reference semantics reproduced exactly:
      * eligible groups — age<18 with housing_type=='Household'
        (p_under_18) and age<24 with housing_type=='College'
        (p_college), guardian_1 non-null in both;
      * guardians are joined on ``(guardian_k, year)`` — multi-year
        extracts match the guardian's SAME-year row
        (noise_functions.py:189-207);
      * "lives elsewhere" = guardian's household_id differs
        (noise_functions.py:243-248);
      * when BOTH guardians live elsewhere the copied guardian is a
        seeded 50/50 choice, otherwise the one that differs;
      * the duplicate takes the guardian's address block + housing type
        + household id (+year, a join-key no-op) and its
        ``relationship_to_reference_person`` is remapped from the
        COPIED housing type (noise_type_metadata.py:34-42);
      * max one duplicate per row; duplicates are appended.

    Plan shape: filter → TWO left equi-joins against the guardian
    projection (broadcast when small, AQE otherwise) → seeded choice →
    ``unionByName``. No driver-side loops."""
    cols = df.columns
    copy_cols = [c for c in (address_columns or GUARDIAN_DUPLICATION_ADDRESS_COLUMNS) if c in cols]
    g1, g2 = guardian_cols
    u01 = u01_sql(u01)
    key = ident(key_col)
    age = f"CAST({ident(age_col)} AS BIGINT)"
    housing = ident(housing_col) if housing_col in cols else "'Household'"
    in_household = f"({age} < 18 AND {housing} = 'Household')"
    in_college = f"({age} < 24 AND {housing} = 'College')"
    dependents = df.where(f"({in_household} OR {in_college}) AND {ident(g1)} IS NOT NULL")

    # Selection draw BEFORE the guardian joins: the Bernoulli draw
    # depends only on (key, age, housing) — never on join results — so
    # filtering here is exactly the conjunction the reference applies
    # after the merge, while the joins now probe ~p of the dependents
    # (2-5%) instead of all of them. The guardian build side is
    # unchanged; the probe-side shuffle shrinks ~20-50x.
    p_row = f"CASE WHEN {in_college} THEN {double(p_college)} ELSE {double(p_under_18)} END"
    # per-group decision keys, like the reference's per-group streams
    u_noise = (
        f"CASE WHEN {in_college} THEN {u01(key, seed, 'duplicate_with_guardian_college')} "
        f"ELSE {u01(key, seed, 'duplicate_with_guardian_households')} END"
    )
    dependents = dependents.where(f"{u_noise} < {p_row}")

    has_year = year_col in cols
    has_hh = household_col in cols
    # the guardian's household id rides along for the "lives elsewhere"
    # test even when the caller copies a narrower column list
    side_cols = [household_col] if (has_hh and household_col not in copy_cols) else []
    # year is the join key — its alias already carries it, and "copying"
    # it is a no-op (join equality), so keep it out of the copy list
    proj_cols = [c for c in copy_cols + side_cols if c != year_col]
    guardians = df.selectExpr(
        f"{ident(simulant_col)} AS _g_sid",
        *([f"{ident(year_col)} AS _g_year"] if has_year else []),
        *[f"{ident(c)} AS {ident('_g_' + c)}" for c in proj_cols],
    )
    # Semi-join pruning BEFORE the defensive dedup (guide §3.2): only
    # guardians referenced by a SELECTED dependent can contribute to
    # the join, and the selection draw above thins dependents to ~p of
    # the eligible rows — so the guardian side shrinks from the full
    # record count to ~2x the selected count. The dedup's full-table
    # shuffle (the dominant cost of this operator at 1M rows) collapses
    # to a broadcast semi filter + a small shuffle. Left joins on a
    # semi-pruned build side produce identical rows: pruned-away
    # guardians could only have matched unselected dependents.
    dep_keys = dependents.selectExpr(
        f"explode(array({ident(g1)}, {ident(g2)})) AS _g_sid"
    ).where("_g_sid IS NOT NULL")
    guardians = guardians.join(F.broadcast(dep_keys), "_g_sid", "left_semi")
    # A guardian appears once per (simulant, year) in a well-formed
    # extract; dedup defensively so one dependent row can't fan out.
    guardians = guardians.dropDuplicates(["_g_sid"] + (["_g_year"] if has_year else []))

    def g(prefix: str, c: str) -> str:
        return ident(f"{prefix}_{c}")

    def join_one(base: DataFrame, gcol: str, prefix: str) -> DataFrame:
        side = guardians.selectExpr(
            f"_g_sid AS {g(prefix, 'sid')}",
            *([f"_g_year AS {g(prefix, 'year')}"] if has_year else []),
            *[f"{ident('_g_' + c)} AS {g(prefix, c)}" for c in proj_cols],
        )
        cond = f"{ident(gcol)} = {g(prefix, 'sid')}"
        if has_year:
            cond = f"{cond} AND {ident(year_col)} = {g(prefix, 'year')}"
        return base.join(side, F.expr(cond), "left")

    merged = join_one(join_one(dependents, g1, "_g1"), g2, "_g2")

    if has_hh:
        def differs(prefix: str) -> str:
            gh = g(prefix, household_col)
            # null-safe inequality: the reference compares in pandas where
            # NaN != value is True (noise_functions.py:243-248), so a
            # dependent with a NULL household id living apart from a
            # guardian IS eligible — Spark's null-propagating != would
            # silently exclude those rows
            return f"({gh} IS NOT NULL AND NOT ({ident(household_col)} <=> {gh}))"
    else:  # fallback when the extract carries no household id: any copied column differs
        def differs(prefix: str) -> str:
            any_neq = "false"
            for c in copy_cols:
                any_neq = f"({any_neq} OR NOT ({ident(c)} <=> {g(prefix, c)}))"
            return f"({g(prefix, 'sid')} IS NOT NULL AND {any_neq})"

    g1_diff, g2_diff = differs("_g1"), differs("_g2")
    u_choice = u01(key, seed, "dwg_guardian_choice")
    chosen = (
        f"CASE WHEN {g1_diff} AND {g2_diff} THEN "
        f"(CASE WHEN {u_choice} < 0.5D THEN '_g1' ELSE '_g2' END) "
        f"WHEN {g1_diff} THEN '_g1' WHEN {g2_diff} THEN '_g2' END"
    )
    # (u_noise < p_row) already applied pre-join above
    selected = merged.withColumn("_copy_from", F.expr(chosen)).where("_copy_from IS NOT NULL")

    def copied(c: str) -> str:
        return f"CASE WHEN _copy_from = '_g1' THEN {g('_g1', c)} ELSE {g('_g2', c)} END"

    dup_cols = []
    for c in cols:
        if c == relationship_col:
            src_housing = copied(housing_col) if housing_col in copy_cols else housing
            remap = _lookup(HOUSING_TYPE_RELATIONSHIP_MAP, src_housing, "CAST(NULL AS STRING)", string)
            dup_cols.append(f"{remap} AS {ident(c)}")
        elif c in copy_cols:
            dup_cols.append(f"{copied(c)} AS {ident(c)}")
        elif c == key_col:
            dup_cols.append(f"concat(CAST({key} AS STRING), '_dup') AS {key}")
        else:
            dup_cols.append(ident(c))
    duplicates = selected.selectExpr(*dup_cols)
    return df.unionByName(duplicates)
