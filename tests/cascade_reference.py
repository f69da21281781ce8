"""JVM Column form of the match cascade — the reference the worker-side
cascade (``pseudopeople_spark.linkage.scoring.cascade_match_mask``) is
checked against, rule for rule, in ``test_cascade_parity`` and
``test_similarity``. Production decides only in the Arrow scoring
worker; nothing in the package imports this module.

``tiered_match`` reads the sims (``sim_<field>``, ``score``) and the
cascade's attach values (``l_/r_`` ssn_digits, first_name, byear,
dataset, period, base_rid) of a scored pair frame and adds
``is_match``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


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
