"""Noise pipeline driver — applies row noise then column noise in the
reference's fixed declaration order (reference ``noise_dataset``,
``src/pseudopeople/noise.py:28-120``; order asserted by its
``tests/unit/test_noise_form.py:111-203``).

The whole pipeline composes into ONE Spark plan: row noise = hash
filters (+ one join for guardian duplication), column noise = a few
projection rounds of ``CASE WHEN mask THEN noised ELSE col END`` —
Catalyst pipelines them into a few projections of one stage, so N noise
operators cost one pass over the data regardless of N. Each
whole-stage-codegen piece must stay under HotSpot's 8,000-byte JIT
limit, or its rows run in the bytecode interpreter
(``plans.inspect.codegen_method_bytes``; ``column_noise.write_wrong_digits_sql``
says how the census stage was brought under it).

The plan is built as SQL text in pure Python (``column_noise.*_sql``,
``crn.hash_u01_sql``): round k hands Spark one ``F.expr`` per column
for the k-th operator of every column and applies them with ONE
``withColumns``. JVM calls therefore scale with the number of columns,
not with the number of expression nodes — the Column-API build made
~31k Py4J round trips for one census plan (each ``F.*`` call also pays
PySpark's call-site capture) and cost more than a warm evaluation of
200k rows.

No noise plan leaves the JVM. Token noise (phonetic, OCR, typos), the
last operators of every name and address column, is one more pair of
projections (``column_noise.token_noise``): JVM cell masks select the
cells, and masked higher-order functions scan them, so only rows with a
selected cell (~14 % of census rows at the default rates) leave
generated code, and no row crosses into a Python worker (the pandas-UDF form shipped every token column of every row
through Arrow, about a third of a warm census evaluation). The Python
kernels in ``operators.kernels`` are the twin the tests check it against.
"""

from __future__ import annotations

from typing import Any, Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pseudopeople_spark import datasets as D
from pseudopeople_spark.operators import assets
from pseudopeople_spark.operators import column_noise as cn
from pseudopeople_spark.operators import row_noise as rn
from pseudopeople_spark.operators.sqltext import ident, string

OVERSAMPLED_DATASETS = {"american_community_survey", "current_population_survey"}


def noise_dataset(
    df: DataFrame,
    spec: D.DatasetSpec,
    config: "Mapping[str, Any]",
    seed: int = 0,
    key_col: str = "record_id",
    scale_by_eligibility: bool = True,
) -> DataFrame:
    """Apply the dataset's full noise plan. ``config`` is the resolved
    per-dataset tree from :func:`pseudopeople_spark.config.get_config`.
    """
    ds_cfg = config[spec.name]
    row_cfg = ds_cfg.get("row_noise", {})
    col_cfg = ds_cfg.get("column_noise", {})

    # --- row noise, declaration order (duplicate_with_guardian, do_not_respond, omit_row)
    for nt in D.ROW_NOISE_ORDER:
        if nt not in spec.row_noise_types or nt not in row_cfg:
            continue
        params = row_cfg[nt]
        if nt == D.DUPLICATE_WITH_GUARDIAN:
            p18 = params.get("row_probability_in_households_under_18", 0.02)
            p24 = params.get("row_probability_in_college_group_quarters_under_24", 0.05)
            if (p18 > 0 or p24 > 0) and "guardian_1" in df.columns:
                df = rn.duplicate_with_guardian(df, key_col, p_under_18=p18, p_college=p24, seed=seed)
        elif nt == D.DO_NOT_RESPOND:
            p = params.get("row_probability", 0.0)
            if p > 0:
                df = rn.do_not_respond(
                    df, key_col, configured_level=p,
                    default_level=rn.DNR_DEFAULT_LEVELS.get(spec.name, rn.DNR_DEFAULT_LEVEL),
                    oversample_adjust=spec.name in OVERSAMPLED_DATASETS,
                    cps_additive=rn.CPS_NONRESPONSE_ADDITIVE
                    if spec.name == "current_population_survey" else 0.0,
                    seed=seed,
                )
        elif nt == D.OMIT_ROW:
            p = params.get("row_probability", 0.0)
            if p > 0:
                df = rn.omit_rows(df, key_col, p=p, seed=seed)

    # --- one int64 CRN base key for ALL column-noise draws: the string
    # record id is hashed ONCE per row here instead of inside every
    # draw (~60 draws/row hash the key; hashing a fixed-width int64 is
    # ~3.5x cheaper than re-walking the id string — see crn.hash_u01).
    # Computed AFTER row noise so guardian-duplicated rows (new ids) get
    # their own base key. Draws stay keyed only by record identity:
    # partition/executor invariance is unchanged.
    # Birthday collisions: two distinct ids share a 64-bit key with
    # probability ~n^2/2^65 over n rows (~3e-8 at 1M rows, ~3e-2 at
    # 1e9), and two colliding records draw every column-noise value
    # identically for the whole run. Accepted at the scales this
    # package runs; mix a second salt in before claiming larger ones.
    crn_key = "__crn64"
    df = df.withColumn(crn_key, F.expr(f"xxhash64({ident(key_col)})"))

    # --- eligibility-scaling proportions (reference noise_scaling.py:
    # 26-45): ONE aggregate over the row-noised data computes every
    # proportion the scaled operators need, crossJoined ONCE as a
    # broadcast 1-row frame. (A per-operator crossJoin(agg(self))
    # doubles the self-referencing plan per operator — taxes_1040 has 6
    # copy-noise columns and the analyzer's DeduplicateRelations then
    # walks 2^k duplicated subtrees; observed as a 30-minute analysis.)
    # Streaming plans cannot host an unwatermarked global aggregate, so
    # streams apply p to eligible cells directly (documented,
    # conservative).
    dtypes = dict(df.dtypes)
    present = set(dtypes)
    prop_aggs = []
    prop_cols: "dict[tuple[str, str], str]" = {}
    if scale_by_eligibility and not df.isStreaming:
        # one SQL IN over the 1,080 table keys (an InSet after
        # optimization) — same eligibility as the broadcast join
        nick_names = ", ".join(string(n) for n in assets.NICKNAMES)
        for col in spec.columns:
            c_cfg = col_cfg.get(col.name, {})
            if col.name not in present:
                continue
            c = ident(col.name)
            notna = f"({c} IS NOT NULL AND {cn.as_string(col.name, dtypes[col.name])} != '')"
            if (
                D.COPY_FROM_HOUSEHOLD_MEMBER in c_cfg
                and c_cfg[D.COPY_FROM_HOUSEHOLD_MEMBER].get("cell_probability", 0.0) > 0
                and col.copy_column and col.copy_column in present
            ):
                tag = f"__prop_copy_{col.name}"
                prop_aggs.append(cn.eligibility_proportion_expr(
                    f"({notna} AND {ident(col.copy_column)} IS NOT NULL)", notna, tag
                ))
                prop_cols[(col.name, D.COPY_FROM_HOUSEHOLD_MEMBER)] = tag
            if (
                D.USE_NICKNAME in c_cfg
                and c_cfg[D.USE_NICKNAME].get("cell_probability", 0.0) > 0
            ):
                tag = f"__prop_nick_{col.name}"
                prop_aggs.append(cn.eligibility_proportion_expr(f"({notna} AND {c} IN ({nick_names}))", notna, tag))
                prop_cols[(col.name, D.USE_NICKNAME)] = tag
    if prop_aggs:
        df = df.crossJoin(F.broadcast(df.agg(*prop_aggs)))

    # --- column noise. Each column's built-in operators, in declaration
    # order, become SQL-text builders (column_noise ``*_sql``); round k
    # applies the k-th operator of EVERY column through ONE withColumns
    # of one F.expr per column. Operators on different columns commute
    # (each reads only its own column, the key, and never-noised shadow
    # / proportion / join columns), so the rounds reproduce the
    # declaration-order plan value for value, while the plan build makes
    # O(columns) JVM calls. Catalyst collapses the rounds' projections
    # as it did the per-operator chain.
    #
    # Token noise (phonetic/OCR/typos) comes last in every column's
    # declared order and is column-local, so it is collected across ALL
    # columns and applied after the rounds: ``cn.token_noise`` runs the
    # three kinds in order behind JVM cell masks, in one expression
    # shared by every token column. No noise plan has a Python node.
    rounds: "list[dict[str, tuple]]" = []
    all_token_plans: "list[tuple[str, list]]" = []
    for col in spec.columns:
        c_cfg = col_cfg.get(col.name, {})
        ops = []
        token_plan = []
        for nt in D.COLUMN_NOISE_ORDER:
            if nt not in col.noise_types or nt not in c_cfg:
                continue
            params = c_cfg[nt]
            p = params.get("cell_probability", 0.0)
            if p <= 0:
                continue
            tp = params.get("token_probability", 0.1)
            kw = dict(p=p, seed=seed)
            if nt == D.LEAVE_BLANK:
                ops.append((cn.leave_blank_sql, kw))
            elif nt == D.CHOOSE_WRONG_OPTION:
                # draw universe: the asset table (reference
                # incorrect_select_options.csv order) — col.options is
                # only a fallback for columns the reference CSV lacks
                opts = assets.select_options_for(col.name) or col.options
                ops.append((cn.choose_wrong_option_sql, dict(kw, options=opts)))
            elif nt == D.COPY_FROM_HOUSEHOLD_MEMBER:
                if col.copy_column and col.copy_column in present:
                    ops.append((cn.copy_from_household_member_sql, dict(
                        kw, copy_column=col.copy_column, proportion_col=prop_cols.get((col.name, nt)),
                    )))
            elif nt == D.SWAP_MONTH_AND_DAY:
                ops.append((cn.swap_month_and_day_sql, dict(kw, date_format=spec.date_format)))
            elif nt == D.WRITE_WRONG_ZIPCODE_DIGITS:
                ops.append((cn.write_wrong_zipcode_digits_sql, dict(
                    kw, digit_probabilities=params.get("digit_probabilities", [0.04, 0.04, 0.2, 0.36, 0.36]),
                )))
            elif nt == D.MISREPORT_AGE:
                ops.append((cn.misreport_age_sql, dict(kw, age_differences=params.get("possible_age_differences"))))
            elif nt == D.WRITE_WRONG_DIGITS:
                ops.append((cn.write_wrong_digits_sql, dict(kw, token_probability=tp)))
            elif nt == D.USE_NICKNAME:
                ops.append((cn.use_nickname_sql, dict(kw, proportion_col=prop_cols.get((col.name, nt)))))
            elif nt == D.USE_FAKE_NAME:
                fakes = assets.FAKE_FIRST_NAMES if "first" in col.name or "middle" in col.name else assets.FAKE_LAST_NAMES
                ops.append((cn.use_fake_name_sql, dict(kw, fake_names=fakes)))
            elif nt == D.MAKE_PHONETIC_ERRORS:
                token_plan.append((nt, assets.PHONETIC_VARIANTS, p, tp))
            elif nt == D.MAKE_OCR_ERRORS:
                token_plan.append((nt, assets.OCR_ERRORS, p, tp))
            elif nt == D.MAKE_TYPOS:
                token_plan.append((nt, assets.QWERTY_NEIGHBORS, p, tp))
        for k, op in enumerate(ops):
            if k == len(rounds):
                rounds.append({})
            rounds[k][col.name] = op
        if token_plan:
            all_token_plans.append((col.name, token_plan))
    for round_ops in rounds:
        # every builder reads the column's type as of the previous round
        # (to cast back to it, or to skip casting a STRING to STRING)
        dtypes = dict(df.dtypes)
        exprs = {}
        for column, (build, kwargs) in round_ops.items():
            if build is cn.use_nickname_sql:
                # the nickname set joins on the value as of this round
                df, kwargs["arr_col"] = cn.nickname_join(df, column, assets.NICKNAMES)
            exprs[column] = F.expr(build(column, crn_key, dtype=dtypes[column], **kwargs))
        df = df.withColumns(exprs)
    if all_token_plans:
        df = cn.token_noise(df, dict(all_token_plans), crn_key, seed=seed)

    # final projection to the declared output schema, declared order
    return df.select(key_col, *[c for c in spec.column_names if c in present])
