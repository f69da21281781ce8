"""Column-noise operators — value-mutating transforms, one per noise
type in the reference (SURVEY.md §2.C; reference
``src/pseudopeople/noise_functions.py:306-672`` and
``entity_types.py:88-137`` for the shared driver semantics).

Shared driver contract (reference ``ColumnNoiseType.__call__``):
  1. cells are selected by a Bernoulli draw keyed on the record id
     (CRN — invariant to partitioning);
  2. rows where the target column (or any required sibling column) is
     missing are never selected;
  3. non-selected cells pass through bit-identical.

Spark realization: each operator is a ``*_sql`` builder that writes the
column's new value as Spark SQL text in pure Python,
``CASE WHEN <mask> THEN <noised> ELSE <column> END`` — JVM expressions,
no UDF, no shuffle, all whole-stage codegen'd except the lambda of
``write_wrong_digits_sql`` (its docstring says why). Text costs Spark
ONE parse per column; the equivalent ``F.*`` Column tree costs one Py4J round trip
(plus PySpark's call-site capture) per expression node, which made the
census plan build ~31k round trips and several seconds before any row
moved. ``noise.noise_dataset`` applies one operator round of every
column through a single ``withColumns``; the DataFrame functions of the
same names apply one operator to one column (the oracle-checked
queries and the unit tests call those).

A builder references its input column by name only, never by an
earlier operator's text: each operator reads its input about three
times, so nesting successive operators textually would grow the text
exponentially. Successive operators on a column are successive
projections instead.

Draws go through a ``u01`` factory (default :func:`hash_u01_sql`); the
DataFrame functions also take the Column factories of
:mod:`pseudopeople_spark.crn` (``portable_u01`` for the DuckDB-checked
queries) and use their SQL-text twins.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pseudopeople_spark import datasets as D
from pseudopeople_spark.crn import (
    fold_salt64,
    hash_u01_salted_py,
    hash_u01_salted_sql,
    hash_u01_sql,
    salted_u01_sql,
    u01_sql,
)
from pseudopeople_spark.operators.sqltext import double, ident, string, string_array

U01Sql = Callable[[str, int, str], str]


def as_string(column: str, dtype: "str | None") -> str:
    """``column`` as STRING text: a cast only when ``dtype`` (the
    column's ``df.dtypes`` name; None when unknown) is not already
    STRING. Every cast node is analyzer work at plan build."""
    c = ident(column)
    return c if dtype == "string" else f"CAST({c} AS STRING)"


def _base_mask(
    column: str,
    key: str,
    p: str,
    seed: int,
    decision: str,
    u01: U01Sql,
    required: Sequence[str] = (),
    dtype: "str | None" = None,
) -> str:
    eligible = f"({ident(column)} IS NOT NULL AND {as_string(column, dtype)} != '')"
    for r in required:
        eligible = f"({eligible} AND {ident(r)} IS NOT NULL)"
    return f"({eligible} AND {u01(ident(key), seed, decision)} < {p})"


def _case(column: str, mask: str, noised: str) -> str:
    return f"CASE WHEN {mask} THEN {noised} ELSE {ident(column)} END"


def _apply(df: DataFrame, column: str, sql: str) -> DataFrame:
    return df.withColumn(column, F.expr(sql))


def _dtype(df: DataFrame, column: str) -> str:
    return dict(df.dtypes)[column]


def eligibility_proportion_expr(eligible: "Column | str", notna: "Column | str", tag: str) -> Column:
    """One aggregate expression: proportion of non-missing cells that
    are eligible for a scaled noise type (the reference's scaling
    denominators, noise_scaling.py:26-45). ``eligible`` / ``notna`` are
    Columns or SQL text. ALL such proportions for a dataset are
    computed in a SINGLE ``df.agg(...)`` crossJoined once onto the data
    (see noise.noise_dataset): a per-operator ``crossJoin(agg(self))``
    doubles the self-referencing plan per operator — taxes_1040 has 6
    copy-noise columns, and the analyzer's DeduplicateRelations walks
    the resulting 2^k duplicated subtrees.

    The counts sum as LONGS, not doubles: a double sum's value depends
    on partition merge order (FP rounding), which made the proportion —
    and therefore the u < p mask at the boundary — wobble by an ulp
    between runs (observed: ~28 of 3.3M draws flipping between two
    otherwise identical resolves). Integer sums are exact and
    order-independent; the single final division is deterministic."""
    eligible, notna = (F.expr(x) if isinstance(x, str) else x for x in (eligible, notna))
    return (
        F.sum(eligible.cast("long")).cast("double") / F.sum(notna.cast("long")).cast("double")
    ).alias(tag)


def _scaled_p(p: float, proportion_col: "str | None") -> str:
    if proportion_col is None:
        return double(p)
    # proportion 0 (or null, empty frame) means NO cell is eligible —
    # the mask can never fire, so the rate is irrelevant; guard keeps
    # ANSI mode from raising DIVIDE_BY_ZERO on the unused branch
    prop = ident(proportion_col)
    return f"CASE WHEN {prop} > 0 THEN least(1.0D, {double(p)} / {prop}) ELSE 0.0D END"


def _uniform_pick(values: Sequence[str], u_pick: str) -> str:
    # element_at over an ARRAY LITERAL: one foldable constant (never
    # rebuilt per row) — measured ~50x cheaper than the per-index CASE
    # chain this replaced, and it keeps the generated code size O(1) in
    # the option count instead of O(n) branches (the CASE chains were
    # what pushed the fused noise projection past Janino's 64KB method
    # limit). floor(u*n) clamps to n-1 like the chain's otherwise-branch
    # did (u < 1.0).
    n = len(values)
    idx = f"least(CAST(floor({u_pick} * {n}) AS INT), {n - 1})"
    return f"element_at({string_array(values)}, {idx} + 1)"


def leave_blank_sql(
    column: str, key: str, p: float, seed: int, dtype: str, u01: U01Sql = hash_u01_sql
) -> str:
    """Selected cells -> NULL (reference ``leave_blanks``,
    noise_functions.py:657-672). Spark nulls are native; no float
    promotion hack (output_dtype_getters.py:6-11) is needed."""
    mask = _base_mask(column, key, double(p), seed, f"leave_blank_{column}", u01, dtype=dtype)
    return _case(column, mask, f"CAST(NULL AS {dtype})")


def leave_blank(
    df: DataFrame, column: str, key_col: str, p: float = 0.01, seed: int = 0, u01=hash_u01_sql
) -> DataFrame:
    return _apply(df, column, leave_blank_sql(column, key_col, p, seed, _dtype(df, column), u01_sql(u01)))


def choose_wrong_option_sql(
    column: str,
    key: str,
    options: Sequence[str],
    p: float,
    seed: int,
    u01: U01Sql = hash_u01_sql,
    dtype: "str | None" = None,
) -> str:
    """Replace with a uniform draw from the column's option list
    (reference ``choose_wrong_options``, noise_functions.py:306-341).
    The draw may self-collide, so the selection probability is scaled by
    1/(1 - 1/n) to keep the *observed* change rate at p
    (noise_scaling.py:10-23)."""
    n = len(options)
    p_scaled = min(1.0, p / (1.0 - 1.0 / n)) if n > 1 else p
    mask = _base_mask(column, key, double(p_scaled), seed, f"choose_wrong_option_{column}", u01, dtype=dtype)
    u_pick = u01(ident(key), seed, f"choose_wrong_option_pick_{column}")
    return _case(column, mask, _uniform_pick(options, u_pick))


def choose_wrong_option(
    df: DataFrame,
    column: str,
    key_col: str,
    options: Sequence[str],
    p: float = 0.01,
    seed: int = 0,
    u01=hash_u01_sql,
) -> DataFrame:
    return _apply(df, column, choose_wrong_option_sql(column, key_col, options, p, seed, u01_sql(u01)))


def copy_from_household_member_sql(
    column: str,
    key: str,
    copy_column: str,
    p: float,
    seed: int,
    dtype: str,
    u01: U01Sql = hash_u01_sql,
    proportion_col: "str | None" = None,
) -> str:
    """Replace the value with the shadow copy_* column carrying another
    household member's value (reference noise_functions.py:344-362;
    shadow-column map constants/noise_type_metadata.py:17-26).
    Rows with no eligible household member (copy column null) are never
    selected; when ``proportion_col`` names a precomputed eligibility
    proportion, the rate on eligible rows is scaled by 1/proportion so
    the overall change rate stays at p (noise_scaling.py:37-45)."""
    mask = _base_mask(
        column, key, _scaled_p(p, proportion_col), seed, f"copy_from_household_member_{column}", u01,
        required=[copy_column], dtype=dtype,
    )
    return _case(column, mask, f"CAST({ident(copy_column)} AS {dtype})")


def copy_from_household_member(
    df: DataFrame,
    column: str,
    key_col: str,
    copy_column: str,
    p: float = 0.01,
    seed: int = 0,
    u01=hash_u01_sql,
    proportion_col: "str | None" = None,
) -> DataFrame:
    return _apply(df, column, copy_from_household_member_sql(
        column, key_col, copy_column, p, seed, _dtype(df, column), u01_sql(u01), proportion_col,
    ))


def swap_month_and_day_sql(
    column: str,
    key: str,
    date_format: str,
    p: float,
    seed: int,
    u01: U01Sql = hash_u01_sql,
    dtype: "str | None" = None,
) -> str:
    """String-slice swap of the month and day segments of an already
    stringified date (reference ``swap_months_and_days``,
    noise_functions.py:365-404; dates are reformatted to strings before
    noising, interface.py:255-285)."""
    c = ident(column)
    if date_format == "MM/dd/yyyy":
        swapped = f"concat(substr({c}, 4, 3), substr({c}, 1, 2), substr({c}, 6, 5))"
    elif date_format == "MMddyyyy":
        swapped = f"concat(substr({c}, 3, 2), substr({c}, 1, 2), substr({c}, 5, 4))"
    elif date_format == "yyyyMMdd":
        swapped = f"concat(substr({c}, 1, 4), substr({c}, 7, 2), substr({c}, 5, 2))"
    else:
        raise ValueError(f"unsupported date format {date_format}")
    mask = _base_mask(column, key, double(p), seed, f"swap_month_and_day_{column}", u01, dtype=dtype)
    return _case(column, mask, swapped)


def swap_month_and_day(
    df: DataFrame,
    column: str,
    key_col: str,
    date_format: str = "MM/dd/yyyy",
    p: float = 0.01,
    seed: int = 0,
    u01=hash_u01_sql,
) -> DataFrame:
    return _apply(df, column, swap_month_and_day_sql(column, key_col, date_format, p, seed, u01_sql(u01)))


def write_wrong_zipcode_digits_sql(
    column: str,
    key: str,
    p: float,
    seed: int,
    digit_probabilities: Sequence[float] = (0.04, 0.04, 0.2, 0.36, 0.36),
    u01: U01Sql = hash_u01_sql,
    dtype: "str | None" = None,
) -> str:
    """Per-digit replacement of a 5-digit zip: cell selected w.p. p,
    then digit i replaced w.p. digit_probabilities[i] scaled by
    1/(1 - 1/10) for self-collision, by a uniform random digit
    (reference noise_functions.py:407-459; default position
    probabilities noise_entities.py:63-65). Five chained built-in
    expressions — no UDF."""
    mask = _base_mask(column, key, double(p), seed, f"write_wrong_zipcode_{column}", u01, dtype=dtype)
    c, k = ident(column), ident(key)
    parts = []
    for i, dp in enumerate(digit_probabilities):
        u_sel = u01(k, seed, f"zip_sel_{column}_{i}")
        u_dig = u01(k, seed, f"zip_dig_{column}_{i}")
        parts.append(
            f"CASE WHEN {u_sel} < {double(min(1.0, dp / 0.9))} "
            f"THEN CAST(floor({u_dig} * 10) AS STRING) ELSE substr({c}, {i + 1}, 1) END"
        )
    return _case(column, mask, f"concat({', '.join(parts)})")


def write_wrong_zipcode_digits(
    df: DataFrame,
    column: str,
    key_col: str,
    p: float = 0.01,
    digit_probabilities: Sequence[float] = (0.04, 0.04, 0.2, 0.36, 0.36),
    seed: int = 0,
    u01=hash_u01_sql,
) -> DataFrame:
    return _apply(df, column, write_wrong_zipcode_digits_sql(
        column, key_col, p, seed, digit_probabilities, u01_sql(u01),
    ))


def misreport_age_sql(
    column: str,
    key: str,
    p: float,
    seed: int,
    dtype: str,
    age_differences: "dict[int, float] | None" = None,
    u01: U01Sql = hash_u01_sql,
) -> str:
    """age += weighted draw from {-2:.1,-1:.4,+1:.4,+2:.1} (reference
    ``misreport_ages``, noise_functions.py:462-494; defaults
    noise_entities.py:70-72). Negative results reflect (* -1); a result
    equal to the original (impossible with the default diffs, possible
    after reflection) decrements by 1. CDF chain == searchsorted."""
    diffs = age_differences or {-2: 0.1, -1: 0.4, 1: 0.4, 2: 0.1}
    mask = _base_mask(column, key, double(p), seed, f"misreport_age_{column}", u01, dtype=dtype)
    u_pick = u01(ident(key), seed, f"misreport_age_pick_{column}")
    cdf = 0.0
    whens = []
    items = sorted(diffs.items())
    for d, w in items:
        cdf += w
        whens.append(f"WHEN {u_pick} < {double(cdf)} THEN {int(d)}")
    delta = f"CASE {' '.join(whens)} ELSE {int(items[-1][0])} END"
    age = f"CAST({ident(column)} AS BIGINT)"
    new_age = f"abs({age} + {delta})"  # reflect negatives
    new_age = f"CASE WHEN {new_age} = {age} THEN {age} - 1 ELSE {new_age} END"
    return _case(column, mask, f"CAST({new_age} AS {dtype})")


def misreport_age(
    df: DataFrame,
    column: str,
    key_col: str,
    p: float = 0.01,
    age_differences: "dict[int, float] | None" = None,
    seed: int = 0,
    u01=hash_u01_sql,
) -> DataFrame:
    return _apply(df, column, misreport_age_sql(
        column, key_col, p, seed, _dtype(df, column), age_differences, u01_sql(u01),
    ))


def write_wrong_digits_sql(
    column: str,
    key: str,
    p: float,
    seed: int,
    token_probability: float = 0.1,
    u01: U01Sql = hash_u01_sql,
    max_len: int = 16,
    dtype: "str | None" = None,
) -> str:
    """Each numeric character of a selected cell is replaced w.p.
    token_probability/0.9 (self-collision scaling) by a uniform random
    digit; non-digit characters pass through (reference
    ``write_wrong_digits``, noise_functions.py:497-552). Characters past
    ``max_len`` (identity columns are short) pass through unchanged.

    Spark realization: ONE lambda over the positions of a selected cell,
    ``transform(sequence(1, least(length(c), max_len)), i -> ...)``
    joined back with ``array_join``, in the CASE's noised branch — it
    runs only for the ~p of selected cells. Each position draws twice
    through the pluggable ``u01`` with decision tags
    ``wwd_{column}_{i}`` / ``wwd_digit_{column}_{i}`` (the DuckDB oracle
    replays them through the portable CRN); the lambda picks position
    i's salts from two literal BIGINT arrays (``crn.salted_u01_sql``),
    so every draw equals the one an unrolled chain makes.

    Why a lambda and not the unrolled 16-position chain this replaced:
    a higher-order function is not whole-stage codegen'd, so the round
    that carries it leaves the fused noise stage. That was once a loss
    (one interpreted expression de-optimized the whole fused
    projection), but the fused stage had since grown to a 41,680-byte
    ``processNext`` — the unrolled chains were ~26 KB of it — and
    HotSpot never JIT-compiles a method over 8,000 bytes, so every row
    ran in the bytecode interpreter. With the lambda every census
    codegen stage fits the JIT (``plans.inspect.codegen_method_bytes``)
    and a warm 200k-row census evaluation takes a third less time
    (5.9 -> 3.8 s median on 4 cores)."""
    tp = double(min(1.0, token_probability / 0.9))
    mask = _base_mask(column, key, double(p), seed, f"write_wrong_digits_{column}", u01, dtype=dtype)
    salt, draw = salted_u01_sql(u01)
    k, c, i = ident(key), as_string(column, dtype), "__wwd_i"

    def salts(tag: str) -> str:
        return "array(" + ", ".join(f"{salt(seed, f'{tag}_{column}_{j}')}L" for j in range(max_len)) + ")"

    ch = f"substr({c}, {i}, 1)"
    u_sel = draw(k, f"element_at({salts('wwd')}, {i})")
    u_dig = draw(k, f"element_at({salts('wwd_digit')}, {i})")
    dig = f"CAST(floor({u_dig} * 10) AS STRING)"
    body = f"CASE WHEN {ch} >= '0' AND {ch} <= '9' AND {u_sel} < {tp} THEN {dig} ELSE {ch} END"
    # the mask admits only non-empty cells, so the sequence never runs
    # down from 1 to 0
    positions = f"sequence(1, least(length({c}), {max_len}))"
    noised = (
        f"concat(array_join(transform({positions}, {i} -> {body}), ''), "
        f"substring({c}, {max_len + 1}, 1000000))"
    )
    return _case(column, mask, noised)


def write_wrong_digits(
    df: DataFrame,
    column: str,
    key_col: str,
    p: float = 0.01,
    token_probability: float = 0.1,
    seed: int = 0,
    u01=hash_u01_sql,
    max_len: int = 16,
) -> DataFrame:
    return _apply(df, column, write_wrong_digits_sql(
        column, key_col, p, seed, token_probability, u01_sql(u01), max_len,
    ))


def _nick_cols(column: str) -> "tuple[str, str]":
    return f"__nick_name_{column}", f"__nick_arr_{column}"


def _nickname_table(spark: SparkSession, nicknames: "dict[str, Sequence[str]]") -> DataFrame:
    """The nickname table as a temporary view of ``spark``, named by a
    digest of its contents: createDataFrame of the 1,080-row table
    costs 60-90 ms and a noise build joins it once per nickname column
    (six in taxes_1040), so each session makes it once."""
    rows = [(name, list(nicks)) for name, nicks in nicknames.items()]
    view = "__nicknames_" + hashlib.sha1(repr(rows).encode()).hexdigest()[:16]
    if not spark.catalog.tableExists(view):
        spark.createDataFrame(rows, "name string, nicknames array<string>").createOrReplaceTempView(view)
    return spark.table(view)


def nickname_join(df: DataFrame, column: str, nicknames: "dict[str, Sequence[str]]") -> "tuple[DataFrame, str]":
    """Left-join each row's nickname set for ``column``'s CURRENT value;
    returns the joined frame and the name of the added array column.
    The nickname table is tiny -> BROADCAST hash join (a map/array
    literal would be re-constructed per row — CreateMap isn't constant-
    folded — which measured ~10s/1M rows; the broadcast join is free).
    The join columns are named per target column, so several name
    columns can be joined before one projection round."""
    name_col, arr_col = _nick_cols(column)
    nick_df = F.broadcast(_nickname_table(df.sparkSession, nicknames).selectExpr(
        f"name AS {ident(name_col)}", f"nicknames AS {ident(arr_col)}"
    ))
    return df.join(nick_df, F.col(column) == F.col(name_col), "left"), arr_col


def use_nickname_sql(
    column: str,
    key: str,
    arr_col: str,
    p: float,
    seed: int,
    u01: U01Sql = hash_u01_sql,
    proportion_col: "str | None" = None,
    dtype: "str | None" = None,
) -> str:
    """Names with a known nickname set (``arr_col``, from
    :func:`nickname_join`) are replaced by a uniform nickname choice
    (reference ``use_nicknames``, noise_functions.py:555-582; 2-D choice
    kernel utilities.py:129-171). ``proportion_col`` (precomputed, see
    noise.noise_dataset) applies the 1/proportion-have-nickname scaling
    (noise_scaling.py:26-34)."""
    arr = ident(arr_col)
    base = _base_mask(
        column, key, _scaled_p(p, proportion_col), seed, f"use_nickname_{column}", u01, dtype=dtype
    )
    mask = f"({base} AND {arr} IS NOT NULL)"
    u_pick = u01(ident(key), seed, f"use_nickname_pick_{column}")
    return _case(column, mask, f"element_at({arr}, CAST(floor({u_pick} * size({arr})) + 1 AS INT))")


def use_nickname(
    df: DataFrame,
    column: str,
    key_col: str,
    nicknames: "dict[str, Sequence[str]]",
    p: float = 0.01,
    seed: int = 0,
    u01=hash_u01_sql,
    proportion_col: "str | None" = None,
) -> DataFrame:
    joined, arr_col = nickname_join(df, column, nicknames)
    sql = use_nickname_sql(column, key_col, arr_col, p, seed, u01_sql(u01), proportion_col)
    return _apply(joined, column, sql).drop(*_nick_cols(column))


def use_fake_name_sql(
    column: str,
    key: str,
    fake_names: Sequence[str],
    p: float,
    seed: int,
    u01: U01Sql = hash_u01_sql,
    dtype: "str | None" = None,
) -> str:
    """Replace with a uniform draw from a fake/placeholder name list
    (reference ``use_fake_names``, noise_functions.py:585-626; lists in
    data/fake_names.py). The pick indexes one foldable array literal —
    no per-row array construction, O(1) generated code."""
    mask = _base_mask(column, key, double(p), seed, f"use_fake_name_{column}", u01, dtype=dtype)
    u_pick = u01(ident(key), seed, f"use_fake_name_pick_{column}")
    return _case(column, mask, _uniform_pick(fake_names, u_pick))


def use_fake_name(
    df: DataFrame,
    column: str,
    key_col: str,
    fake_names: Sequence[str],
    p: float = 0.01,
    seed: int = 0,
    u01=hash_u01_sql,
) -> DataFrame:
    return _apply(df, column, use_fake_name_sql(column, key_col, fake_names, p, seed, u01_sql(u01)))


# --- token noise: phonetic, OCR and QWERTY typos -------------------------

# share of typos that keep the original character after the typo
# (reference make_typos, noise_functions.py:740-755)
TYPO_INCLUDE_ORIGINAL = 0.1


def token_salt(seed: int, kind: str, column: str) -> int:
    """The folded salt of ``kind``'s per-token draws on ``column``."""
    return fold_salt64(seed, f"{kind}_token_{column}")


def token_draw_py(seed: int, kind: str, column: str):
    """The per-token draws of :func:`token_noise_sql` as a Python
    ``draw`` hook of the kernels (``kernels._corrupt_tokens_one`` takes
    ``draw(row_key, i, L, which)``, ``kernels._typo_one_impl``
    ``draw(row_key, i, which)``; ``row_key`` is the ``__crn64`` key)."""
    salt = token_salt(seed, kind, column)
    if kind == D.MAKE_TYPOS:
        return lambda row_key, i, which: hash_u01_salted_py(salt, row_key, i, which)
    return lambda row_key, i, L, which: hash_u01_salted_py(salt, row_key, i, 2 * L + which)


def _sql_list(values) -> str:
    return ", ".join(string(v) for v in values)


# separators of the rule maps' text form (no rule token or variant
# contains them; checked when a map is written)
_PAIR_SEP, _KEY_SEP, _VARIANT_SEP = "\x01", "\x02", "\x03"


def _str_map(pairs: "Mapping[str, str]") -> str:
    """A STRING -> STRING map literal as ONE ``str_to_map`` over one
    string literal (folded to a constant). The ``map(k1, v1, ...)``
    form is one expression node per key and value, all walked again by
    the optimizer for every query over the noised frame."""
    if any(sep in f"{k}{v}" for sep in (_PAIR_SEP, _KEY_SEP) for k, v in pairs.items()):
        raise ValueError("a rule contains a map separator")
    text = _PAIR_SEP.join(f"{k}{_KEY_SEP}{v}" for k, v in sorted(pairs.items()))
    return f"str_to_map({string(text)}, {string(_PAIR_SEP)}, {string(_KEY_SEP)})"


def _below(key: str, salt: str, threshold: str, *parts: str) -> str:
    """``hash_u01_salted_sql(key, salt, *parts) < p`` as the integer
    compare ``pmod(xxhash64(...), 2^40) < p * 2^40`` (``threshold``,
    a DOUBLE, see :func:`_threshold`). The two are the same test: the
    draw is the 40-bit integer scaled by a power of two, which is exact
    in a double both ways. The integer form is fewer expression nodes,
    and every node of the token plan is walked again by each planning
    pass of every query over the noised frame."""
    return f"pmod(xxhash64({', '.join((salt, key, *parts))}), {2**40}L) < {threshold}"


def _threshold(p: float) -> str:
    return double(min(float(p), 1.0) * 2**40)


def _token_scan_sql(s, stage, selected, rules, threshold, key, salt, done_sql) -> str:
    """One phonetic or OCR pass over the string ``s`` as an
    ``aggregate`` over its positions with a ``(pos, out)`` accumulator,
    the twin of ``kernels._corrupt_tokens_one``. ``s``, ``selected``
    (the cell's mask), ``threshold`` (the token probability, see
    :func:`_threshold`) and ``salt`` are SQL; ``done_sql(out)``
    continues with the pass's output.

    At each position not yet consumed the tokens starting there are
    tried longest first, each length L with its own draw
    ``xxhash64(salt, key, pos, 2 * L)``; the first that fires is
    replaced by the variant picked with draw ``2 * L + 1`` and consumes
    L characters, and when none fires the character is copied.
    Membership is one ``IN`` list (an ``InSet`` after optimization)
    behind the first-character reject set, and the variant map is read
    only when a draw fires. Unselected cells iterate over no position
    and start from ``s`` itself."""
    acc, i, a, m, b, v, r, n, done = (
        f"__tok{stage}_{x}" for x in ("acc", "i", "a", "m", "b", "v", "r", "n", "done")
    )
    k = ident(key)
    if any(_VARIANT_SEP in x for vs in rules.values() for x in vs):
        raise ValueError("a rule variant contains a map separator")
    max_len = max(len(t) for t in rules)
    first_chars = _sql_list(sorted({t[0] for t in rules}))
    ch = f"substr({s}, {i} + 1, 1)"
    # lengths from the longest that fits down to 1; the first whose
    # token is a rule and whose draw fires is the match (0: none)
    match_len = (
        f"CASE WHEN {ch} IN ({first_chars}) THEN aggregate(sequence(least({max_len}, length({s}) - {i}), 1, -1), 0, "
        f"({r}, {n}) -> CASE WHEN {r} = 0 AND substr({s}, {i} + 1, {n}) IN ({_sql_list(sorted(rules))}) "
        f"AND {_below(k, salt, threshold, f'CAST({i} AS BIGINT)', f'CAST(2 * {n} AS BIGINT)')} THEN {n} ELSE {r} END) "
        f"ELSE 0 END"
    )
    variants = _str_map({t: _VARIANT_SEP.join(vs) for t, vs in rules.items()})
    u_pick = hash_u01_salted_sql(k, salt, f"CAST({i} AS BIGINT)", f"CAST(2 * {m} + 1 AS BIGINT)")
    replace = (
        f"aggregate(array(split(element_at({variants}, substr({s}, {i} + 1, {m})), {string(_VARIANT_SEP)}, -1)), "
        f"{a}, ({b}, {v}) -> named_struct('pos', {i} + {m}, "
        f"'out', concat({b}.out, element_at({v}, CAST(floor({u_pick} * size({v})) AS INT) + 1))))"
    )
    advance = f"named_struct('pos', {i} + 1, 'out', concat({a}.out, {ch}))"
    # a one-element aggregate binds the matched length once
    step = f"aggregate(array({match_len}), {acc}, ({a}, {m}) -> CASE WHEN {m} = 0 THEN {advance} ELSE {replace} END)"
    positions = f"CASE WHEN {selected} AND {s} != '' THEN sequence(0, length({s}) - 1) ELSE array() END"
    init = f"named_struct('pos', 0, 'out', CASE WHEN {selected} THEN '' ELSE {s} END)"
    return (
        f"aggregate({positions}, {init}, ({acc}, {i}) -> CASE WHEN {i} < {acc}.pos THEN {acc} ELSE {step} END, "
        f"{done} -> {done_sql(f'{done}.out')})"
    )


def _typo_sql(s, stage, selected, qwerty, threshold, key, salt) -> str:
    """The QWERTY typo pass over ``s`` (SQL, as are ``selected``,
    ``threshold`` and ``salt``, see :func:`_token_scan_sql`), one
    ``transform`` over its characters, the twin of
    ``kernels._typo_one_impl``: a character whose lower case has
    neighbors is replaced w.p. the token probability (draw 0) by a
    neighbor (draw 1), upper-cased when the character was, and w.p.
    ``TYPO_INCLUDE_ORIGINAL`` (draw 2) the original follows the typo."""
    i = f"__tok{stage}_i"
    k = ident(key)
    pos = f"CAST({i} AS BIGINT)"
    ch = f"substr({s}, {i} + 1, 1)"
    low = f"lower({ch})"
    nbrs = f"element_at({_str_map(qwerty)}, {low})"
    typo = f"substr({nbrs}, CAST(floor({hash_u01_salted_sql(k, salt, pos, '1L')} * length({nbrs})) AS INT) + 1, 1)"
    cased = f"CASE WHEN {ch} != {low} THEN upper({typo}) ELSE {typo} END"
    keep = f"CASE WHEN {_below(k, salt, _threshold(TYPO_INCLUDE_ORIGINAL), pos, '2L')} THEN {ch} ELSE '' END"
    body = (
        f"CASE WHEN {low} IN ({_sql_list(sorted(qwerty))}) AND {_below(k, salt, threshold, pos, '0L')} "
        f"THEN concat({cased}, {keep}) ELSE {ch} END"
    )
    return (
        f"CASE WHEN {selected} AND {s} != '' "
        f"THEN array_join(transform(sequence(0, length({s}) - 1), {i} -> {body}), '') ELSE {s} END"
    )


TOKEN_NOISE_COL = "__tok_noise"
_TOKEN_KINDS = (D.MAKE_PHONETIC_ERRORS, D.MAKE_OCR_ERRORS, D.MAKE_TYPOS)  # declaration order


def token_noise_sql(
    plans: "Mapping[str, Sequence[tuple[str, Mapping, float, float]]]",
    key: str,
    seed: int,
    dtypes: "Mapping[str, str] | None" = None,
) -> "tuple[str, dict[str, str]]":
    """Phonetic, OCR and typo noise of several columns: ``plans`` maps
    each column to ``[(kind, rules, cell_probability,
    token_probability), ...]``, and ``key`` is a BIGINT record key.
    Returns ``(packed, unpack)``: ``packed`` is the SQL of an
    ``ARRAY<STRING>`` column :data:`TOKEN_NOISE_COL` holding every
    column's noised value, NULL on rows where no cell is selected, and
    ``unpack[column]`` reads a column's STRING value back from it.

    Each (column, kind) selects cells by its own JVM mask, ``hash_u01(
    key, seed, f"{kind}_{column}") < cell_probability`` over the
    eligibility of the value before token noise (non-null, non-empty).
    The outer CASE (generated code; it admits ~14 % of census rows at
    the default rates) hands the selected rows to ONE
    ``transform`` over the columns' values, whose body runs the kinds in
    declaration order on the cells selected for them, with each
    column's salts and probabilities picked from literal arrays by the
    element's index. Each pass reads the previous one's output as a
    finishing lambda's variable, so the text grows linearly in the
    passes, and the rule tables appear once however many columns are
    noised: every expression node here is walked again by each planning
    pass of every later query over the noised frame (a census checksum
    planned ~0.3 s slower per query with the passes written out per
    column and per token length).

    ``kernels`` is the Python twin: with the draws of
    :func:`token_draw_py` it gives the same string for every cell."""
    dtypes = dtypes or {}
    rules: "dict[str, Mapping]" = {}
    for plan in plans.values():
        for kind, table, _, _ in plan:
            if rules.setdefault(kind, table) != table:
                raise ValueError(f"{kind}: every column must use the same rule table")
    kinds = [kind for kind in _TOKEN_KINDS if kind in rules]
    if D.MAKE_TYPOS in kinds[:-1]:
        raise ValueError("make_typos must be the last token noise kind")
    k = ident(key)
    columns = list(plans)
    values = [as_string(c, dtypes.get(c)) for c in columns]
    s, j = "__tok_s", "__tok_j"

    def param(per_column: "list[str]") -> str:
        return f"element_at(array({', '.join(per_column)}), {j} + 1)"

    gates = [f"({ident(c)} IS NOT NULL AND {v} != '')" for c, v in zip(columns, values)]
    fired: "list[list[str]]" = [[] for _ in columns]
    stage_params = []
    for kind in kinds:
        mask_salts, mask_thresholds, salts, thresholds = [], [], [], []
        for n, column in enumerate(columns):
            p, tp = next(((p, tp) for kd, _, p, tp in plans[column] if kd == kind), (0.0, 0.0))
            salt = f"{fold_salt64(seed, f'{kind}_{column}')}L"
            mask_salts.append(salt)
            mask_thresholds.append(_threshold(p))
            salts.append(f"{token_salt(seed, kind, column)}L")
            thresholds.append(_threshold(tp))
            if p > 0:
                fired[n].append(_below(k, salt, _threshold(p)))
        selected = _below(k, param(mask_salts), param(mask_thresholds))
        stage_params.append((kind, selected, param(thresholds), param(salts)))
    gate = " OR ".join(f"({g} AND ({' OR '.join(f)}))" for g, f in zip(gates, fired) if f)

    def passes(stage: int, value: str) -> str:
        if stage == len(kinds):
            return value
        kind, selected, threshold, salt = stage_params[stage]
        if kind == D.MAKE_TYPOS:
            return _typo_sql(value, stage, selected, rules[kind], threshold, key, salt)
        return _token_scan_sql(
            value, stage, selected, rules[kind], threshold, key, salt, lambda out: passes(stage + 1, out)
        )

    body = f"CASE WHEN {s} IS NOT NULL AND {s} != '' THEN {passes(0, s)} ELSE {s} END"
    packed = f"CASE WHEN {gate or 'false'} THEN transform(array({', '.join(values)}), ({s}, {j}) -> {body}) END"
    t = ident(TOKEN_NOISE_COL)
    unpack = {c: f"coalesce(element_at({t}, {n + 1}), {v})" for n, (c, v) in enumerate(zip(columns, values))}
    return packed, unpack


def token_noise(
    df: DataFrame,
    plans: "Mapping[str, Sequence[tuple[str, Mapping, float, float]]]",
    key_col: str,
    seed: int = 0,
) -> DataFrame:
    """:func:`token_noise_sql` applied: one projection adds the packed
    column, one more unpacks it into the noised columns and drops it.
    ``key_col`` must be a BIGINT key (``noise_dataset`` passes
    ``__crn64``)."""
    packed, unpack = token_noise_sql(plans, key_col, seed, dict(df.dtypes))
    df = df.withColumn(TOKEN_NOISE_COL, F.expr(packed))
    return df.withColumns({column: F.expr(sql) for column, sql in unpack.items()}).drop(TOKEN_NOISE_COL)
