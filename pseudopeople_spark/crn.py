"""Common-random-numbers (CRN) for deterministic noise and sampling.

The reference achieves reproducibility through vivarium's
``RandomnessStream`` — a hash of (seed, decision_key, row index) mapped
to a uniform draw (``/root/reference/src/pseudopeople/utilities.py:18-25``).
Its hardest-won invariant is that outputs do not depend on how data is
sharded (``tests/integration/test_interface.py:90-153``).

We reproduce the *contract*, not the bit pattern (the reference's own
tests are distributional, not bit-exact — SURVEY.md §5):

    u = hash_u01(seed, decision_key, record_key)  in [0, 1)

keyed ONLY by stable record identity — never ``rand()``, never
``spark_partition_id()`` — so results are invariant to partitioning,
AQE re-planning, and executor count.

Three implementations, one contract:

* :func:`hash_u01` — JVM-side ``xxhash64`` (whole-stage codegen'd, the
  production path); :func:`hash_u01_sql` is its Spark SQL text and
  :func:`hash_u01_salted_sql` its form over a salt given as SQL and
  extra key parts. The token noise draws of
  ``column_noise.token_noise_sql`` use those parts:
  ``xxhash64(salt, __crn64, position, tail)`` per scanned position.
  :func:`xxhash64_py` / :func:`hash_u01_salted_py` / :func:`hash_u01_py`
  are their pure-Python twins (Spark's ``XXH64.hashLong`` chained from
  seed 42), so the Python token kernels can replay a JVM plan's draws
  bit for bit.
* :func:`portable_u01` / :func:`portable_u01_sql` — a Lehmer double-step
  LCG on an int64 key, expressible identically in Spark SQL *and* ANSI
  SQL (DuckDB). Used by the oracle-checked noise queries so the DuckDB
  oracle can replay the exact same draws; :func:`portable_u01_spark_sql`
  is its Spark SQL text.
* :func:`splitmix64_u01` — numpy uint64 splitmix64, the default draws
  of the Python token kernels (``operators.kernels``) and of the media
  generator; fully vectorized, no per-row Generator objects.

Each SQL-text twin also has a salt-as-SQL form (:func:`salted_u01_sql`)
for draws whose decision is picked per element inside one expression.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

_TWO40 = float(2**40)

# Lehmer / MINSTD parameters: all intermediates stay < 2**47 for keys
# < 2**31, so the expression is safe under Spark's ANSI int64 overflow
# checking and evaluates identically in DuckDB.
_MINSTD_A = 48271
_MINSTD_M = 2147483647  # 2**31 - 1


def fold_salt64(seed: int | str, decision: str) -> int:
    """Fold (seed, decision) into ONE signed-int64 literal at plan-build
    time (FNV-1a). The previous draw shape hashed the two components as
    per-row STRING literals — xxhash64 walked ~30 literal bytes for
    every draw of every row; with ~60 draws/row in the census noise
    plan that was the single largest expression cost (measured 3.5x on
    a 40-draw microbench). Folding them driver-side leaves the per-row
    work at one fixed-width hash.

    The seed is length-framed (``"<len>:<seed>|<decision>"``), so no two
    (seed, decision) pairs fold the same text: unframed, seed ``'1|a'``
    with decision ``'b'`` aliased seed ``'1'`` with decision ``'a|b'``."""
    seed_text = str(seed)
    acc = 0xCBF29CE484222325
    for ch in f"{len(seed_text)}:{seed_text}|{decision}":
        acc = ((acc ^ ord(ch)) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return acc - 2**64 if acc >= 2**63 else acc


def hash_u01(key: Column | str, seed: int | str, decision: str) -> Column:
    """Uniform [0,1) draw keyed by (seed, decision, record key).

    JVM-side: xxhash64 over (folded salt, key), low 40 bits → double.
    Stable under repartitioning because the only inputs are literals and
    the record key column. (seed, decision) are folded into one int64
    at plan time (:func:`fold_salt64`); the key column is hashed in its
    native type — callers with a string id column that draw MANY times
    per row should pre-hash it once (``xxhash64(id)``) and pass the
    int64 (see noise.noise_dataset's ``__crn64``)."""
    key = F.col(key) if isinstance(key, str) else key
    h = F.xxhash64(F.lit(fold_salt64(seed, decision)).cast("bigint"), key)
    return F.pmod(h, F.lit(2**40)).cast("double") / F.lit(_TWO40)


def hash_u01_sql(key_sql: str, seed: int | str, decision: str) -> str:
    """Spark SQL text of :func:`hash_u01` — the same xxhash64 over the
    same folded salt and key, the same low-40-bit double, so a plan
    built from text draws bit-identical values. Building the noise plan
    from text costs one JVM call per projected column instead of one
    Py4J round trip per expression node (see noise.noise_dataset).
    Literals carry explicit types: a bare ``0.5`` would parse as a
    DECIMAL."""
    return hash_u01_salted_sql(key_sql, f"CAST({fold_salt64(seed, decision)} AS BIGINT)")


def hash_u01_salted_sql(key_sql: str, salt_sql: str, *parts_sql: str) -> str:
    """:func:`hash_u01_sql` over a salt given as a BIGINT SQL expression
    (``fold_salt64(seed, decision)`` as a literal, or picked from an
    array of such literals). xxhash64 hashes the salt's long value, so
    the draw does not depend on where the salt comes from. ``parts_sql``
    (BIGINT expressions) extend the key: the token scans draw per
    (record, position, token length) as ``xxhash64(salt, key, pos, tail)``.
    :func:`hash_u01_salted_py` is the Python twin."""
    args = ", ".join((salt_sql, key_sql, *parts_sql))
    return f"(CAST(pmod(xxhash64({args}), {2**40}L) AS DOUBLE) / {_TWO40!r}D)"


# --------------------------------------------------------------------------
# Python twin of Spark's xxhash64 over BIGINT arguments
# --------------------------------------------------------------------------

_M64 = (1 << 64) - 1
_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5
_XXH_SEED = 42  # Spark's XxHash64 expression seed


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh64_long(value: int, seed: int) -> int:
    """``XXH64.hashLong(value, seed)`` of Spark's catalyst, mod 2**64."""
    h = (seed + _XXH_P5 + 8) & _M64
    h ^= (_rotl64((value * _XXH_P2) & _M64, 31) * _XXH_P1) & _M64
    h = (_rotl64(h, 27) * _XXH_P1 + _XXH_P4) & _M64
    h ^= h >> 33
    h = (h * _XXH_P2) & _M64
    h ^= h >> 29
    h = (h * _XXH_P3) & _M64
    return h ^ (h >> 32)


def xxhash64_py(*values: int) -> int:
    """Spark's ``xxhash64(v1, v2, ...)`` over BIGINT arguments, as a
    signed int64: seed 42, each argument hashed with the running hash
    as its seed. Lets a Python kernel draw exactly what a JVM plan
    draws (``tests/test_crn.py`` checks it against Spark)."""
    h = _XXH_SEED
    for v in values:
        h = _xxh64_long(int(v) & _M64, h)
    return h - 2**64 if h >= 2**63 else h


def hash_u01_salted_py(salt: int, key: int, *parts: int) -> float:
    """Python twin of :func:`hash_u01_salted_sql` over integer arguments."""
    return (xxhash64_py(salt, key, *parts) % 2**40) / _TWO40


def hash_u01_py(key: int, seed: int | str, decision: str) -> float:
    """Python twin of :func:`hash_u01` for an int64 key."""
    return hash_u01_salted_py(fold_salt64(seed, decision), key)


def _mix_decision(seed: int, decision: str) -> int:
    """Fold (seed, decision) into a small positive int64 constant."""
    acc = int(seed) % _MINSTD_M
    for ch in decision:
        acc = (acc * 31 + ord(ch)) % _MINSTD_M
    # range [1, M-1]: never 0 (the LCG's fixed point) AND never M itself
    # (acc == M-1 would give acc+1 == M ≡ 0 mod M, degenerating x1 to
    # x0*A%M — keys ≡ 0 mod M would then draw u=0.0 forever)
    return acc % (_MINSTD_M - 1) + 1


def portable_u01(key: Column | str, seed: int, decision: str) -> Column:
    """Uniform [0,1) draw computable identically in Spark and DuckDB.

    key must be a non-negative integer column. Two Lehmer steps:
        x1 = ((key % M) * A + d) % M ;  x2 = (x1 * A) % M ;  u = x2 / M
    """
    key = F.col(key) if isinstance(key, str) else key
    d = _mix_decision(seed, decision)
    x0 = F.pmod(key.cast("bigint"), F.lit(_MINSTD_M))
    x1 = F.pmod(x0 * F.lit(_MINSTD_A) + F.lit(d), F.lit(_MINSTD_M))
    x2 = F.pmod(x1 * F.lit(_MINSTD_A), F.lit(_MINSTD_M))
    return x2.cast("double") / F.lit(float(_MINSTD_M))


def portable_u01_sql(key_expr: str, seed: int, decision: str) -> str:
    """ANSI-SQL text of :func:`portable_u01` for the DuckDB oracle."""
    d = _mix_decision(seed, decision)
    x1 = f"((({key_expr}) % {_MINSTD_M}) * {_MINSTD_A} + {d}) % {_MINSTD_M}"
    x2 = f"(({x1}) * {_MINSTD_A}) % {_MINSTD_M}"
    return f"(CAST({x2} AS DOUBLE) / {_MINSTD_M}.0)"


def portable_u01_spark_sql(key_sql: str, seed: int, decision: str) -> str:
    """Spark SQL text of :func:`portable_u01` (``pmod`` over the key cast
    to BIGINT, exactly as the Column form builds it). The DuckDB oracle
    keeps its own text, :func:`portable_u01_sql`."""
    return portable_u01_salted_sql(key_sql, str(_mix_decision(seed, decision)))


def portable_u01_salted_sql(key_sql: str, salt_sql: str) -> str:
    """:func:`portable_u01_spark_sql` over a salt given as an integer SQL
    expression (``_mix_decision(seed, decision)``). The salt is below
    2**31, so the arithmetic is the same in INT or BIGINT."""
    x0 = f"pmod(CAST({key_sql} AS BIGINT), {_MINSTD_M})"
    x1 = f"pmod({x0} * {_MINSTD_A} + {salt_sql}, {_MINSTD_M})"
    x2 = f"pmod({x1} * {_MINSTD_A}, {_MINSTD_M})"
    return f"(CAST({x2} AS DOUBLE) / {float(_MINSTD_M)!r}D)"


# Each Column draw factory's SQL-text twin. The noise operators build
# their expressions as text and take either form of ``u01``.
_SQL_TWINS = {hash_u01: hash_u01_sql, portable_u01: portable_u01_spark_sql}
# Each text twin's salt-as-SQL form: how it folds (seed, decision) into
# one integer salt, and its draw over a salt given as SQL. An operator
# whose decision varies per element (write_wrong_digits' per-position
# draws inside one lambda) picks the salt from a literal array and
# writes one expression for both twins.
_SALTED_TWINS = {
    hash_u01_sql: (fold_salt64, hash_u01_salted_sql),
    portable_u01_spark_sql: (_mix_decision, portable_u01_salted_sql),
}


def u01_sql(u01):
    """The SQL-text draw factory for ``u01`` (a Column factory above or
    already a text factory)."""
    if u01 in _SQL_TWINS.values():
        return u01
    try:
        return _SQL_TWINS[u01]
    except KeyError:
        raise TypeError(f"no SQL-text twin for draw factory {u01!r}") from None


def salted_u01_sql(u01):
    """``(salt, draw)`` for the draw factory ``u01`` (either form):
    ``salt(seed, decision)`` is the integer salt and
    ``draw(key_sql, salt_sql)`` the draw over a salt given as SQL, so
    ``draw(key, str(salt(seed, decision)))`` equals
    ``u01_sql(u01)(key, seed, decision)`` bit for bit."""
    return _SALTED_TWINS[u01_sql(u01)]


def portable_u01_py(key: int, seed: int, decision: str) -> float:
    """Scalar Python replica of :func:`portable_u01` — same two Lehmer
    steps, same decision mixing. Lets a procedural Arrow kernel (the
    token-corruption scan) make draws a SQL oracle can replay exactly:
    the kernel calls this per (row, position) and the oracle unrolls
    the identical arithmetic per CTE step."""
    d = _mix_decision(seed, decision)
    x1 = ((int(key) % _MINSTD_M) * _MINSTD_A + d) % _MINSTD_M
    x2 = (x1 * _MINSTD_A) % _MINSTD_M
    return x2 / _MINSTD_M


# --------------------------------------------------------------------------
# numpy-side stateless RNG for Arrow kernels
# --------------------------------------------------------------------------

_SM_GAMMA = np.uint64(0x9E3779B97F4A7C15)
_SM_M1 = np.uint64(0xBF58476D1CE4E5B9)
_SM_M2 = np.uint64(0x94D049BB133111EB)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer over uint64 (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        z = (x + _SM_GAMMA).astype(np.uint64)
        z = (z ^ (z >> np.uint64(30))) * _SM_M1
        z = (z ^ (z >> np.uint64(27))) * _SM_M2
        z = z ^ (z >> np.uint64(31))
    return z


def key64(parts: "list[np.ndarray | int]") -> np.ndarray:
    """Combine integer key parts into one uint64 stream key (vectorized)."""
    acc = np.uint64(0)
    with np.errstate(over="ignore"):
        for p in parts:
            arr = np.asarray(p, dtype=np.uint64)
            acc = _splitmix64(np.asarray(acc, dtype=np.uint64) ^ (arr * _SM_GAMMA))
    return acc


def splitmix64_u01(parts: "list[np.ndarray | int]") -> np.ndarray:
    """Vectorized uniform [0,1) from integer key parts (numpy, stateless)."""
    z = key64(parts)
    return (z >> np.uint64(11)).astype(np.float64) * (1.0 / float(1 << 53))
