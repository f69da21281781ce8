"""Python token-corruption kernels — the three noise types with no
single built-in Spark expression: phonetic errors, OCR errors and
QWERTY typos (reference ``_corrupt_tokens``,
``src/pseudopeople/noise_functions.py:788-929``, ``make_typos``
:675-758; semantics spec'd by its exhaustive token-pathway tests,
``tests/unit/test_column_noise.py:45-168`` — SURVEY.md §5.3).

The noise plan does not call these: ``column_noise.token_noise_sql``
runs the same scans as masked higher-order functions in the JVM. This
module is their Python twin, for two readers:

  * the tests (``tests/test_kernels.py``) check the JVM builder against
    these scalars cell for cell, with the builder's xxhash64 draws
    passed as ``draw=`` (``column_noise.token_draw_py``);
  * the frozen oracle queries (``__spark_entry__.noise_*_bounded``) run
    the pandas UDFs below with portable draws that DuckDB replays.

Semantics implemented (the reference's contract, re-derived):
  * the string is scanned left-to-right; at each position the LONGEST
    token present in the rule table is the candidate (longest-match-
    first);
  * each candidate token is corrupted independently w.p.
    ``token_probability``; a corrupted span consumes its full length
    (no overlapping corruption); a non-corrupted position advances by
    one character so overlapping tokens each get their chance;
  * the replacement is a uniform choice among the token's variants
    ("" = deletion, the reference's '@' rule);
  * typos: each QWERTY-mapped character is replaced w.p.
    ``token_probability`` by a uniformly chosen adjacent key; 10% of
    typos additionally KEEP the original character and insert the typo
    after it; case is preserved.

Determinism: without ``draw=`` every draw is ``splitmix64(row_key,
position, salt)`` — a stateless hash of the stable record key, never
partition state, so output is invariant to partitioning/executor count.

The UDFs take (key:int64, mask:bool, value:string): pass-through rows
short-circuit, so Python-side work is O(selected cells) = O(p · rows),
and each Arrow batch stays columnar end-to-end.
"""

from __future__ import annotations

from typing import Mapping, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- pure-python splitmix64 scalar path -----------------------------------
# The per-(row, position) draws inside the scan loops were numpy-SCALAR
# splitmix calls (np.uint64 arithmetic on 1-element values, an array
# allocation per draw — ~3-5us each); a selected cell makes one per
# candidate position. The integer replica below is bit-exact (both are
# arithmetic mod 2^64; asserted in tests/test_kernels.py) and ~10x
# cheaper per draw.
_M64 = (1 << 64) - 1
_G = 0x9E3779B97F4A7C15
_PM1 = 0xBF58476D1CE4E5B9
_PM2 = 0x94D049BB133111EB


def _sm64(x: int) -> int:
    z = (x + _G) & _M64
    z = ((z ^ (z >> 30)) * _PM1) & _M64
    z = ((z ^ (z >> 27)) * _PM2) & _M64
    return z ^ (z >> 31)


def _sm_mix(acc: int, part: int) -> int:
    return _sm64(acc ^ ((part * _G) & _M64))


def _sm_u01_tail(prefix: int, part: int) -> float:
    """u01 of key64([a, b, part]) given prefix = mix(mix(0,a),b) — the
    scan loops reuse the (row_key, position) prefix across the
    token-length / draw-kind tail."""
    return (_sm_mix(prefix, part) >> 11) * (1.0 / float(1 << 53))


def _corrupt_tokens_one(
    s: str,
    row_key: int,
    salt: int,
    rules: Mapping[str, Sequence[str]],
    max_token_len: int,
    token_probability: float,
    draw=None,
    first_chars: "frozenset | None" = None,
) -> str:
    """One string through the token-corruption scan. At each position
    every eligible token gets its own corruption draw, tried
    longest-first: when the longest token's draw fails, successively
    SHORTER tokens at the same position still get a chance (the
    reference tries each token length independently,
    noise_functions.py:838-918) — only when every draw at the position
    fails does the scan advance one character.

    ``draw(row_key, i, L, which)`` (which: 0 = corrupt?, 1 = variant
    pick) overrides the default splitmix64 stream — used by the
    SQL-replayable bounded oracle (__spark_entry__.noise_phonetic_
    bounded), which keys the portable CRN on the same (row, position,
    token-length, draw) tuple so a chained-CTE unroll replays the scan
    bit-exactly."""
    out: list[str] = []
    i = 0
    n = len(s)
    salt_i = int(salt) & _M64
    rk = int(row_key) & _M64
    key_prefix = _sm_mix(0, rk)
    if first_chars is None:
        first_chars = frozenset(k[0] for k in rules if k)
    while i < n:
        # no rule token starts with this character -> the L-loop can
        # never match; advance without the per-length dict probes
        if s[i] not in first_chars:
            out.append(s[i])
            i += 1
            continue
        corrupted = False
        pos_prefix = None
        for L in range(min(max_token_len, n - i), 0, -1):
            cand = s[i : i + L]
            if cand not in rules:
                continue
            if draw is not None:
                u = draw(row_key, i, L, 0)
            else:
                if pos_prefix is None:
                    pos_prefix = _sm_mix(key_prefix, i)
                u = _sm_u01_tail(pos_prefix, (salt_i + 2 * L) & _M64)
            if u < token_probability:
                variants = rules[cand]
                if draw is not None:
                    u2 = draw(row_key, i, L, 1)
                else:
                    u2 = _sm_u01_tail(pos_prefix, (salt_i + 2 * L + 1) & _M64)
                out.append(variants[int(u2 * len(variants))])
                i += L
                corrupted = True
                break
        if not corrupted:
            out.append(s[i])
            i += 1
    return "".join(out)


def make_corrupt_tokens_udf(
    rules: Mapping[str, Sequence[str]],
    token_probability: float = 0.1,
    seed: int = 0,
    decision: str = "corrupt_tokens",
    draw=None,
):
    """Factory: token-corruption pandas UDF for a given rule table
    (phonetic variants or OCR confusions). The rule table is captured in
    the closure (tiny) — cloudpickled once per task, not per row.
    ``draw`` (optional) overrides the per-draw RNG — see
    :func:`_corrupt_tokens_one`."""
    max_len = max(len(k) for k in rules)
    salt = _salt(seed, decision)
    frozen = {k: tuple(v) for k, v in rules.items()}
    # the scan's cheap reject set, captured in the closure — NEVER
    # cached by id(rules): a reused worker can see a different rule
    # table at a recycled address and reject the wrong characters
    fc = frozenset(k[0] for k in frozen if k)

    @F.pandas_udf(T.StringType())
    def corrupt(key: pd.Series, mask: pd.Series, val: pd.Series) -> pd.Series:
        out = val.copy()
        sel = mask.fillna(False).to_numpy(dtype=bool) & val.notna().to_numpy(dtype=bool)
        if sel.any():
            keys = key.to_numpy(dtype=np.int64).astype(np.uint64)
            idx = np.nonzero(sel)[0]
            vals = val.to_numpy(dtype=object)
            res = [
                _corrupt_tokens_one(
                    str(vals[j]), int(keys[j]), salt, frozen, max_len,
                    token_probability, draw=draw, first_chars=fc,
                )
                for j in idx
            ]
            out.iloc[idx] = res
        return out

    return corrupt


def make_typos_udf(
    qwerty: Mapping[str, str],
    token_probability: float = 0.1,
    include_original_probability: float = 0.1,
    seed: int = 0,
    decision: str = "make_typos",
    draw=None,
):
    """Factory: QWERTY-typo pandas UDF (reference ``make_typos``,
    noise_functions.py:675-758; asset data/qwerty_errors.yaml).
    ``draw`` (optional) overrides the per-draw RNG — see
    :func:`_typo_one_impl`."""
    salt = _salt(seed, decision)
    frozen = {k: str(v) for k, v in qwerty.items()}

    @F.pandas_udf(T.StringType())
    def typos(key: pd.Series, mask: pd.Series, val: pd.Series) -> pd.Series:
        out = val.copy()
        sel = mask.fillna(False).to_numpy(dtype=bool) & val.notna().to_numpy(dtype=bool)
        if sel.any():
            keys = key.to_numpy(dtype=np.int64).astype(np.uint64)
            idx = np.nonzero(sel)[0]
            vals = val.to_numpy(dtype=object)
            out.iloc[idx] = [
                _typo_one_impl(str(vals[j]), int(keys[j]), frozen, token_probability, salt,
                               include_original_probability, draw=draw)
                for j in idx
            ]
        return out

    return typos


def _typo_one_impl(
    s: str, row_key: int, frozen, tp: float, salt: int,
    include_original_probability: float = 0.1, draw=None,
) -> str:
    """QWERTY typo scan for one string. ~10% of typos KEEP the original
    character, emitted typo-FIRST then original (the reference assigns
    the typo at the character position and appends the original after
    it, noise_functions.py:740-755).

    ``draw(row_key, i, which)`` (which: 0 = typo?, 1 = neighbor pick,
    2 = keep-original?) overrides the splitmix64 stream — used by the
    SQL-replayable bounded oracle (__spark_entry__.noise_typo_bounded),
    whose flat per-position CASE chain replays each draw exactly (the
    scan has fixed advance, so no CTE state is needed)."""
    out: list[str] = []
    st = int(salt) & _M64
    key_prefix = _sm_mix(0, int(row_key) & _M64)
    for i, ch in enumerate(s):
        nbrs = frozen.get(ch.lower())
        if nbrs is None:
            out.append(ch)
            continue
        pos_prefix = None
        if draw is not None:
            u0 = draw(row_key, i, 0)
        else:
            pos_prefix = _sm_mix(key_prefix, i)
            u0 = _sm_u01_tail(pos_prefix, st)
        if u0 >= tp:
            out.append(ch)
            continue
        u2 = (
            draw(row_key, i, 1) if draw is not None
            else _sm_u01_tail(pos_prefix, (st + 1) & _M64)
        )
        typo = nbrs[int(u2 * len(nbrs))]
        if ch.isupper():
            typo = typo.upper()
        out.append(typo)
        u3 = (
            draw(row_key, i, 2) if draw is not None
            else _sm_u01_tail(pos_prefix, (st + 2) & _M64)
        )
        if u3 < include_original_probability:
            out.append(ch)
    return "".join(out)


def _salt(seed: int, decision: str) -> int:
    acc = int(seed) & 0xFFFFFFFFFFFFFFFF
    for ch in decision:
        acc = ((acc * 1099511628211) ^ ord(ch)) & 0xFFFFFFFFFFFFFFFF
    return acc
