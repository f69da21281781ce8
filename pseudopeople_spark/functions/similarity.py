"""Similarity & phonetic scalar functions for record linkage.

Spark built-ins cover ``soundex`` and ``levenshtein``; this module adds
the ones Spark lacks (SURVEY.md §2.E "scalar functions"):

* :func:`jaro_winkler` / :func:`jaro_winkler_udf` — standard
  Jaro-Winkler similarity (Winkler prefix scaling 0.1, boost threshold
  0.7), semantics matched against DuckDB's
  ``jaro_winkler_similarity`` so the DuckDB oracle can verify values.
* :func:`double_metaphone_udf` — a compact double-metaphone-style
  phonetic encoder (primary + secondary codes) for blocking keys.
* :func:`token_set_ratio_udf` — Jaccard over whitespace token sets.
* :func:`ngrams` — character n-gram shingles as a pure Spark
  expression (no UDF).

All Python-side functions are exposed ONLY as Arrow pandas UDFs
(batched, numpy/object loops per batch — no per-row Python UDFs).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


# --------------------------------------------------------------------------
# Jaro-Winkler
# --------------------------------------------------------------------------

def jaro(s1: str, s2: str) -> float:
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0  # incl. ("","") — matches DuckDB's jaro_winkler_similarity
    if s1 == s2:
        return 1.0
    window = max(l1, l2) // 2 - 1
    if window < 0:
        window = 0
    match1 = [False] * l1
    match2 = [False] * l2
    matches = 0
    for i, c in enumerate(s1):
        lo = max(0, i - window)
        hi = min(l2, i + window + 1)
        for j in range(lo, hi):
            if not match2[j] and s2[j] == c:
                match1[i] = True
                match2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if match1[i]:
            while not match2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    return (matches / l1 + matches / l2 + (matches - t) / matches) / 3.0


def jaro_winkler(s1: str, s2: str, prefix_scale: float = 0.1, boost_threshold: float = 0.7) -> float:
    j = jaro(s1, s2)
    if j > boost_threshold:
        prefix = 0
        for a, b in zip(s1[:4], s2[:4]):
            if a != b:
                break
            prefix += 1
        j += prefix * prefix_scale * (1.0 - j)
    return j


# Process-persistent memo tables for the name-similarity UDFs. A
# per-batch dict re-pays every distinct pair's O(len^2) cost on every
# 20k-row Arrow batch (42M pairs / 20k = ~2000 re-computations of the
# Zipf head); the python workers are reused across tasks
# (spark.python.worker.reuse), so a MODULE-level dict reached via
# import survives batches AND tasks. Bounded: cleared when it exceeds
# the cap (names are Zipfian — the head re-fills instantly).
_JW_CACHE: "dict[tuple, float]" = {}
_LEV_CACHE: "dict[tuple, float]" = {}  # normalized-lev ratios (dob/ssn pairs)
_FAMBEST_CACHES: "dict[str, dict]" = {}  # (variant-set, variant-set) -> best lev ratio
_FIRST_SIM_CACHES: "dict[str, dict]" = {}
_LEVR_CACHE: "dict[tuple, float]" = {}  # (name, name) -> 1 - lev/max(len), symmetric key
_FAM_STATS_CACHE: "dict[frozenset, tuple]" = {}  # family -> (names, lens, char-count matrix)
_CACHE_MAX = 4_000_000


_JW_VEC_MAX_LEN = 64  # longer strings fall back to the scalar kernel


def jaro_winkler_batch(xs: "list[str]", ys: "list[str]"):
    """Vectorized Jaro-Winkler over a batch of string pairs — numpy
    matrix ops across the batch dimension instead of a Python loop per
    pair. Value-identical to the scalar :func:`jaro_winkler` (same
    float64 operations in the same order; verified by
    tests/test_similarity.py::test_jw_batch_matches_scalar).

    The greedy match loop runs over character POSITIONS (<= max string
    length in the batch), each step an O(batch x len) boolean reduce,
    so per-pair cost is ~len^2 SIMD ops instead of ~len^2 interpreted
    Python steps. Pairs with a string longer than _JW_VEC_MAX_LEN (or
    non-BMP characters, which numpy's UCS4 view handles fine but keep
    the scalar path for surrogate safety) are delegated to the scalar
    kernel; name-scoring workloads never hit that path.

    Returns float64 ndarray of len(xs)."""
    import numpy as np

    n = len(xs)
    out = np.zeros(n, dtype=np.float64)
    if n == 0:
        return out
    l1 = np.fromiter((len(s) for s in xs), dtype=np.int64, count=n)
    l2 = np.fromiter((len(s) for s in ys), dtype=np.int64, count=n)
    maxlen = int(max(l1.max(), l2.max()))
    if maxlen == 0:
        return out  # all pairs have an empty side -> 0.0
    if maxlen > _JW_VEC_MAX_LEN:
        return np.fromiter(
            (jaro_winkler(x, y) for x, y in zip(xs, ys)), dtype=np.float64, count=n
        )
    # UCS4 char-code matrices, zero-padded to the batch max length
    m1 = np.array(xs, dtype=f"U{maxlen}").view(np.uint32).reshape(n, maxlen)
    m2 = np.array(ys, dtype=f"U{maxlen}").view(np.uint32).reshape(n, maxlen)

    eq = l1 == l2
    if eq.any():
        eq &= (m1 == m2).all(axis=1)
    nonempty = (l1 > 0) & (l2 > 0)
    # equal nonempty strings are 1.0; ("","") is 0.0 by contract
    out[eq & nonempty] = 1.0
    todo = nonempty & ~eq
    if not todo.any():
        return out
    idx = np.nonzero(todo)[0]
    a = m1[idx]
    b = m2[idx]
    la = l1[idx]
    lb = l2[idx]
    k = len(idx)
    window = np.maximum(np.maximum(la, lb) // 2 - 1, 0)
    cols = np.arange(maxlen, dtype=np.int64)
    in_b = cols[None, :] < lb[:, None]
    match1 = np.zeros((k, maxlen), dtype=bool)
    match2 = np.zeros((k, maxlen), dtype=bool)
    la_max = int(la.max())
    for i in range(la_max):
        live = i < la
        if not live.any():
            break
        c = a[:, i]
        lo = np.maximum(0, i - window)
        hi = np.minimum(lb, i + window + 1)
        cand = (
            (b == c[:, None])
            & ~match2
            & (cols[None, :] >= lo[:, None])
            & (cols[None, :] < hi[:, None])
            & in_b
            & live[:, None]
        )
        has = cand.any(axis=1)
        j = cand.argmax(axis=1)  # first True per row
        rows = np.nonzero(has)[0]
        match2[rows, j[rows]] = True
        match1[rows, i] = True
    matches = match1.sum(axis=1)
    pos = np.nonzero(matches > 0)[0]
    if len(pos) > 0:
        # compact matched chars of a (i-order) and b (j-order) to the
        # front, stable, then count positional mismatches
        ia = np.argsort(~match1[pos], axis=1, kind="stable")
        ib = np.argsort(~match2[pos], axis=1, kind="stable")
        ca = np.take_along_axis(a[pos], ia, axis=1)
        cb = np.take_along_axis(b[pos], ib, axis=1)
        valid = cols[None, :] < matches[pos][:, None]
        t = ((ca != cb) & valid).sum(axis=1) // 2
        mf = matches[pos].astype(np.float64)
        laf = la[pos].astype(np.float64)
        lbf = lb[pos].astype(np.float64)
        j_sim = (mf / laf + mf / lbf + (mf - t) / mf) / 3.0
        # Winkler boost: common prefix of the first 4 chars (bounded by
        # the shorter string), only when jaro > 0.7
        pmax = min(4, maxlen)
        pcols = np.arange(pmax, dtype=np.int64)
        pvalid = pcols[None, :] < np.minimum(la[pos], lb[pos])[:, None]
        peq = (a[pos][:, :pmax] == b[pos][:, :pmax]) & pvalid
        prefix = np.cumprod(peq, axis=1).sum(axis=1)
        boost = j_sim > 0.7
        j_sim = np.where(boost, j_sim + prefix * 0.1 * (1.0 - j_sim), j_sim)
        out[idx[pos]] = j_sim
    return out


@F.pandas_udf(T.DoubleType())
def jaro_winkler_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    import numpy as np

    av = a.to_numpy(dtype=object)
    bv = b.to_numpy(dtype=object)
    null = np.fromiter((x is None or y is None for x, y in zip(av, bv)), dtype=bool, count=len(av))
    res = np.full(len(av), np.nan, dtype=np.float64)
    ok = np.nonzero(~null)[0]
    if len(ok) > 0:
        xs = [str(av[i]) for i in ok]
        ys = [str(bv[i]) for i in ok]
        res[ok] = jaro_winkler_batch(xs, ys)
    return pd.Series(res, dtype="float64")


def levenshtein(s1: str, s2: str) -> int:
    if s1 == s2:
        return 0
    if not s1 or not s2:
        return max(len(s1), len(s2))
    prev = list(range(len(s2) + 1))
    for i, c1 in enumerate(s1):
        cur = [i + 1]
        for j, c2 in enumerate(s2):
            cur.append(min(prev[j + 1] + 1, cur[j] + 1, prev[j] + (c1 != c2)))
        prev = cur
    return prev[-1]


def family_cache_token(families: "dict[str, frozenset]") -> str:
    """Cache namespace per distinct families table (tests may pass
    custom tables; keys distinguish them). Hashes the ITEMS, not just
    the keys — two tables with identical names but different family
    memberships must not share a namespace and serve each other stale
    sims (values are frozensets, so items are hashable)."""
    return f"{len(families)}:{hash(frozenset(families.items()))}"


def _fam_stats(fam: frozenset) -> "tuple[list, object, object]":
    """(names, length vector, per-name character-count matrix) for a
    variant set, memoized on the frozenset. The count matrix feeds the
    edit-distance lower bound in _cross_best: 27 slots (A-Z + other);
    non-ASCII names count CHARACTERS (not utf-8 bytes) so the bound
    never overestimates the character-level Levenshtein."""
    import numpy as np

    st = _FAM_STATS_CACHE.get(fam)
    if st is None:
        if len(_FAM_STATS_CACHE) > _CACHE_MAX:
            _FAM_STATS_CACHE.clear()
        names = [n for n in fam if n]  # ""-vs-x ratio is 0.0 — never the max
        lens = np.array([len(n) for n in names], dtype=np.int32)
        counts = np.zeros((len(names), 27), dtype=np.int32)
        for i, nm in enumerate(names):
            if nm.isascii():
                code = np.frombuffer(nm.encode(), np.uint8).astype(np.int32) - 65
            else:
                code = np.fromiter((ord(c) - 65 for c in nm), np.int32, len(nm))
            code[(code < 0) | (code > 25)] = 26
            counts[i] = np.bincount(code, minlength=27)
        st = (names, lens, counts)
        _FAM_STATS_CACHE[fam] = st
    return st


def _cross_best(va: frozenset, vb: frozenset) -> float:
    """max over va x vb of (1 - levenshtein/max(len)) — the family
    cross-product behind nickname-aware first-name similarity.

    The naive loop (k levenshteins of ~35us each, ~26 per call) was
    the measured hot spot of the whole ER scoring stage (profile:
    1.38M levenshtein calls per 1M pairs). This version prunes with a
    cheap vectorized lower bound on the edit distance —
    d >= max(excess character counts either direction) >= |len diff| —
    visits candidates in descending upper-bound order, and stops as
    soon as the bound can't beat the best found (or the best reaches
    the 0.93 cap its only consumer, make_pair_sim, applies). Exact
    ratios are memoized process-wide on the symmetric name pair
    (_LEVR_CACHE) because the same names recur across family pairs.
    Value-identical to the naive max: only candidates provably <= best
    are skipped, and early-stop at >=0.93 cannot change
    min(best, 0.93)."""
    import numpy as np

    na, la, ca = _fam_stats(va)
    nb, lb, cb = _fam_stats(vb)
    if not na or not nb:
        return 0.0
    diff = ca[:, None, :] - cb[None, :, :]
    pos = np.clip(diff, 0, None).sum(axis=2)
    neg = pos - diff.sum(axis=2)
    lower_d = np.maximum(pos, neg)
    m = np.maximum(la[:, None], lb[None, :]).astype(np.float64)
    ub = (1.0 - lower_d / m).ravel()
    order = np.argsort(-ub)
    best = 0.0
    kb = len(nb)
    for t in order:
        if ub[t] <= best or best >= 0.93:
            break
        x, y = na[t // kb], nb[t % kb]
        key = (x, y) if x <= y else (y, x)
        r = _LEVR_CACHE.get(key)
        if r is None:
            if len(_LEVR_CACHE) > _CACHE_MAX:
                _LEVR_CACHE.clear()
            d = levenshtein(x, y)
            r = 1.0 - d / max(len(x), len(y))
            _LEVR_CACHE[key] = r
        if r > best:
            best = r
    return best


def make_pair_sim(families: "dict[str, frozenset]"):
    """Plain-Python nickname-family-aware first-name similarity —
    max(jaro_winkler, 0.93 if the two names' family sets overlap,
    best Levenshtein similarity across the family cross-product capped
    at 0.93). The first-name kernel of linkage.scoring._make_sim_engine,
    which memoizes it per name pair in _FIRST_SIM_CACHES.

    The family cross-product best-Levenshtein is memoized on the
    VARIANT-SET pair, not the name pair: a name with a family maps to
    fa | {a} == fa (every name is a member of its own family by
    construction in scoring._nickname_families), so the cross-product
    depends only on (fa, fb) — and distinct family-set pairs are
    orders of magnitude fewer than distinct name pairs. frozenset
    caches its own hash, so a warm lookup is two hash probes. The memo
    is process-persistent (module-level, keyed per families table)."""
    fam_token = family_cache_token(families)

    def _variant_best(va: frozenset, vb: frozenset) -> float:
        cache = _FAMBEST_CACHES.setdefault(fam_token, {})
        if len(cache) > _CACHE_MAX:
            # same bound as every other process-persistent memo: reused
            # python workers must not grow this without limit
            cache.clear()
        k = (va, vb)
        best = cache.get(k)
        if best is None:
            best = _cross_best(va, vb)
            cache[k] = best
        return best

    def pair_sim(a: str, b: str) -> float:
        if a == b:
            return 1.0 if a else 0.0  # jaro("","") is 0.0 by contract
        s = jaro_winkler(a, b)
        if s >= 0.93:
            return s  # family evidence is capped at 0.93 — cannot raise s
        fa = families.get(a)
        fb = families.get(b)
        if fa is not None and fb is not None:
            if not fa.isdisjoint(fb):
                return max(s, 0.93)
        # a is a member of its own family for tables built by
        # scoring._nickname_families; the membership check keeps exact
        # semantics for custom test tables where it may not be
        va = (fa if a in fa else frozenset(fa | {a})) if fa else frozenset((a,))
        vb = (fb if b in fb else frozenset(fb | {b})) if fb else frozenset((b,))
        if len(va) > 1 or len(vb) > 1:
            s = max(s, min(_variant_best(va, vb), 0.93))
        return s

    return pair_sim


# --------------------------------------------------------------------------
# Double metaphone (compact variant)
# --------------------------------------------------------------------------

_VOWELS = set("AEIOUY")


def _double_metaphone_one(word: str, max_len: int = 6) -> "tuple[str, str]":
    """Compact double-metaphone-style encoder: primary + secondary code.

    Implements the high-traffic rules of Philips' algorithm (silent
    letters, PH->F, C/S/G contexts, TH, CK, X, alternate codings for
    C/G/J and Slavic/Germanic W/V) — enough to give the blocking pass
    the recall property the full algorithm is used for. Not a port of
    any implementation."""
    w = "".join(ch for ch in word.upper() if ch.isalpha())
    if not w:
        return "", ""
    p: list[str] = []
    s: list[str] = []

    def add(pri: str, sec: "str | None" = None) -> None:
        p.append(pri)
        s.append(pri if sec is None else sec)

    i = 0
    n = len(w)
    # silent leading letters
    if w[:2] in ("KN", "GN", "PN", "WR", "PS", "AE"):
        i = 1
    if w[0] == "X":
        add("S")
        i = 1
    while i < n and len(p) < max_len:
        c = w[i]
        nxt = w[i + 1] if i + 1 < n else ""
        prv = w[i - 1] if i > 0 else ""
        if c in _VOWELS:
            if i == 0:
                add("A")
            i += 1
            continue
        if c == nxt and c != "C":  # collapse doubles
            i += 1
            continue
        if c == "B":
            add("P")
        elif c == "C":
            if w[i : i + 2] == "CH":
                add("X", "K")
                i += 1
            elif w[i : i + 2] == "CK":
                add("K")
                i += 1
            elif nxt in "IEY":
                add("S", "X" if w[i : i + 3] == "CIA" else "S")
            else:
                add("K")
        elif c == "D":
            if w[i : i + 2] == "DG" and i + 2 < n and w[i + 2] in "IEY":
                add("J")
                i += 2
            else:
                add("T")
        elif c == "F":
            add("F")
        elif c == "G":
            if nxt == "H":
                if i + 2 >= n or w[i + 2] not in _VOWELS:
                    i += 1  # silent GH
                else:
                    add("K")
                    i += 1
            elif nxt == "N":
                add("K", "N")
            elif nxt in "IEY":
                add("J", "K")
            else:
                add("K")
        elif c == "H":
            if prv in _VOWELS and nxt not in _VOWELS:
                pass  # silent
            else:
                add("H")
        elif c == "J":
            add("J", "A")
        elif c == "K":
            add("K")
        elif c == "L":
            add("L")
        elif c == "M":
            add("M")
        elif c == "N":
            add("N")
        elif c == "P":
            if nxt == "H":
                add("F")
                i += 1
            else:
                add("P")
        elif c == "Q":
            add("K")
        elif c == "R":
            add("R")
        elif c == "S":
            if w[i : i + 2] == "SH":
                add("X")
                i += 1
            elif w[i : i + 3] in ("SIO", "SIA"):
                add("S", "X")
            else:
                add("S")
        elif c == "T":
            if w[i : i + 2] == "TH":
                add("0", "T")
                i += 1
            elif w[i : i + 3] in ("TIO", "TIA"):
                add("X", "T")
            else:
                add("T")
        elif c == "V":
            add("F")
        elif c == "W":
            if nxt in _VOWELS or i == 0:
                add("A", "F")
            # else silent
        elif c == "X":
            add("KS")
        elif c == "Z":
            add("S", "TS")
        i += 1
    return "".join(p)[:max_len], "".join(s)[:max_len]


@F.pandas_udf(T.StructType([T.StructField("primary", T.StringType()), T.StructField("secondary", T.StringType())]))
def double_metaphone_udf(col: pd.Series) -> pd.DataFrame:
    vals = col.to_numpy(dtype=object)
    # memoize per batch: name columns are highly repetitive
    cache: dict = {}
    pri, sec = [], []
    for v in vals:
        if v is None:
            pri.append(None)
            sec.append(None)
            continue
        r = cache.get(v)
        if r is None:
            r = _double_metaphone_one(str(v))
            cache[v] = r
        pri.append(r[0])
        sec.append(r[1])
    return pd.DataFrame({"primary": pri, "secondary": sec})


# --------------------------------------------------------------------------
# Token set Jaccard
# --------------------------------------------------------------------------

@F.pandas_udf(T.DoubleType())
def token_set_ratio_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    out = []
    for x, y in zip(a.to_numpy(dtype=object), b.to_numpy(dtype=object)):
        if x is None or y is None:
            out.append(None)
            continue
        sa, sb = set(str(x).split()), set(str(y).split())
        if not sa and not sb:
            out.append(1.0)
            continue
        out.append(len(sa & sb) / max(1, len(sa | sb)))
    return pd.Series(out, dtype="float64")


# --------------------------------------------------------------------------
# n-gram shingles: pure Spark expression (no UDF, codegen'd)
# --------------------------------------------------------------------------

def ngrams(col: Column | str, n: int = 3) -> Column:
    """Distinct character n-grams of a string as array<string>, built
    from ``sequence`` + ``transform`` + ``substring`` — runs entirely in
    the JVM (SURVEY.md §2.E)."""
    c = F.col(col) if isinstance(col, str) else col
    idx = F.sequence(F.lit(1), F.greatest(F.length(c) - (n - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: c.substr(i, F.lit(n))))


def ngrams_padded(col: Column | str, n: int = 3) -> Column:
    """n-grams over the string padded with boundary markers — gives
    edge characters equal weight in MinHash signatures."""
    c = F.col(col) if isinstance(col, str) else col
    padded = F.concat(F.lit("^"), c, F.lit("$"))
    idx = F.sequence(F.lit(1), F.greatest(F.length(padded) - (n - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: padded.substr(i, F.lit(n))))
