"""Dialect-portable SQL builders — one arithmetic, two engines.

The driver's correctness gate compares each Spark query against a
DuckDB oracle by rows + schema + VALUE HASH, so every operator that
wants a green row must compute bit-identical results in both engines.
For the hash-based operators (MinHash banding, SimHash near-dup,
LSH-bucketed ANN) and soundex we therefore express the ENTIRE
computation as SQL text generated per dialect: the integer arithmetic
(rolling 31-hash mod 1e9+7, affine permutations, bit packing) and the
float arithmetic (left-to-right double sums, deterministic hyperplanes)
evaluate identically in Spark SQL and DuckDB, so the same builder
drives both ``queries()`` (via ``spark.sql``) and ``oracle_sql()``.

Dialect deltas are confined to the table below: higher-order-function
names (``transform``/``aggregate`` vs ``list_transform``/
``list_reduce``), char splitting, inclusive integer ranges, integer
division, XOR spelling and regexp-replace-all flags. Everything else —
``translate``, ``replace``, ``substr``, ``||``, ``%`` on non-negatives,
``round``, ``least``, CASE — is shared text.

These SQL forms are also the SCALE shapes: pure scan-side expressions
(no UDF, no shuffle until the band/bucket equi-join), so the same plan
that matches the oracle at sf0.01 runs whole-stage-codegen'd at 100 TB.
"""

from __future__ import annotations

P31 = 1000000007  # rolling-hash modulus (fits 31 bits; a*h stays < 2^63)
MINSTD_M = 2147483647


class Dialect:
    """SQL fragment factory for the handful of spellings that differ."""

    def __init__(self, name: str):
        assert name in ("spark", "duckdb")
        self.name = name

    def seq(self, lo: str, hi: str) -> str:
        """Inclusive integer range as an array/list."""
        if self.name == "spark":
            return f"sequence({lo}, {hi})"
        return f"generate_series({lo}, {hi})"

    def transform(self, arr: str, var: str, body: str) -> str:
        fn = "transform" if self.name == "spark" else "list_transform"
        return f"{fn}({arr}, {var} -> {body})"

    def filter(self, arr: str, var: str, body: str) -> str:
        fn = "filter" if self.name == "spark" else "list_filter"
        return f"{fn}({arr}, {var} -> {body})"

    def reduce_(self, arr: str, init: str, acc: str, var: str, body: str) -> str:
        """Left fold with BIGINT/DOUBLE init — sequential in both engines."""
        if self.name == "spark":
            return f"aggregate({arr}, {init}, ({acc}, {var}) -> {body})"
        return f"list_reduce(list_prepend({init}, {arr}), ({acc}, {var}) -> {body})"

    def arr_min(self, arr: str) -> str:
        return f"array_min({arr})" if self.name == "spark" else f"list_min({arr})"

    def split_chars(self, s: str) -> str:
        if self.name == "spark":
            return f"split({s}, '')"
        return f"string_split({s}, '')"

    def split_on(self, s: str, sep: str) -> str:
        if self.name == "spark":
            return f"split({s}, '{sep}')"
        return f"string_split({s}, '{sep}')"

    def idiv(self, a: str, b: str) -> str:
        return f"({a} div {b})" if self.name == "spark" else f"({a} // {b})"

    def xor(self, a: str, b: str) -> str:
        return f"({a} ^ {b})" if self.name == "spark" else f"xor({a}, {b})"

    def regexp_replace_all(self, s: str, pat: str, rep: str) -> str:
        if self.name == "spark":
            return f"regexp_replace({s}, '{pat}', '{rep}')"
        return f"regexp_replace({s}, '{pat}', '{rep}', 'g')"

    def str_type(self) -> str:
        return "STRING" if self.name == "spark" else "VARCHAR"

    def char_hash(self, s: str) -> str:
        """Polynomial rolling hash over the characters of ``s``:
        fold(chars, acc*31 + ascii(c) mod P31). Matches the
        ``doc_fingerprint`` arithmetic already verified cross-engine."""
        chars = self.transform(self.split_chars(s), "c", "CAST(ascii(c) AS BIGINT)")
        return self.reduce_(chars, "CAST(0 AS BIGINT)", "acc", "x", f"(acc*31 + x) % {P31}")


SPARK = Dialect("spark")
DUCKDB = Dialect("duckdb")


# ---------------------------------------------------------------------------
# soundex (dialect-neutral: translate/replace/substr/|| are shared text)
# ---------------------------------------------------------------------------

_SOUNDEX_CODES = "01230120022455012623010202"  # A..Z -> digit (standard table)


def soundex_expr(expr: str, d: Dialect) -> str:
    """American Soundex as portable SQL: first letter + first three
    digit codes after collapsing adjacent duplicates and dropping
    vowels/H/W (code 0). The adjacent-duplicate collapse is a fixed
    cascade of ``replace(dd->d)`` passes (5 passes fully collapse runs
    up to 32 — longer than any name). Matches textbook soundex except
    the H/W "transparent separator" corner case, identically in BOTH
    engines — which is what the oracle compares."""
    name = d.regexp_replace_all(f"upper({expr})", "[^A-Z]", "")
    coded = f"translate({name}, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '{_SOUNDEX_CODES}')"
    collapsed = coded
    for _ in range(5):
        for digit in "123456":
            collapsed = f"replace({collapsed}, '{digit}{digit}', '{digit}')"
    tail = f"replace(substr({collapsed}, 2), '0', '')"
    return (
        f"CASE WHEN length({name}) = 0 THEN NULL "
        f"ELSE substr({name}, 1, 1) || substr({tail} || '000', 1, 3) END"
    )


def soundex_blocks_sql(d: Dialect) -> str:
    """Phonetic block-key histogram over part-name first words."""
    first_word = "regexp_extract(p_name, '^[^ ]+', 0)"
    key = soundex_expr(first_word, d)
    return (
        f"SELECT block_key, CAST(count(*) AS BIGINT) AS n FROM "
        f"(SELECT {key} AS block_key FROM part) GROUP BY block_key"
    )


# ---------------------------------------------------------------------------
# MinHash banding
# ---------------------------------------------------------------------------

def _affine(j: int) -> "tuple[int, int]":
    """Fixed affine permutation constants for hash family member j."""
    a = (48271 * (j + 1)) % P31
    c = (69621 * (j + 7) + 12345) % P31
    return a, c


def minhash_bands_sql(d: Dialect, bands: int = 4, rows_per_band: int = 2,
                      shingle: int = 5, prefix_len: int = 80) -> str:
    """(band_key, record_id) banded-MinHash keys over character
    shingles of the document prefix. Signature h_j = min over shingles
    of (a_j*hash(s)+c_j) mod P; a band key concatenates
    ``rows_per_band`` signatures. Scan-side expressions only — the
    banding equi-join downstream is the one shuffle, the LSH shape that
    holds at 10^12 docs."""
    sh = d.transform(
        d.seq("1", f"length(t) - {shingle - 1}"),
        "i",
        d.char_hash(f"substr(t, i, {shingle})"),
    )
    selects = []
    for b in range(bands):
        sig_parts = []
        for r in range(rows_per_band):
            a, c = _affine(b * rows_per_band + r)
            m = d.arr_min(d.transform("hs", "h", f"(h*{a} + {c}) % {P31}"))
            sig_parts.append(f"CAST({m} AS {d.str_type()})")
        key = f"'mh{b}:' || " + " || '_' || ".join(sig_parts)
        selects.append(f"SELECT {key} AS band_key, record_id FROM shingled")
    return (
        f"WITH shingled AS (SELECT CAST(doc_id AS {d.str_type()}) AS record_id, {sh} AS hs "
        f"FROM (SELECT doc_id, substr(text, 1, {prefix_len}) AS t FROM documents "
        f"WHERE length(substr(text, 1, {prefix_len})) >= {shingle})) "
        + " UNION ALL ".join(selects)
    )


# ---------------------------------------------------------------------------
# SimHash near-duplicates (portable 30-bit signature)
# ---------------------------------------------------------------------------

SIMHASH_BITS = 30


def simhash_sig_sql(d: Dialect, bits: int = SIMHASH_BITS) -> str:
    """Portable SimHash over a token-hash array column ``hs`` (computed
    once per row by :func:`_token_hashes_sql`): bit b of the signature
    is the sign of sum over tokens of ±1 where the token's vote is
    (a_b*h+c_b mod P) < P/2 — affine permutations of one hash = per-bit
    hyperplanes, all integer arithmetic."""
    bit_terms = []
    for b in range(bits):
        a, c = _affine(100 + b)
        vote = f"CASE WHEN (h*{a} + {c}) % {P31} < {P31 // 2} THEN 1 ELSE -1 END"
        cnt = d.reduce_("hs", "CAST(0 AS BIGINT)", "acc", "h", f"acc + ({vote})")
        bit_terms.append(f"(CASE WHEN {cnt} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)")
    return "(" + " + ".join(bit_terms) + ")"


def _token_hashes_sql(d: Dialect, text_expr: str) -> str:
    toks = d.filter(d.split_on(f"lower({text_expr})", " "), "t", "length(t) > 0")
    return d.transform(toks, "t", d.char_hash("t"))


def simhash_sigs_relation_sql(d: Dialect, prefix_len: int = 200,
                              bits: int = SIMHASH_BITS) -> str:
    """SELECT (doc_id, sig) — the signature computation alone, so the
    Spark runtime path can materialize it ONCE before the banding
    self-join (Spark inlines CTEs, which would recompute the signature
    in every band branch)."""
    sig = simhash_sig_sql(d, bits)
    hs = _token_hashes_sql(d, "t")
    return (
        f"SELECT doc_id, {sig} AS sig FROM "
        f"(SELECT doc_id, {hs} AS hs FROM "
        f"(SELECT doc_id, substr(text, 1, {prefix_len}) AS t FROM documents))"
    )


def simhash_pairs_from_sigs_sql(d: Dialect, sigs_rel: str, max_hamming: int = 3,
                                bits: int = SIMHASH_BITS,
                                first_band_only: bool = False) -> str:
    """Banding + Hamming verification over an existing (doc_id, sig)
    relation (see :func:`simhash_near_dups_sql` for semantics).

    ``first_band_only`` replaces the cross-band ``DISTINCT`` (a full
    shuffle of the pre-dedup pair set — 4x duplicated at 4 bands) with
    a predicate that emits a pair ONLY from the lowest-numbered band
    both rows share: for band i require that no band k < i also
    matches. Same distinct pair set by construction (a pair sharing any
    band within the Hamming bound still has a unique lowest shared
    band), and hamming is a pure function of the two sigs, so the
    emitted rows are identical — verified value-exact vs the DISTINCT
    formulation by the DuckDB oracle (which keeps DISTINCT). The Spark
    runtime path uses it to delete the dedup exchange outright
    (guide §2.4); the map-side-agg'd DISTINCT is kept for dialect
    engines where the filter would not be planned better."""
    n_bands = max_hamming + 1
    widths = [bits // n_bands + (1 if i < bits % n_bands else 0) for i in range(n_bands)]
    band_selects = []
    band_vals = []
    off = 0
    for i, w in enumerate(widths):
        band_val = f"({d.idiv('sig', str(1 << off))} % {1 << w})"
        band_vals.append(f"({d.idiv('SIDE.sig', str(1 << off))} % {1 << w})")
        band_selects.append(
            f"SELECT {i} AS band_no, {band_val} AS band_val, doc_id, sig FROM {sigs_rel}"
        )
        off += w
    banded = " UNION ALL ".join(band_selects)
    ham = f"bit_count({d.xor('l.sig', 'r.sig')})"
    if first_band_only:
        no_earlier = "".join(
            f" AND NOT (l.band_no > {k} AND {band_vals[k].replace('SIDE', 'l')} = "
            f"{band_vals[k].replace('SIDE', 'r')})"
            for k in range(n_bands - 1)
        )
        # NOTE (round 6): the Spark runtime plan already picks a
        # broadcast hash join here on its own — the sigs relation is a
        # localCheckpoint with accurate size stats under the broadcast
        # threshold. A forced BROADCAST hint was measured a wash warm
        # (2.2 vs 2.5 s at sf1.0) and would be scale-UNSAFE (the banded
        # relation grows with the corpus), so none is emitted.
        return (
            f"WITH banded AS ({banded}) "
            f"SELECT l.doc_id AS id_l, r.doc_id AS id_r, "
            f"CAST({ham} AS BIGINT) AS hamming "
            f"FROM banded l JOIN banded r ON l.band_no = r.band_no AND l.band_val = r.band_val "
            f"WHERE l.doc_id < r.doc_id AND {ham} <= {max_hamming}{no_earlier}"
        )
    return (
        f"WITH banded AS ({banded}) "
        f"SELECT DISTINCT l.doc_id AS id_l, r.doc_id AS id_r, "
        f"CAST({ham} AS BIGINT) AS hamming "
        f"FROM banded l JOIN banded r ON l.band_no = r.band_no AND l.band_val = r.band_val "
        f"WHERE l.doc_id < r.doc_id AND {ham} <= {max_hamming}"
    )


def simhash_near_dups_sql(d: Dialect, max_hamming: int = 3, prefix_len: int = 200,
                          bits: int = SIMHASH_BITS) -> str:
    """(id_l, id_r, hamming) near-duplicate pairs. Pigeonhole-complete
    banding: ``max_hamming + 1`` bands guarantee two signatures within
    the Hamming bound share at least one exact band (fixes the
    4-band/h=6 recall bug VERDICT.md §What's-wrong #1). Pairs verified
    by exact ``bit_count(xor)``."""
    pairs = simhash_pairs_from_sigs_sql(d, "sigs", max_hamming, bits)
    assert pairs.startswith("WITH ")
    return (
        f"WITH sigs AS ({simhash_sigs_relation_sql(d, prefix_len, bits)}), "
        + pairs[len("WITH "):]
    )


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (signed random projections, deterministic hyperplanes)
# ---------------------------------------------------------------------------

def _hyperplane_weight(d: Dialect, j: "int | str", dim_var: str) -> str:
    """w[j][dim] in [-0.5, 0.5): a Lehmer-style integer mix of the
    (plane, dim) index divided exactly — the same double in both
    engines, so bucket assignment (a sign test) agrees bit-for-bit."""
    idx = f"(({j})*512 + {dim_var})"
    return f"(CAST((({idx})*48271 + 11) % {MINSTD_M} AS DOUBLE)/{MINSTD_M}.0 - 0.5)"


def embedding_near_dup_sql(d: Dialect, n_planes: int = 4, threshold: float = 0.95) -> str:
    """(id_l, id_r, sim) embedding-cosine near-duplicate pairs,
    candidates restricted to same-LSH-bucket vectors (2^n_planes
    buckets) — the embedding-dedup modality of the training-data
    pipeline. Same deterministic hyperplanes as :func:`ann_lsh_topk_sql`
    so both engines produce identical buckets, sims and pairs."""
    def plane_dot(j: int) -> str:
        w = _hyperplane_weight(d, j, "i")
        prods = d.transform(
            d.seq("1", "n_dim"), "i", f"e[{'i' if d.name == 'duckdb' else 'i - 1'}] * {w}"
        )
        return d.reduce_("(" + prods + ")", "CAST(0 AS DOUBLE)", "acc", "x", "acc + x")

    bucket = "(" + " + ".join(
        f"(CASE WHEN {plane_dot(j)} > 0 THEN {1 << j} ELSE 0 END)" for j in range(n_planes)
    ) + ")"
    idx = "i" if d.name == "duckdb" else "i - 1"
    dot_lr = d.reduce_(
        "(" + d.transform(d.seq("1", "l.n_dim"), "i", f"l.ue[{idx}] * r.ue[{idx}]") + ")",
        "CAST(0 AS DOUBLE)", "acc", "x", "acc + x",
    )
    # unit-normalized scan side: the pair dot IS the cosine
    unit = d.transform(
        "e", "x",
        "x / sqrt(" + d.reduce_("e", "CAST(0 AS DOUBLE)", "acc", "y", "acc + y*y") + ")",
    )
    return (
        f"WITH vecs AS (SELECT vec_id, {unit} AS ue, n_dim, {bucket} AS bucket FROM "
        f"(SELECT vec_id, {d.transform('embedding', 'x', 'CAST(x AS DOUBLE)')} AS e, "
        f"{'len(embedding)' if d.name == 'duckdb' else 'size(embedding)'} AS n_dim FROM embeddings)) "
        f"SELECT l.vec_id AS id_l, r.vec_id AS id_r, round({dot_lr}, 4) AS sim "
        f"FROM vecs l JOIN vecs r ON l.bucket = r.bucket "
        f"WHERE l.vec_id < r.vec_id AND round({dot_lr}, 4) >= {threshold!r}"
    )


def ann_lsh_topk_sql(d: Dialect, n_planes: int = 4, k: int = 10,
                     n_queries: int = 5, probe_flips: bool = True) -> str:
    """(qid, cid, sim): cosine top-k where candidates are restricted to
    the query's LSH bucket plus its ``n_planes`` Hamming-1 probes —
    2^n_planes buckets, candidate set ~ (1+n_planes)/2^n_planes of the
    corpus. The bucket assignment is one scan-side expression; the
    probe join is the only shuffle. Exact-recall baseline:
    ``ann_cosine_topk``."""
    # dot(v, plane_j) with a sequential left-to-right double fold
    def plane_dot(j: "int | str") -> str:
        w = _hyperplane_weight(d, j, "i")
        prods = d.transform(
            d.seq("1", "n_dim"), "i", f"e[{'i' if d.name == 'duckdb' else 'i - 1'}] * {w}"
        )
        return d.reduce_("(" + prods + ")", "CAST(0 AS DOUBLE)", "acc", "x", "acc + x")

    bucket_terms = [
        f"(CASE WHEN {plane_dot(j)} > 0 THEN {1 << j} ELSE 0 END)" for j in range(n_planes)
    ]
    bucket = "(" + " + ".join(bucket_terms) + ")"
    vecs = (
        f"(SELECT vec_id, e, size_arr AS n_dim, {bucket} AS bucket FROM "
        f"(SELECT vec_id, {d.transform('embedding', 'x', 'CAST(x AS DOUBLE)')} AS e, "
        f"{'len(embedding)' if d.name == 'duckdb' else 'size(embedding)'} AS size_arr "
        f"FROM embeddings))"
    )
    # query side probes its own bucket + each single-bit flip
    probes = ["bucket"] + (
        [d.xor("bucket", str(1 << j)) for j in range(n_planes)] if probe_flips else []
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT vec_id AS qid, e AS qe, n_dim, {p} AS bucket FROM vecs WHERE vec_id < {n_queries}"
        for p in probes
    )
    dotqc = d.reduce_(
        "(" + d.transform(
            d.seq("1", "q.n_dim"), "i",
            f"q.qe[{'i' if d.name == 'duckdb' else 'i - 1'}] * c.e[{'i' if d.name == 'duckdb' else 'i - 1'}]",
        ) + ")",
        "CAST(0 AS DOUBLE)", "acc", "x", "acc + x",
    )
    norm_q = f"sqrt({d.reduce_('q.qe', 'CAST(0 AS DOUBLE)', 'acc', 'x', 'acc + x*x')})"
    norm_c = f"sqrt({d.reduce_('c.e', 'CAST(0 AS DOUBLE)', 'acc', 'x', 'acc + x*x')})"
    return (
        f"WITH vecs AS {vecs}, "
        f"q AS ({probe_rows}), "
        f"scored AS (SELECT DISTINCT q.qid AS qid, c.vec_id AS cid, "
        f"round({dotqc} / ({norm_q} * {norm_c}), 4) AS sim "
        f"FROM q JOIN vecs c ON q.bucket = c.bucket WHERE q.qid != c.vec_id) "
        f"SELECT qid, cid, sim FROM "
        f"(SELECT qid, cid, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn "
        f"FROM scored) WHERE rn <= {k}"
    )
