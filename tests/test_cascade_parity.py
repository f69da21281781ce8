"""Worker-side cascade (scoring.cascade_match_mask) must decide exactly
like the JVM Column cascade (tests/cascade_reference.py: tiered_match
over _tier_columns).

The scorer emits only matched rows, so a divergence here silently
changes the edge set. Parity is checked on an adversarial randomized
grid (seeded): records drawn from value pools dense in the cascade's
boundary cases — nulls, empty strings, 1/2/5-digit-apart SSNs, 7-digit
truncations, swapped dobs, insane byears, same dataset-period slots,
dup twins — paired ~quadratically, plus explicit boundary pairs
(BOUNDARY_RECORDS) that the random grid does not reach. The reference
side computes the sims once in-process (scoring._make_sim_engine, the
worker's own engine) and runs the JVM cascade over them; the decide
side runs score_pairs_fused through both field sources, the per-worker
lookup and attach_pair_fields' join. Both sides see the SAME sims, so any
mismatch is the cascade translation itself, not float drift.

test_resolve_join_and_lookup_same_edges then runs resolve() end to end
through each field source on a real noised census + W-2 input.
"""

from __future__ import annotations

import random

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from pseudopeople_spark.linkage import scoring
from pseudopeople_spark.linkage.pipeline import CANONICAL_FIELDS
from tests.cascade_reference import tiered_match

ATTACH = [c for c in CANONICAL_FIELDS if c != "state"] + ["base_rid"]
# _pool_records' column order after record_id
_REC_FIELDS = ["dataset", "period", "first_name", "middle", "last_name", "dob", "byear",
               "ssn_digits", "zipcode", "city", "sex", "base_rid"]


N_RANDOM = 400

# Explicit boundary rows after the random pool, paired as BOUNDARY_PAIRS.
# No pair matches, and each would if one threshold moved: MILES / BILL and
# MARIE / MYRA have an engine first-name sim of 0.633 (the veto is
# jf < 0.65; raw JW is not the engine's sim — WILMA / BILL is 0.633 raw
# but a nickname-family 0.93), and 123456000 is 3 edits from 123456789
# (ssn_near is lev <= 2).
BOUNDARY_RECORDS = [
    # id, dataset, period, first, middle, last, dob, byear, ssn, zip, city, sex, base_rid
    (400, "census", "2020", "MILES", None, "SMITH", "19800102", "1980", "123456789", None, None, None, 400),
    (401, "w2", "2020", "BILL", None, "SMITH", "19800102", "1980", "123456789", None, None, None, 401),
    (402, "census", "2020", "MARIE", None, "LEE", "19840312", "1984", "987654321", None, None, None, 402),
    (403, "ssa", "creation", "MYRA", None, "LEE", "19840312", "1984", "987654321", None, None, None, 403),
    (404, "census", "2020", "MARY", None, None, None, None, "123456000", None, None, None, 404),
    (405, "w2", "2020", "MARY", None, None, None, None, "123456789", None, None, None, 405),
]
BOUNDARY_PAIRS = [(400, 401), (402, 403), (404, 405)]
N_RECORDS = N_RANDOM + len(BOUNDARY_RECORDS)


def _pool_records(n=N_RANDOM, seed=7):
    rng = random.Random(seed)
    firsts = [None, "", "WILLIAM", "BILL", "WILLIA", "MARY", "MARIE", "M", "JOSÉ", "JOSE"]
    lasts = [None, "", "SMITH", "SMYTH", "SMITHE", "GARCÍA", "GARCIA", "LEE"]
    mids = [None, "J", "K"]
    dobs = [None, "", "19800102", "19800201", "19800103", "19801002", "7013AB01", "19840312"]
    ssns = [None, "", "123456789", "123456780", "123456700", "987654321", "1234567", "12345678901"]
    zips = [None, "99501", "99502"]
    cities = [None, "ANCHORAGE", "JUNEAU"]
    sexes = [None, "M", "F"]
    byears = [None, "1980", "1981", "1984", "1990", "7013", "1763"]
    datasets = ["census", "w2", "ssa"]
    periods = [None, "2020", "2030", "creation"]
    rows = []
    for i in range(n):
        rows.append(
            (
                i,  # record_id
                rng.choice(datasets),
                rng.choice(periods),
                rng.choice(firsts),
                rng.choice(mids),
                rng.choice(lasts),
                rng.choice(dobs),
                rng.choice(byears),
                rng.choice(ssns),
                rng.choice(zips),
                rng.choice(cities),
                rng.choice(sexes),
                # a few dup-twin base_rid collisions on purpose
                i if rng.random() > 0.1 else max(0, i - 1),
            )
        )
    return rows + BOUNDARY_RECORDS


def _pairs(n_records=N_RANDOM, k=6000, seed=11):
    rng = random.Random(seed)
    seen = set()
    out = []
    while len(out) < k:
        a, b = rng.randrange(n_records), rng.randrange(n_records)
        if a == b or (a, b) in seen:
            continue
        seen.add((a, b))
        out.append((a, b))
    return out + BOUNDARY_PAIRS


def _match_set(df):
    return {
        (r["id_l"], r["id_r"], round(r["score"], 12), r["l_ssn_digits"], r["r_ssn_digits"])
        for r in df.collect()
    }


@pytest.fixture(scope="module")
def grid(spark):
    recs = spark.createDataFrame(
        _pool_records(),
        "record_id long, dataset string, period string, first_name string, "
        "middle string, last_name string, dob string, byear string, "
        "ssn_digits string, zipcode string, city string, sex string, base_rid long",
    ).localCheckpoint()
    pairs = spark.createDataFrame(_pairs(), "id_l long, id_r long").localCheckpoint()
    return recs, pairs


@pytest.fixture(scope="module")
def reference_scored(spark):
    """The grid pairs with both records' fields and the engine's sims +
    score, computed once in-process, as a frame for the JVM cascade."""
    recs, pairs = _pool_records(), _pairs()
    col = {}
    for j, f in enumerate(_REC_FIELDS, start=1):
        typ = pa.int64() if f == "base_rid" else pa.string()
        col[f"l_{f}"] = pa.array([recs[a][j] for a, _ in pairs], typ)
        col[f"r_{f}"] = pa.array([recs[b][j] for _, b in pairs], typ)
    specs = [(s.name, s.kind, s.weight) for s in scoring.DEFAULT_FIELDS]
    arrays, names = scoring._make_sim_engine(scoring._nickname_families(), specs)(col, len(pairs))
    types = {"l_base_rid": "long", "r_base_rid": "long", **{n: "double" for n in names}}
    ddl = ", ".join(f"{n} {types.get(n, 'string')}" for n in list(col) + names)
    cols = [a.to_pylist() for a in list(col.values()) + arrays]
    return spark.createDataFrame(
        [(a, b, *row) for (a, b), row in zip(pairs, zip(*cols))], "id_l long, id_r long, " + ddl
    )


@pytest.mark.parametrize("same_ds", [False, True])
def test_cascade_parity_on_adversarial_grid(spark, grid, reference_scored, same_ds, monkeypatch):
    recs, pairs = grid
    ref = _match_set(
        tiered_match(reference_scored, 0.92, same_dataset_distinct=same_ds)
        .where(F.col("is_match"))
        .select(*scoring.DECIDED_COLUMNS)
    )
    decide = {"threshold": 0.92, "same_dataset_distinct": same_ds}

    def decided():
        return _match_set(
            scoring.score_pairs_fused(spark, pairs, recs, ATTACH, decide=decide, n_records=N_RECORDS)
        )

    assert ref and decided() == ref  # per-worker lookup
    monkeypatch.setattr(scoring, "LOOKUP_MAX_ROWS", 0)
    assert decided() == ref  # attach_pair_fields' join


def test_resolve_join_and_lookup_same_edges(spark, monkeypatch):
    """resolve() through the co-partitioned join (records over
    scoring.LOOKUP_MAX_ROWS, here 0) and through the per-worker lookup
    -> identical edges and assignments on a real noised multi-dataset
    input (the e2e recipe at reduced scale)."""
    from pseudopeople_spark import config, datasets as D, noise, synth
    from pseudopeople_spark.linkage.pipeline import ResolveConfig, normalize_records, resolve

    pop = synth.simulants(spark, 800, seed=21)
    cfg = config.get_config()
    census = noise.noise_dataset(synth.census_records(pop, 2020), D.DECENNIAL_CENSUS, cfg, seed=7)
    w2 = noise.noise_dataset(synth.w2_records(pop, 2020), D.TAXES_W2_AND_1099, cfg, seed=8)
    nc = normalize_records(census, "census", "MM/dd/yyyy", ref_year=2020)
    nw = normalize_records(
        w2, "w2", "MM/dd/yyyy",
        column_map={
            "zipcode": "mailing_address_zipcode",
            "city": "mailing_address_city",
            "state": "mailing_address_state",
        },
        ref_year=2020,
    )
    records = nc.unionByName(nw).localCheckpoint()

    def run():
        out = resolve(spark, records, ResolveConfig())
        edges = {(r["id_l"], r["id_r"], round(r["score"], 12)) for r in out["edges"].collect()}
        asg = {(r["record_id"], r["cluster_id"]) for r in out["assignments"].collect()}
        return edges, asg, "scoring.lookup_ipc" in out["stage_seconds"]

    lookup_edges, lookup_asg, lookup_used = run()
    monkeypatch.setattr(scoring, "LOOKUP_MAX_ROWS", 0)
    join_edges, join_asg, join_looked_up = run()
    assert lookup_used and not join_looked_up
    assert lookup_edges and join_edges == lookup_edges
    assert join_asg == lookup_asg
