"""Golden noising checksums: ``noise_dataset`` output for every dataset
spec, pinned bit for bit. The expected values were recorded from the
Column-API plan builder before the noise plan moved to SQL text; any
change to a draw, a literal's type or an operator's order shows up here
as a different checksum. (It also keeps the benchmark's regenerated
inputs identical.)

Two configurations: the defaults (rates ~1 %, what production and the
benchmark run) and a heavy one (every cell rate 0.25, raised row rates)
so that a 240-simulant population still exercises every operator's
noised branch."""

import copy

import pytest
from pyspark.sql import functions as F

from pseudopeople_spark import config, datasets as D, noise, synth

N_SIMULANTS = 240

RECORDS = {
    "decennial_census": (D.DECENNIAL_CENSUS, lambda pop: synth.census_records(pop, 2020)),
    "american_community_survey": (D.AMERICAN_COMMUNITY_SURVEY, lambda pop: synth.acs_records(pop, 2020)),
    "current_population_survey": (D.CURRENT_POPULATION_SURVEY, lambda pop: synth.cps_records(pop, 2020)),
    "women_infants_and_children": (D.WOMEN_INFANTS_AND_CHILDREN, lambda pop: synth.wic_records(pop, 2020)),
    "social_security": (D.SOCIAL_SECURITY, synth.ssa_records),
    "taxes_w2_and_1099": (D.TAXES_W2_AND_1099, lambda pop: synth.w2_records(pop, 2020)),
    "taxes_1040": (D.TAXES_1040, lambda pop: synth.tax1040_records(pop, 2020)),
}

# (dataset, seed) -> (order-independent xxhash64 sum, rows); seed 11
# runs the default configuration, seed 12 the heavy one
GOLDEN = {
    ("american_community_survey", 11): ("52950544583908123237", 23),
    ("american_community_survey", 12): ("24983896875715091050", 24),
    ("current_population_survey", 11): ("-26323774158795606028", 12),
    ("current_population_survey", 12): ("7505547390480816465", 7),
    ("decennial_census", 11): ("21106927130990200489", 228),
    ("decennial_census", 12): ("-51504301706076538343", 210),
    ("social_security", 11): ("52659421848634223600", 237),
    ("social_security", 12): ("-107906897400837588011", 224),
    ("taxes_1040", 11): ("-83529111251053010914", 60),
    ("taxes_1040", 12): ("-14247239819905307456", 57),
    ("taxes_w2_and_1099", 11): ("5197388102420452416", 129),
    ("taxes_w2_and_1099", 12): ("106364970013906620065", 125),
    ("women_infants_and_children", 11): ("-30171682978165249424", 5),
    ("women_infants_and_children", 12): ("-10680146069918540959", 4),
}


def _heavy_config() -> dict:
    cfg = copy.deepcopy(config.get_config())
    for ds_cfg in cfg.values():
        for params in ds_cfg.get("row_noise", {}).values():
            for k in params:
                params[k] = 0.5 if "under" in k else 0.05
        for col_cfg in ds_cfg.get("column_noise", {}).values():
            for params in col_cfg.values():
                params["cell_probability"] = 0.25
    return cfg


def _checksum(df) -> "tuple[str, int]":
    row = df.agg(
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
        F.count("*").alias("n"),
    ).first()
    return str(row["h"]), int(row["n"])


@pytest.fixture(scope="module")
def population(spark):
    return synth.simulants(spark, N_SIMULANTS, seed=5).localCheckpoint()


@pytest.mark.parametrize("seed", [11, 12])
@pytest.mark.parametrize("dataset", sorted(RECORDS))
def test_noise_dataset_checksum_is_golden(population, dataset, seed):
    spec, records = RECORDS[dataset]
    cfg = config.get_config() if seed == 11 else _heavy_config()
    noised = noise.noise_dataset(records(population), spec, cfg, seed=seed)
    assert _checksum(noised) == GOLDEN[(dataset, seed)]
