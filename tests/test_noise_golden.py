"""Golden noising checksums: ``noise_dataset`` output for every dataset
spec, pinned bit for bit. Any change to a draw, a literal's type or an
operator's order shows up here as a different checksum. (It also keeps
the benchmark's regenerated inputs identical.)

The expected values were first recorded from the Column-API plan
builder before the noise plan moved to SQL text, and re-recorded once
when token noise moved into the JVM: its cell masks and token draws
moved from splitmix64 to the xxhash64 family, and ``crn.fold_salt64``
became length-framed, which changes every operator's salts.

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
    ("american_community_survey", 11): ("50177110626854918728", 22),
    ("american_community_survey", 12): ("10848917506213794550", 26),
    ("current_population_survey", 11): ("-8611553877634546693", 3),
    ("current_population_survey", 12): ("-30935455390421822040", 12),
    ("decennial_census", 11): ("54826189183872328072", 225),
    ("decennial_census", 12): ("-34672623154352141810", 217),
    ("social_security", 11): ("84624710092624621211", 237),
    ("social_security", 12): ("-64152194060892780538", 227),
    ("taxes_1040", 11): ("-84132547724524277738", 59),
    ("taxes_1040", 12): ("53217272420282032217", 56),
    ("taxes_w2_and_1099", 11): ("110628271004412011854", 128),
    ("taxes_w2_and_1099", 12): ("-97497492406268749857", 121),
    ("women_infants_and_children", 11): ("-15532674561343637866", 5),
    ("women_infants_and_children", 12): ("2616082657240276631", 5),
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
