"""Public API surface — parity with the reference's entry points
(``/root/reference/src/pseudopeople/__init__.py:11-21``): seven
``generate_*`` functions + ``get_config`` + ``NO_NOISE``.

Each generator: (1) obtains source data — a user-supplied DataFrame of
pre-synthesized population rows, a parquet/Iceberg path, or (default)
the deterministic in-Spark synthesizer; (2) builds year/state
predicates (pushed to the source scan by Catalyst — the reference's
``user_filters``, interface.py:382-388); (3) resolves the 3-layer noise
config; (4) runs the Spark-native noise plan; (5) projects to the
declared output schema. Lazy end-to-end: one DataFrame, no collect.
"""

from __future__ import annotations

import os
from typing import Any, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pseudopeople_spark import datasets as D
from pseudopeople_spark import noise as N
from pseudopeople_spark import synth
from pseudopeople_spark.config import NO_NOISE, get_config  # noqa: F401 (re-exported)

DEFAULT_POPULATION = 10_000


# columns that are integers in raw input but strings in output, without
# a trailing .0 (reference constants/noise_type_metadata.py:31)
INT_TO_STRING_COLUMNS = ("age", "wages", "mailing_address_po_box")

# raw-input datetime columns (reference dtypes.py / schema_entities.py).
# pseudopeople writes parquet TIMESTAMP(NANOS) (pandas datetime64[ns]),
# which Spark only reads via the nanosAsLong flag — these columns come
# back as int64 nanoseconds and are converted explicitly.
DATETIME_COLUMNS = ("date_of_birth", "copy_date_of_birth", "survey_date", "event_date")


def _ingest_extract(df: DataFrame, spec: D.DatasetSpec, year: "int | None") -> DataFrame:
    """Prep a RAW dataset extract (e.g. the reference's shipped sample
    parquet) for the noise plan — the reference's load path
    (``interface.py:223-293``): timestamp dates -> per-dataset string
    format (zero-padded by ``date_format``), int columns -> strings
    without '.0', '' -> null, year predicate pushed to the scan, and a
    STABLE record key for CRN (the pandas ``__index_level_0__`` the
    reference itself keys randomness on, else (simulant, date) which is
    unique per extract row). Shadow ``copy_*`` / guardian columns ride
    along for the join-bearing noise operators."""
    import pyspark.sql.types as T

    cols = set(df.columns)
    # ---- nanosecond timestamps (read as int64 via nanosAsLong) -> timestamp
    for name in DATETIME_COLUMNS:
        if name in cols and isinstance(df.schema[name].dataType, T.LongType):
            df = df.withColumn(name, F.timestamp_micros((F.col(name) / 1000).cast("bigint")))

    # ---- stable record id, ALWAYS namespaced by dataset: extracts of
    # different datasets share pandas index values 0..N, and un-prefixed
    # ids collide downstream (resolve() keys every record by its
    # record_id and refuses input that repeats one)
    if "__index_level_0__" in cols:
        df = df.withColumn(
            "record_id", F.concat_ws("_", F.lit(spec.name), F.col("__index_level_0__").cast("string"))
        )
        df = df.drop("__index_level_0__")
    elif "simulant_id" in cols and spec.date_column in cols:
        df = df.withColumn(
            "record_id", F.concat_ws("_", F.lit(spec.name), "simulant_id", spec.date_column)
        )
    else:
        df = df.withColumn(
            "record_id", F.concat_ws("_", F.lit(spec.name), F.xxhash64(*sorted(cols)).cast("string"))
        )

    # ---- year predicate (pushed down by Catalyst when source is a scan);
    # SSA takes every event up to Dec 31 of `year` (interface.py:886-898),
    # the others are within-year extracts
    if year is not None and spec.date_column in cols:
        dc = df.schema[spec.date_column].dataType
        if isinstance(dc, (T.DateType, T.TimestampType)):
            y = F.year(spec.date_column)
        else:
            # string/int date columns: a bare 4-digit year (tax_year,
            # census `year`) is the year itself; otherwise parse with the
            # dataset's own date format (round-tripped extracts carry
            # e.g. yyyyMMdd event_date strings — a wholesale bigint cast
            # would compare 20250105 <= 2025 and silently drop all rows)
            s = F.col(spec.date_column).cast("string")
            tc = s.try_cast("bigint")
            y = F.when(tc.between(1000, 9999), tc).otherwise(
                F.year(F.try_to_date(s, spec.date_format))
            )
        df = df.where(y <= year if spec.name == "social_security" else y == year)

    # ---- dtype prep per column
    for field in df.schema.fields:
        name = field.name
        if isinstance(field.dataType, (T.DateType, T.TimestampType)):
            df = df.withColumn(name, F.date_format(name, spec.date_format))
        elif name in INT_TO_STRING_COLUMNS or (name.startswith("copy_") and name.endswith("age")):
            df = df.withColumn(name, F.col(name).cast("bigint").cast("string"))
        elif isinstance(field.dataType, T.StringType):
            df = df.withColumn(name, F.when(F.col(name) == "", None).otherwise(F.col(name)))
    return df


def _source_records(
    spark: SparkSession,
    source: "DataFrame | str | None",
    spec: D.DatasetSpec,
    synth_records,
    n: int,
    seed: int,
    year: "int | None",
) -> DataFrame:
    """Resolve the input: a raw extract (path or DataFrame with the
    dataset's own schema) goes through :func:`_ingest_extract`; a
    simulant population (ours carries the ``sid`` column) or no source
    goes through the deterministic synthesizer."""
    df = None
    if isinstance(source, str):
        from pseudopeople_spark.sources.reader import path_is_dir, validate_source_compatibility

        # pseudopeople's own files carry TIMESTAMP(NANOS); read them as
        # int64 (converted in _ingest_extract) instead of erroring. The
        # conf is restored after the read: leaving it flipped would make
        # the user's OWN later nanos-parquet reads in this session
        # silently come back as raw int64 columns. (Parquet schema
        # conversion consults the conf at read/analysis time, which is
        # why the restore after `spark.read.parquet` is safe.)
        prev_nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            sub = (
                source.rstrip("/") + "/" + spec.name
                if "://" in source else os.path.join(source, spec.name)
            )
            if path_is_dir(sub, spark):
                # multi-dataset source ROOT: reference-parity validation —
                # dataset subdir + CHANGELOG.rst version gate
                # (interface.py:validate_source_compatibility:184-213)
                validate_source_compatibility(source, spec.name, spark)
                df = spark.read.parquet(sub)
            else:
                # direct dataset directory / single parquet (our extension;
                # the in-package sample path test_interop exercises)
                df = spark.read.parquet(source)
            df = _ingest_extract(df, spec, year)
        finally:
            if prev_nanos is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev_nanos)
        return df
    elif isinstance(source, DataFrame):
        df = source
    if df is not None and "sid" not in df.columns:
        return _ingest_extract(df, spec, year)
    pop = df if df is not None else synth.simulants(spark, n, seed=seed)
    return synth_records(pop)


def _finish(
    df: DataFrame,
    spec: D.DatasetSpec,
    config: "Mapping[str, Any] | None",
    seed: int,
    state: "str | None",
    source: "DataFrame | str | None" = None,
    year: "int | None" = None,
) -> DataFrame:
    if state is not None:
        for c in ("state", "mailing_address_state"):
            if c in df.columns:
                df = df.where(F.col(c) == state)  # pushed down when source is a scan
                break
    # `config` is user OVERRIDES, ALWAYS merged onto the baseline (the
    # reference's get_configuration always layers user config over
    # defaults, configuration/generator.py:83-157). The only values used
    # verbatim are the NO_NOISE sentinels — ours by IDENTITY, plus the
    # reference's literal "no_noise" string (configuration/entities.py:17)
    # — a user override that happens to look like
    # {dataset: {column_noise: ...}} must still be merged, not swallowed.
    if config is NO_NOISE or (isinstance(config, str) and config == "no_noise"):
        cfg = NO_NOISE
    else:
        cfg = get_config(config)
    # proportion guard (reference validator.py:258-339): warn when a
    # configured level exceeds the max achievable for this slice, per
    # the source distribution's metadata_proportions.csv
    if isinstance(source, str) and "://" not in source:
        from pseudopeople_spark.proportions import validate_noise_level_proportions

        validate_noise_level_proportions(source, spec, cfg, state, year)
    return N.noise_dataset(df, spec, cfg, seed=seed)


def generate_decennial_census(
    spark: SparkSession,
    source: "DataFrame | str | None" = None,
    seed: int = 0,
    config: "Mapping[str, Any] | None" = None,
    year: int = 2020,
    state: "str | None" = None,
    population: int = DEFAULT_POPULATION,
) -> DataFrame:
    """Reference: ``interface.py:303-391``."""
    recs = _source_records(spark, source, D.DECENNIAL_CENSUS,
                           lambda pop: synth.census_records(pop, year, seed=seed),
                           population, seed, year)
    return _finish(recs, D.DECENNIAL_CENSUS, config, seed, state, source, year)


def generate_american_community_survey(
    spark: SparkSession,
    source: "DataFrame | str | None" = None,
    seed: int = 0,
    config: "Mapping[str, Any] | None" = None,
    year: int = 2020,
    state: "str | None" = None,
    population: int = DEFAULT_POPULATION,
) -> DataFrame:
    """Reference: ``interface.py:394-503``."""
    recs = _source_records(spark, source, D.AMERICAN_COMMUNITY_SURVEY,
                           lambda pop: synth.acs_records(pop, year, seed=seed),
                           population, seed, year)
    return _finish(recs, D.AMERICAN_COMMUNITY_SURVEY, config, seed, state, source, year)


def generate_current_population_survey(
    spark: SparkSession,
    source: "DataFrame | str | None" = None,
    seed: int = 0,
    config: "Mapping[str, Any] | None" = None,
    year: int = 2020,
    state: "str | None" = None,
    population: int = DEFAULT_POPULATION,
) -> DataFrame:
    """Reference: ``interface.py:506-619``."""
    recs = _source_records(spark, source, D.CURRENT_POPULATION_SURVEY,
                           lambda pop: synth.cps_records(pop, year, seed=seed),
                           population, seed, year)
    return _finish(recs, D.CURRENT_POPULATION_SURVEY, config, seed, state, source, year)


def generate_women_infants_and_children(
    spark: SparkSession,
    source: "DataFrame | str | None" = None,
    seed: int = 0,
    config: "Mapping[str, Any] | None" = None,
    year: int = 2020,
    state: "str | None" = None,
    population: int = DEFAULT_POPULATION,
) -> DataFrame:
    """Reference: ``interface.py:622-710``."""
    recs = _source_records(spark, source, D.WOMEN_INFANTS_AND_CHILDREN,
                           lambda pop: synth.wic_records(pop, year, seed=seed),
                           population, seed, year)
    return _finish(recs, D.WOMEN_INFANTS_AND_CHILDREN, config, seed, state, source, year)


def generate_social_security(
    spark: SparkSession,
    source: "DataFrame | str | None" = None,
    seed: int = 0,
    config: "Mapping[str, Any] | None" = None,
    year: int = 2020,
    state: "str | None" = None,
    population: int = DEFAULT_POPULATION,
) -> DataFrame:
    """Reference: ``interface.py:713-898`` (year filter = events up to
    Dec 31 of ``year``)."""
    def _synth_ssa(pop):
        ssa = synth.ssa_records(pop, seed=seed)
        return ssa.where(F.substring("event_date", 1, 4).cast("int") <= year)

    recs = _source_records(spark, source, D.SOCIAL_SECURITY, _synth_ssa, population, seed, year)
    return _finish(recs, D.SOCIAL_SECURITY, config, seed, state, source, year)


def generate_taxes_w2_and_1099(
    spark: SparkSession,
    source: "DataFrame | str | None" = None,
    seed: int = 0,
    config: "Mapping[str, Any] | None" = None,
    year: int = 2020,
    state: "str | None" = None,
    population: int = DEFAULT_POPULATION,
) -> DataFrame:
    """Reference: ``interface.py:804-898``."""
    recs = _source_records(spark, source, D.TAXES_W2_AND_1099,
                           lambda pop: synth.w2_records(pop, year, seed=seed),
                           population, seed, year)
    return _finish(recs, D.TAXES_W2_AND_1099, config, seed, state, source, year)


def generate_taxes_1040(
    spark: SparkSession,
    source: "DataFrame | str | None" = None,
    seed: int = 0,
    config: "Mapping[str, Any] | None" = None,
    year: int = 2020,
    state: "str | None" = None,
    population: int = DEFAULT_POPULATION,
) -> DataFrame:
    """Reference: ``interface.py:901-989``."""
    recs = _source_records(spark, source, D.TAXES_1040,
                           lambda pop: synth.tax1040_records(pop, year, seed=seed),
                           population, seed, year)
    return _finish(recs, D.TAXES_1040, config, seed, state, source, year)
