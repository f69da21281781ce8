"""Structured-Streaming path for the noising engine.

The reference is batch-only (SURVEY.md §2.E); our noise plan is a pure
per-row function of (record_id, seed, config) — stateless — so the SAME
operator chain runs unchanged on a stream: ``readStream`` over a
dataset directory (or Kafka source at deployment), the noise projection
per micro-batch, ``writeStream`` to the sink. Determinism carries over:
a record gets the same noise whether it arrives in a batch or a stream.
"""

from __future__ import annotations

from typing import Any, Mapping

from pyspark.sql import DataFrame, SparkSession

from pseudopeople_spark import datasets as D
from pseudopeople_spark.noise import noise_dataset


def noise_stream(
    spark: SparkSession,
    source_dir: str,
    spec: D.DatasetSpec,
    config: "Mapping[str, Any]",
    seed: int = 0,
    key_col: str = "record_id",
    schema=None,
) -> DataFrame:
    """Streaming DataFrame of noised records from a parquet directory
    source. Caller attaches the sink: e.g.

        q = (noise_stream(...)
             .writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .start())

    Row-noise filters and column-noise projections are stateless, so
    append mode needs no watermark; guardian duplication (a stream-static
    self-join) is excluded on streams — run it in the batch compactor.
    """
    if schema is None:
        schema = spark.read.parquet(source_dir).schema
    stream = spark.readStream.schema(schema).parquet(source_dir)
    cfg = dict(config)
    # stream-static join of duplicate_with_guardian is a batch concern
    ds_cfg = {k: dict(v) for k, v in cfg[spec.name].items()}
    ds_cfg["row_noise"] = {
        k: v for k, v in ds_cfg.get("row_noise", {}).items() if k != D.DUPLICATE_WITH_GUARDIAN
    }
    cfg[spec.name] = ds_cfg
    return noise_dataset(stream, spec, cfg, seed=seed, key_col=key_col)

