"""SparkSession factory with scale-oriented defaults.

Local mode is the test substrate; the config choices below are the ones
that also matter on a 1000-executor cluster: AQE on (runtime re-plan +
skew-join splitting), Arrow on (all our Python-side kernels are Arrow
batches), shuffle partitions sized to the parallelism instead of the
200 default, UTC session timezone (oracle comparability).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_WARMED: "set[str]" = set()

DRIVER_MEMORY_CAP_MB = 24 * 1024
DRIVER_MEMORY_SHARE = 0.4


def default_driver_memory(mem_total_kb: "int | None") -> str:
    """Driver heap for a host with ``mem_total_kb`` of memory (MemTotal
    of /proc/meminfo): ~40 % of it, at most 24g (the old fixed default,
    which the kernel OOM-kills on a 15 GB host), at least 1g. Unknown
    memory keeps 24g."""
    if not mem_total_kb:
        return "24g"
    mb = int(mem_total_kb * DRIVER_MEMORY_SHARE) // 1024
    return "24g" if mb >= DRIVER_MEMORY_CAP_MB else f"{max(mb, 1024)}m"


def _mem_total_kb() -> "int | None":
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return None


def driver_memory() -> str:
    """$SPARK_GRAFT_DRIVER_MEM if set, else :func:`default_driver_memory`
    of this host."""
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(_mem_total_kb())


def _warm_session(spark: SparkSession) -> None:
    """One small throwaway job per NEW session exercising the hot
    physical operators (parquet scan, filter/agg codegen, exchange,
    broadcast hash join, window): the first job of a session otherwise
    pays several seconds of classloading + Janino/HotSpot compilation
    of Spark's own infrastructure, which on a long-lived cluster is
    paid once per executor lifetime, not per query — the same
    steady-state argument bench.py applies to JIT warmup. Measured on
    local[32]: the warmup absorbs ~6 s once; the session's first real
    parquet query drops 4.1 s -> 0.6 s. Set SPARK_GRAFT_NO_WARMUP=1 to
    skip (e.g. for cold-start measurements)."""
    import shutil
    import tempfile

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(0, 100_000, 1, 8).select(
        F.col("id"), (F.col("id") % 10).alias("k"), F.col("id").cast("string").alias("s")
    )
    w = Window.partitionBy("k").orderBy("id")
    j = df.join(F.broadcast(df.groupBy("k").agg(F.count("*").alias("n"))), "k")
    j.withColumn("rn", F.row_number().over(w)).where("rn <= 3").count()
    tmp = tempfile.mkdtemp(prefix="spark_warm_")
    try:
        df.limit(1000).write.mode("overwrite").parquet(f"{tmp}/w")
        spark.read.parquet(f"{tmp}/w").where("id >= 0").groupBy("k").count().count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def get_spark(
    app_name: str = "pseudopeople_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            shuffle_partitions = os.cpu_count() if inner == "*" else int(inner)
        else:
            shuffle_partitions = 200
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    app_id = spark.sparkContext.applicationId
    if app_id not in _WARMED and not os.environ.get("SPARK_GRAFT_NO_WARMUP"):
        _WARMED.add(app_id)
        _warm_session(spark)
    return spark
