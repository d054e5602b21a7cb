"""SparkSession factory with scale-oriented defaults.

The reference pipeline hand-rolls its execution environment: a
multiprocessing.Pool sized to all cores (reference
``pipeline/processing/utils.py:47-57``), ZSTD compression on its GeoTIFF
outputs (``batch/processing/raster.py:7``) and 128x128 raster chunking
(``pipeline/processing/inputs.py:27``). Here the equivalents are Spark
configs: AQE for runtime re-planning/skew handling, ZSTD Parquet as the
canonical storage codec, Arrow for the pandas-UDF boundary, and row-group /
partition-size knobs instead of raster block sizes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# File listing: Spark flips to a DISTRIBUTED listing job above
# spark.sql.sources.parallelPartitionDiscovery.threshold paths (default
# 32). A listing job costs a full scheduler round trip (2-6 s measured
# on a 4-core VM), and drop-folder streaming sources pay THREE per
# micro-batch (source init, latestOffset, getBatch). Below ~10k paths the
# driver stats the files faster on any filesystem (one object-store LIST
# page is 1000 keys); above it the distributed path keeps its
# large-estate win.
LIST_PARALLEL_THRESHOLD = "10000"


def get_spark(
    app_name: str = "sids-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    On a real cluster ``master`` comes from the submit environment; local
    runs default to ``local[$SPARK_GRAFT_CPUS]``. All settings are chosen
    to survive a 100 TB deployment unchanged:

    - AQE on (coalesce post-shuffle partitions, skew-join splitting) —
      replaces the reference's hand-tuned per-process parallelism.
    - broadcast threshold 64 MB: dimension tables (nation/region/zones)
      always broadcast; fact-fact joins still shuffle.
    - ZSTD Parquet everywhere (mirrors the reference's COMPRESS=ZSTD).
    - Arrow enabled for pandas UDFs and createDataFrame/toPandas.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # parallelismFirst stays at its default (true): byte-targeted
        # coalescing (the "respect advisory size" setting) measured 2.2×
        # slower on iterative ops whose shuffles are byte-small but
        # CPU-heavy (connected components: 9.8 s → 21.7 s at 1M edges) —
        # label frames of compact longs coalesce to a handful of tasks
        # and the per-round CPU serializes.
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet scans: filter pushdown + column pruning are defaults, but
        # pin the ones correctness depends on so cluster overrides cannot
        # silently disable them.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            LIST_PARALLEL_THRESHOLD,
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master is not None:
        builder = builder.master(master)
    else:
        # only default to local[] when NO master is configured anywhere:
        # spark-submit passes --master via the spark.master conf (never
        # the SPARK_MASTER env), and builder.master() would override it,
        # silently running a cluster submission in local mode
        from pyspark import SparkConf

        if (
            "SPARK_MASTER" not in os.environ
            and "MASTER" not in os.environ
            and not SparkConf(loadDefaults=True).contains("spark.master")
        ):
            builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate() silently ignores builder configs when a session already
    # exists; re-apply the runtime-mutable ones so caller intent (shuffle
    # width, timezone, broadcast threshold) always takes effect.
    runtime = {
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
        ),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # correctness-relevant scan behavior must survive session reuse
        # too, not just fresh builds (both are runtime-mutable)
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.sql.sources.parallelPartitionDiscovery.threshold": LIST_PARALLEL_THRESHOLD,
        **(extra_conf or {}),
    }
    for k, v in runtime.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static confs (e.g. driver memory) can't change post-start
    spark.sparkContext.setLogLevel("WARN")
    return spark
