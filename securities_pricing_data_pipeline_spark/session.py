"""SparkSession factory with the engine's pinned semantics.

Pins (per SURVEY.md §2.7 semantics deltas):
  * session time zone UTC — date extraction (``dayofweek``, ``weekofyear``,
    ``date_format``) must be stable regardless of host TZ;
  * AQE on — runtime re-planning (coalesce post-shuffle partitions,
    skew-join splitting, dynamic broadcast) is the scale posture;
  * Arrow on — every pandas-UDF boundary is Arrow-batched;
  * shuffle partitions sized for the local harness but overridable via
    ``SPARK_GRAFT_CPUS`` — on a real cluster this would be set to
    ~2–3× total executor cores (or left to AQE's coalescing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "securities_pricing_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the pinned SparkSession.

    Local default is ``local[$SPARK_GRAFT_CPUS]`` (falls back to ``local[*]``).
    On a cluster, pass ``master=None`` with ``spark.master`` preconfigured, or
    an explicit master URL.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalescePartitions.minPartitionSize stays at Spark's 1m default: a
        # 64k floor cost 12% net across the query suite (OPTIMIZATION_r15.md)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata `events.ts` is parquet TIMESTAMP(NANOS): read as long
        # (epoch nanos) — ordering-compatible with the ns timestamp
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # per-trade-date partition rewrite is the engine's MERGE substitute:
        # only partitions present in the written frame are replaced
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # parquet scans: vectorized reader + filter/column pushdown are on by
        # default; keep file splitting sized so sf0.1 local runs don't create
        # thousands of tiny tasks
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # answer bare MIN/MAX/COUNT from parquet footer statistics instead
        # of scanning row groups (runtime bloom filters and dynamic
        # partition pruning are already on by default in Spark 4)
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
