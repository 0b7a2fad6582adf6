"""A1/A8/A9: pre/post-merge reconciliation metrics.

The reference assembles these as CROSS JOINs of single-row aggregates
(``3. premerge_metrics.sql:45-53``, ``8. postmerge_metrics.sql:16-25``)
and ships them over XCom to the Slack summary. Here each is ONE Spark job
(a single multi-aggregate pass where the inputs allow), returned as a
plain dataclass — the control-plane scalar is a function return value,
not an orchestration-framework artifact.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from securities_pricing_data_pipeline_spark.tables import exists


@dataclass
class RunMetrics:
    trading_date: dt.date | None = None
    raw_cnt: int = 0
    reject_cnt: int = 0
    est_inserts: int = 0
    est_updates: int = 0
    core_cnt: int = 0
    fact_cnt: int = 0
    notes: list[str] = field(default_factory=list)


def premerge_metrics(
    valid: DataFrame, rejects: DataFrame, silver_existing_keys: DataFrame | None
) -> tuple[int, int, int, int]:
    """raw/reject counts + insert/update estimation in two jobs.

    est_updates = distinct valid keys already in silver (semi join);
    est_inserts = remaining distinct valid keys (3.:41-53).
    """
    raw_cnt_valid = valid.count()
    reject_cnt = rejects.count()
    keys = valid.select("symbol", "trade_date").distinct()
    if silver_existing_keys is not None:
        existing = keys.join(silver_existing_keys, ["symbol", "trade_date"], "left_semi").count()
    else:
        existing = 0
    total_keys = keys.count()
    return raw_cnt_valid + reject_cnt, reject_cnt, total_keys - existing, existing


def postmerge_counts(
    spark: SparkSession, silver_path: str, fact_path: str, trading_date: dt.date
) -> tuple[int, int]:
    """A9: CORE vs FACT row counts for the date — partition-pruned scans."""

    def count_for(path: str) -> int:
        if not exists(spark, path):
            return 0
        return (
            spark.read.parquet(path)
            .filter(F.col("trade_date") == F.lit(trading_date))
            .count()
        )

    return count_for(silver_path), count_for(fact_path)
