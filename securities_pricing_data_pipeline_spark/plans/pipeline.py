"""The daily pipeline: one driver program replacing the reference DAG
(``dags/get_securities_data.py`` — download → verify → upload → 8 SQL
tasks → notify; SURVEY §3.1).

Control flow is plain Python; every stage is a DataFrame transformation.
The XCom scalar becomes the ``trading_date`` argument; the task graph's
only fan-out (dims build independently after CORE) is just two independent
writes.

Stage map (reference task → here):
  t01 download            → sources.eod_api (driver fetch / backfill_source)
  t02 verify local file   → sources.csv_source.file_exists_gate
  t03 upload S3           → folded into s01: bronze is partitioned by
                            trade_date, so its directories ARE the date
                            layout (trade_date=YYYY-MM-DD/)
  s01 COPY INTO RAW       → sources.csv_source.read_eod_csv → bronze append
  s02 check loaded        → operators.quality.existence_gate (real assert)
  s03 premerge metrics    → plans.metrics.premerge_metrics
  s04 merge CORE+REJECT   → silver_frames (normalize → split_rejects →
                            dedup_latest) → upsert_partitions /
                            insert_if_absent
  s05 merge DIM_SECURITY  → surrogate_keys.assign_ids + insert_if_absent
  s06 merge DIM_DATE      → date derivations + insert_if_absent
  s07 merge FACT          → broadcast star join + upsert_partitions
  s08 postmerge metrics   → plans.metrics.postmerge_counts
  t05 Slack summary       → plans.notify (pluggable, fires on success AND
                            failure — the reference's trigger_rule=all_done)

Idempotency contract (A7): bronze is append-only and may hold duplicates
(FORCE=TRUE parity); silver/gold writes are per-trade-date idempotent —
re-running a date leaves every layer byte-identical (tested).

``streaming.ingest.stream_ingest_eod`` reads landing files through the same
``sources.csv_source`` filter and merges each micro-batch through
``silver_frames``, so a streamed backfill lands what this batch lands.
"""

from __future__ import annotations

import datetime as dt
import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from securities_pricing_data_pipeline_spark.functions.datetime import (
    date_sk,
    day_name_abbrev,
    day_of_week_0sun,
    is_weekend,
    month_name_abbrev,
    week_of_year_iso,
)
from securities_pricing_data_pipeline_spark.functions.normalize import normalize_symbol
from securities_pricing_data_pipeline_spark.operators.dedup import dedup_latest
from securities_pricing_data_pipeline_spark.operators.merge import (
    insert_if_absent,
    upsert_partitions,
)
from securities_pricing_data_pipeline_spark.operators.quality import (
    NEGATIVE_VOLUME,
    existence_gate,
    observe_write_metrics,
    split_rejects,
)
from securities_pricing_data_pipeline_spark.operators.surrogate_keys import assign_ids, next_id
from securities_pricing_data_pipeline_spark.plans.metrics import (
    RunMetrics,
    postmerge_counts,
    premerge_metrics,
)
from securities_pricing_data_pipeline_spark.plans.notify import (
    Notifier,
    format_summary,
    logging_notifier,
)
from securities_pricing_data_pipeline_spark.sources.csv_source import read_eod_csv
from securities_pricing_data_pipeline_spark.tables import Warehouse, exists

SILVER_KEYS = ["symbol", "trade_date"]


def ingest_bronze(
    spark: SparkSession, wh: Warehouse, landing_path: str, trading_date: dt.date
) -> DataFrame:
    """s01: landing CSVs → bronze append (typed, lineage-stamped).
    Bronze is partitioned by trade_date and append-only."""
    raw = read_eod_csv(spark, landing_path).filter(F.col("trade_date") == F.lit(trading_date))
    raw.write.mode("append").partitionBy("trade_date").parquet(wh.bronze)
    loaded = spark.read.parquet(wh.bronze).filter(F.col("trade_date") == F.lit(trading_date))
    existence_gate(loaded, f"bronze load for {trading_date}")  # s02
    return loaded


def silver_frames(
    bronze: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """s04's frames over bronze-shaped rows of any dates: normalize → reject
    split → dedup, projected to the CORE and REJECT shapes. Returns
    (valid, rejects, core_rows, reject_rows), all lazy — callers write."""
    normalized = bronze.withColumn("symbol", normalize_symbol(F.col("symbol")))
    valid, rejects = split_rejects(normalized, F.col("volume") >= 0, NEGATIVE_VOLUME)
    # A4 dedup: latest _ingest_ts, tie-break _src_file desc (4.:66-81).
    # The reference's ordering leaves within-file duplicates untotaled
    # (same ts+file) → arbitrary winner; we add a content tie-break so
    # re-runs are deterministic (A7 needs a total order).
    deduped = dedup_latest(
        valid,
        SILVER_KEYS,
        [F.desc("_ingest_ts"), F.desc("_src_file")]
        + [F.desc_nulls_last(c) for c in ("volume", "close", "open", "high", "low")],
    )
    core_rows = deduped.select(
        "trade_date", "symbol", "open", "high", "low", "close", "volume"
    ).withColumn("load_ts", F.current_timestamp())
    reject_rows = rejects.select(
        "trade_date", "symbol", "open", "high", "low", "close", "volume",
        "reject_reason", "_src_file", "_ingest_ts",
    )
    return valid, rejects, core_rows, reject_rows


def build_silver(
    spark: SparkSession, wh: Warehouse, trading_date: dt.date
) -> tuple[int, int, int, int]:
    """s03+s04: upsert CORE, insert-only REJECT for the date. Returns
    premerge metrics (raw, rejects, est_ins, est_upd)."""
    bronze = spark.read.parquet(wh.bronze).filter(F.col("trade_date") == F.lit(trading_date))
    valid, rejects, core_rows, reject_rows = silver_frames(bronze)

    silver_keys = None
    if exists(spark, wh.silver):
        silver_keys = (
            spark.read.parquet(wh.silver)
            .filter(F.col("trade_date") == F.lit(trading_date))
            .select(*SILVER_KEYS)
        )
    pre = premerge_metrics(valid, rejects, silver_keys)

    # metrics ride the write job itself (Observation accumulators) —
    # no second scan, unlike the reference's per-metric COUNT statements
    core_rows, write_obs = observe_write_metrics(core_rows, "silver_write")
    upsert_partitions(spark, core_rows, wh.silver, keys=SILVER_KEYS)
    logging.getLogger(__name__).info("silver write metrics: %s", write_obs.get)

    # insert-only reject audit (first reject wins, 4.:24-45)
    insert_if_absent(spark, reject_rows, wh.reject, keys=SILVER_KEYS)
    return pre


def build_dim_security(spark: SparkSession, wh: Warehouse, trading_date: dt.date) -> int:
    """s05: append-only security dim with deterministic surrogate ids."""
    day_symbols = (
        spark.read.parquet(wh.silver)
        .filter(F.col("trade_date") == F.lit(trading_date))
        .select("symbol")
        .distinct()
    )
    if exists(spark, wh.dim_security):
        existing = spark.read.parquet(wh.dim_security).select("symbol")
        new_symbols = day_symbols.join(existing, "symbol", "left_anti")
    else:
        new_symbols = day_symbols
    start = next_id(spark, wh.dim_security)
    new_dim = assign_ids(new_symbols, start)
    return insert_if_absent(spark, new_dim, wh.dim_security, keys=["symbol"])


def build_dim_date(spark: SparkSession, wh: Warehouse, trading_date: dt.date) -> int:
    """s06: append-only date dim with the §2.5/§2.7 derivations."""
    d = F.col("cal_date")
    row = (
        spark.createDataFrame([(trading_date,)], "cal_date date")
        .select(
            date_sk(d).alias("date_sk"),
            d.alias("cal_date"),
            F.year(d).cast("int").alias("year_num"),
            F.quarter(d).cast("int").alias("quarter_num"),
            F.month(d).cast("int").alias("month_num"),
            month_name_abbrev(d).alias("month_name"),
            F.dayofmonth(d).cast("int").alias("day_num"),
            day_name_abbrev(d).alias("day_name"),
            day_of_week_0sun(d).alias("day_of_week"),
            week_of_year_iso(d).alias("week_of_year"),
            is_weekend(d).alias("is_weekend"),
        )
    )
    return insert_if_absent(spark, row, wh.dim_date, keys=["date_sk"])


def build_fact(spark: SparkSession, wh: Warehouse, trading_date: dt.date) -> None:
    """s07: star join CORE←dims (broadcast dims) → per-date fact upsert."""
    core = spark.read.parquet(wh.silver).filter(F.col("trade_date") == F.lit(trading_date))
    dim_sec = spark.read.parquet(wh.dim_security)
    fact = (
        core.join(F.broadcast(dim_sec), "symbol")
        .select(
            "security_id",
            date_sk(F.col("trade_date")).alias("date_sk"),
            "trade_date",
            "open", "high", "low", "close", "volume",
            F.current_timestamp().alias("load_ts"),
        )
    )
    upsert_partitions(spark, fact, wh.fact_daily_price, keys=["security_id", "date_sk"])


def run(
    spark: SparkSession,
    wh: Warehouse,
    landing_path: str,
    trading_date: dt.date,
    notifier: Notifier = logging_notifier,
) -> RunMetrics:
    """Full daily run. Notifies on success and on failure (all_done parity),
    then re-raises failures."""
    m = RunMetrics(trading_date=trading_date)
    try:
        ingest_bronze(spark, wh, landing_path, trading_date)
        m.raw_cnt, m.reject_cnt, m.est_inserts, m.est_updates = build_silver(
            spark, wh, trading_date
        )
        build_dim_security(spark, wh, trading_date)
        build_dim_date(spark, wh, trading_date)
        build_fact(spark, wh, trading_date)
        m.core_cnt, m.fact_cnt = postmerge_counts(
            spark, wh.silver, wh.fact_daily_price, trading_date
        )
    except Exception as exc:
        m.notes.append(f"FAILED: {type(exc).__name__}: {exc}")
        notifier(format_summary(m, status="FAILED"))
        raise
    notifier(format_summary(m, status="SUCCESS"))
    return m
