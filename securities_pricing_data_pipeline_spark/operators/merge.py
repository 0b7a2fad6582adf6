"""MERGE-family table maintenance on plain parquet (SURVEY §2.4 A5/A6/A7).

The reference's unit of work is one trading date, so the upsert
(``MERGE ... WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT``,
``4. merge_core.sql:53-96``, ``7. merge_fact_daily_price.sql:23-52``)
is reproduced exactly by **dynamic partition overwrite**: rewrite the
affected ``trade_date`` partitions as dedup(source ∪ existing-partition).
Untouched partitions are never read or written — at 100 TB a daily run
touches one partition regardless of table size.

Insert-only merges (``WHEN NOT MATCHED THEN INSERT`` only — rejects, dims;
``4.:24-45``, ``5.:22-37``, ``6.:17-37``) are a left-anti join + append:
first write wins, existing rows never updated.

Note (SURVEY A5): the reference header comments promise a guarded UPDATE,
but the code's ``WHEN MATCHED`` has no guard — updates are unconditional;
we implement the code's semantics (source wins over target).

Cost model: a merge re-reduces |source ∪ touched-partitions| — exactly
right when merges align with ``trade_date`` (the reference's per-date
batches), but the wrong cost when keyed updates scatter across partitions:
the CDC probe (``SCALE_PROBE.md`` cdc_10m) measured 26.2 s to LWW-merge a
10 M-row batch over 1 M keys through ``merge_batch``, where a
transactional keyed ``MERGE INTO`` (Delta/Iceberg) would touch only the
files holding matched keys.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from securities_pricing_data_pipeline_spark.operators.dedup import dedup_latest
from securities_pricing_data_pipeline_spark.tables import exists


def lww_reduce(
    df: DataFrame, keys: Sequence[str], order_cols: Sequence[str]
) -> DataFrame:
    """One winner per key by the ``order_cols`` TOTAL order (max-struct,
    so the reduction is a hash aggregate with map-side partial combine,
    not a window sort) — the streaming-CDC apply reduction. ``order_cols``
    must totally order rows within a key (e.g. (ts, event_id)); the
    remaining columns ride along in the struct but never decide. LWW
    under a total order is associative + commutative, which is exactly
    what makes the apply independent of micro-batch boundaries."""
    rest = [c for c in df.columns if c not in keys]
    ordered = list(order_cols) + [c for c in rest if c not in order_cols]
    return df.groupBy(*[F.col(k) for k in keys]).agg(
        F.max(F.struct(*[F.col(c) for c in ordered])).alias("__s")
    ).select(*keys, *[F.col(f"__s.{c}").alias(c) for c in rest])


def upsert_partitions(
    spark: SparkSession, source: DataFrame, path: str, keys: Sequence[str]
) -> None:
    """A5 upsert: rewrite the ``trade_date`` partitions ``source`` touches
    as dedup(source ∪ existing), source rows winning on key collision."""
    source = source.cache()
    tagged = source.withColumn("__is_src", F.lit(1))
    if exists(spark, path):
        # only the partitions being rewritten (partition pruning via the
        # collected partition-value list — one small distinct, not a join)
        part_vals = [r[0] for r in source.select("trade_date").distinct().collect()]
        existing = spark.read.parquet(path).filter(F.col("trade_date").isin(part_vals))
        tagged = tagged.unionByName(existing.withColumn("__is_src", F.lit(0)))
    merged = dedup_latest(tagged, list(keys), [F.desc("__is_src")]).drop("__is_src")
    # dynamic partitionOverwriteMode (session.py) → only these partitions move
    merged.write.mode("overwrite").partitionBy("trade_date").parquet(path)
    source.unpersist()


def insert_if_absent(
    spark: SparkSession, source: DataFrame, path: str, keys: Sequence[str]
) -> int:
    """A6 insert-only merge: append the rows whose key is not in the table
    yet and return how many there were; no write when there are none."""
    if exists(spark, path):
        target_keys = spark.read.parquet(path).select(*keys)
        new_rows = source.join(target_keys, list(keys), "left_anti")
    else:
        new_rows = source
    # dedup within the batch too (first occurrence wins deterministically)
    new_rows = dedup_latest(new_rows, list(keys), [F.asc(k) for k in keys]).cache()
    n = new_rows.count()
    if n:
        new_rows.write.mode("append").parquet(path)
    new_rows.unpersist()
    return n


def merge_batch(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    keys: Sequence[str],
    order_cols: Sequence[str],
) -> None:
    """Streaming-CDC apply unit (the foreachBatch sink body): reduce the
    micro-batch to one winner per key by the ``order_cols`` total order,
    LWW-merge with the current table, republish atomically. Cost:
    |batch keys ∪ table keys| rows re-reduced per batch — state lives in
    the table, not executor memory. Re-reducing the full union is also
    what makes a replayed or out-of-order micro-batch unable to regress a
    key."""
    winners = lww_reduce(batch, keys, order_cols)
    if exists(spark, path):
        winners = lww_reduce(
            spark.read.parquet(path).unionByName(winners), keys, order_cols
        )
    # materialize before republishing over the path we just read
    winners.localCheckpoint(eager=True).write.mode("overwrite").parquet(path)
