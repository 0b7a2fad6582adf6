"""A10: deterministic surrogate-key assignment (5. merge_dim_security.sql:16-37).

The reference ranks the whole day's distinct symbols with a global
``ROW_NUMBER() OVER (ORDER BY symbol)`` offset by ``MAX(id)+1``; existing
symbols burn ids (gaps) but uniqueness holds. At scale a global window over
all keys is a single-partition shuffle, so we implement the variant SURVEY
§7 calls for: rank **only the anti-joined new keys** — same determinism, no
gaps, and the window input is tiny (new keys per day).

``monotonically_increasing_id`` is deliberately avoided — it is not stable
across retries/replans, which breaks the idempotency contract (A7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from securities_pricing_data_pipeline_spark.tables import exists


def next_id(spark: SparkSession, dim_path: str, id_col: str = "security_id") -> int:
    """A3: COALESCE(MAX(id), 0) + 1 high-water mark."""
    if not exists(spark, dim_path):
        return 1
    row = spark.read.parquet(dim_path).agg(F.coalesce(F.max(id_col), F.lit(0))).first()
    return int(row[0]) + 1


def assign_ids(
    new_keys: DataFrame,
    start_id: int,
    key_col: str = "symbol",
    id_col: str = "security_id",
) -> DataFrame:
    """Deterministic dense ids for new keys: row_number over key order,
    offset by the high-water mark. Input must already be key-distinct."""
    w = Window.orderBy(F.col(key_col))
    return new_keys.select(
        (F.row_number().over(w) + F.lit(start_id) - 1).cast("long").alias(id_col),
        F.col(key_col),
    )
