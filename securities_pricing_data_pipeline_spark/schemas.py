"""Declared schemas for every table layer (schema-on-read, never inferred).

Reconstructed from the reference's typed ``COPY INTO`` projection
(``dags/sql/1. copy_to_raw.sql:16-27``) and ``MERGE`` column lists
(``4. merge_core.sql:39-44,92-95``, ``5. merge_dim_security.sql:36-37``,
``6. dm_dim_date.sql:36-37``, ``7. merge_fact_daily_price.sql:47-51``).

Decimal policy (SURVEY §2.7 item 4): prices stay ``DECIMAL(18,6)`` and
volume ``DECIMAL(38,0)`` through bronze→silver→gold; derived analytics
(returns, traded value, rolling stats) are computed in the serving layer
where sums are carried as exact decimals and only final scalars are cast
to double.
"""

from __future__ import annotations

from pyspark.sql import types as T

PRICE = T.DecimalType(18, 6)
VOLUME = T.DecimalType(38, 0)

# bronze landing file shape: dags/lib/eod_data_downloader.py:52-59 (CSV header
# trade_date,symbol,open,high,low,close,volume)
EOD_CSV_SCHEMA = T.StructType(
    [
        T.StructField("trade_date", T.DateType(), False),
        T.StructField("symbol", T.StringType(), False),
        T.StructField("open", PRICE, True),
        T.StructField("high", PRICE, True),
        T.StructField("low", PRICE, True),
        T.StructField("close", PRICE, True),
        T.StructField("volume", VOLUME, True),
    ]
)

# bronze table = csv shape + lineage columns (1. copy_to_raw.sql:26-27)
RAW_EOD_PRICES_SCHEMA = T.StructType(
    list(EOD_CSV_SCHEMA.fields)
    + [
        T.StructField("_src_file", T.StringType(), False),
        T.StructField("_ingest_ts", T.TimestampType(), False),
    ]
)

# silver (CORE.EOD_PRICES): 4. merge_core.sql:39-44 + LOAD_TS at :91
EOD_PRICES_SCHEMA = T.StructType(
    [
        T.StructField("trade_date", T.DateType(), False),
        T.StructField("symbol", T.StringType(), False),
        T.StructField("open", PRICE, True),
        T.StructField("high", PRICE, True),
        T.StructField("low", PRICE, True),
        T.StructField("close", PRICE, True),
        T.StructField("volume", VOLUME, True),
        T.StructField("load_ts", T.TimestampType(), False),
    ]
)

# reject audit (CORE.EOD_PRICES_REJECT): 4. merge_core.sql:24-45
EOD_PRICES_REJECT_SCHEMA = T.StructType(
    [
        T.StructField("trade_date", T.DateType(), False),
        T.StructField("symbol", T.StringType(), False),
        T.StructField("open", PRICE, True),
        T.StructField("high", PRICE, True),
        T.StructField("low", PRICE, True),
        T.StructField("close", PRICE, True),
        T.StructField("volume", VOLUME, True),
        T.StructField("reject_reason", T.StringType(), False),
        T.StructField("_src_file", T.StringType(), True),
        T.StructField("_ingest_ts", T.TimestampType(), True),
    ]
)

# gold dims/fact: 5.:36-37, 6.:36-37, 7.:47-51
DIM_SECURITY_SCHEMA = T.StructType(
    [
        T.StructField("security_id", T.LongType(), False),
        T.StructField("symbol", T.StringType(), False),
    ]
)

DIM_DATE_SCHEMA = T.StructType(
    [
        T.StructField("date_sk", T.IntegerType(), False),
        T.StructField("cal_date", T.DateType(), False),
        T.StructField("year_num", T.IntegerType(), False),
        T.StructField("quarter_num", T.IntegerType(), False),
        T.StructField("month_num", T.IntegerType(), False),
        T.StructField("month_name", T.StringType(), False),
        T.StructField("day_num", T.IntegerType(), False),
        T.StructField("day_name", T.StringType(), False),
        T.StructField("day_of_week", T.IntegerType(), False),  # 0=Sun…6=Sat
        T.StructField("week_of_year", T.IntegerType(), False),  # ISO
        T.StructField("is_weekend", T.BooleanType(), False),
    ]
)

FACT_DAILY_PRICE_SCHEMA = T.StructType(
    [
        T.StructField("security_id", T.LongType(), False),
        T.StructField("date_sk", T.IntegerType(), False),
        T.StructField("trade_date", T.DateType(), False),
        T.StructField("open", PRICE, True),
        T.StructField("high", PRICE, True),
        T.StructField("low", PRICE, True),
        T.StructField("close", PRICE, True),
        T.StructField("volume", VOLUME, True),
        T.StructField("load_ts", T.TimestampType(), False),
    ]
)
