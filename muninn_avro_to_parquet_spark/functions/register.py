"""SQL-function registration: the engine's scalar library exposed to
``spark.sql`` so ad-hoc queries can use the same reference-parity
coercers the conversion pipeline uses.

The reference keeps all of this pipeline-internal (SURVEY §2.2: "UDF
surface: none exposed"); exposing it is part of being an engine rather
than a job. Registration is Arrow-batched pandas UDFs (never row-at-a-
time Python): each call vectorizes over a batch.

    register_all(spark)
    spark.sql("SELECT cdc_bytes_decimal(payload_bytes) FROM staged")
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from muninn_avro_to_parquet_spark.functions import scalars
from muninn_avro_to_parquet_spark.schema import DECIMAL_38_9


@pandas_udf(DECIMAL_38_9)
def cdc_bytes_decimal(s: pd.Series) -> pd.Series:
    """Big-endian two's-complement bytes, assumed scale 30 → DECIMAL(38,9)
    with banker's rounding; malformed input → 0.000000000 (main.py:172-191)."""
    return s.map(scalars.bytes_to_decimal)


@pandas_udf(T.BooleanType())
def cdc_to_bool(s: pd.Series) -> pd.Series:
    """Tolerant bool parse: true/t/1/yes/y, false/f/0/no/n, else int-truthiness."""
    return s.map(scalars.to_bool).astype(object)


@pandas_udf(T.LongType())
def cdc_to_int(s: pd.Series) -> pd.Series:
    """Tolerant int parse ('+5', 3.9→3, True→1); null on failure."""
    return s.map(scalars.to_int).astype(object)


@pandas_udf(T.StringType())
def cdc_stringify(s: pd.Series) -> pd.Series:
    """Sorted-key compact JSON for containers, str() for scalars."""
    return s.map(scalars.stringify_any)


@pandas_udf(T.DoubleType())
def cdc_bytes_float(s: pd.Series) -> pd.Series:
    """bytes → big-endian int / 10^30 → double; null on failure."""
    return s.map(scalars.bytes_to_float)


def _duration_or_none(v) -> int | None:
    if v is None:
        return None
    try:
        return scalars.parse_duration_to_seconds(v)
    except (ValueError, TypeError):
        return None


@pandas_udf(T.LongType())
def duration_seconds(s: pd.Series) -> pd.Series:
    """'30m'/'1h'/'2d' → seconds; null on malformed input (matching the
    null-on-failure contract of every other registered function). LONG,
    not INT: '30000d' is well-formed and exceeds 2^31 seconds."""
    return s.map(_duration_or_none).astype(object)


_UDFS = {
    "cdc_bytes_decimal": cdc_bytes_decimal,
    "cdc_to_bool": cdc_to_bool,
    "cdc_to_int": cdc_to_int,
    "cdc_stringify": cdc_stringify,
    "cdc_bytes_float": cdc_bytes_float,
    "duration_seconds": duration_seconds,
}


def register_all(spark: SparkSession) -> list[str]:
    """Register every engine scalar UDF and table function (UDTF) for SQL
    use; returns the names."""
    from muninn_avro_to_parquet_spark.functions.udtfs import register_udtfs

    for name, fn in _UDFS.items():
        spark.udf.register(name, fn)
    return sorted(_UDFS) + register_udtfs(spark)
