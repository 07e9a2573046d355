"""Spark Column-expression cast layer.

Converts raw-transport columns (see
``schema.raw_transport_schema_from_plans``) to their target types with
the reference's value semantics (its main.py:147-240, catalogued in
SURVEY §1.4). Everything that CAN be a built-in JVM expression IS one
(whole-stage codegen); only the bytes-encoded decimal decode and exact
banker's-rounding decimal quantize drop to Arrow-vectorized pandas
UDFs. This layer serves the Python-codec and Kafka paths, which must run
without the engine's jar; the JVM scan path coerces bytes decimals with
the jar's Java port instead (``avro_source.JVM_BYTES_DECIMAL_FN``) and
has no Python worker.

The SQL function surface over the same scalar library is
``functions.register.register_all``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from muninn_avro_to_parquet_spark import schema as S
from muninn_avro_to_parquet_spark.functions import scalars

# ---------------------------------------------------------------------------
# pandas UDFs (Arrow-batched, and only on the columns that need them)
# ---------------------------------------------------------------------------


@pandas_udf(S.DECIMAL_38_9)
def bytes_decimal_udf(col: pd.Series) -> pd.Series:
    """Big-endian two's-complement bytes, assumed scale 30 → DECIMAL(38,9)
    with banker's rounding; malformed input → 0.000000000 (main.py:172-191)."""
    return col.map(scalars.bytes_to_decimal)


@pandas_udf(S.DECIMAL_38_9)
def numeric_decimal_udf(col: pd.Series) -> pd.Series:
    """Stringified numeric → DECIMAL(38,9) via Decimal.quantize (HALF_EVEN —
    Spark's CAST rounds HALF_UP, so a UDF is needed for exact parity with
    main.py:192-199)."""
    return col.map(scalars.numeric_to_decimal)


# ---------------------------------------------------------------------------
# built-in expression builders
# ---------------------------------------------------------------------------


def lenient_bool(col: Column) -> Column:
    """The `_to_bool` truth table (main.py:26-37) as a codegen'd CASE chain:
    true/t/1/yes/y, false/f/0/no/n (case-insensitive), else bool(int(s))
    — i.e. any other parsable integer maps to (n != 0) — else null."""
    s = F.lower(F.trim(col.cast("string")))
    as_int = s.try_cast("bigint")
    return (
        F.when(s.isNull(), F.lit(None).cast("boolean"))
        .when(s.isin("true", "t", "1", "yes", "y"), F.lit(True))
        .when(s.isin("false", "f", "0", "no", "n"), F.lit(False))
        .when(as_int.isNotNull(), as_int != 0)
        .otherwise(F.lit(None).cast("boolean"))
    )


def lenient_int(col: Column) -> Column:
    """`_to_int` (main.py:39-46): strip one leading '+', truncate floats,
    null on failure — try_cast keeps this JVM-side."""
    s = F.regexp_replace(F.trim(col.cast("string")), r"^\+", "")
    direct = s.try_cast("bigint")
    via_double = s.try_cast("double").try_cast("bigint")
    return F.coalesce(direct, via_double)


def timestamp_from(col: Column, source: str) -> Column:
    if source == S.TS_MILLIS:
        return F.timestamp_millis(col.cast("long"))
    if source == S.TS_MICROS:
        return F.timestamp_micros(col.cast("long"))
    raise ValueError(source)


def cast_expr(col: Column, plan: S.FieldPlan) -> Column:
    """Raw-transport expression → target-typed expression, recursively for
    struct members."""
    source = plan.source
    if source == S.RAW:
        return col
    if source in (S.TS_MILLIS, S.TS_MICROS):
        return timestamp_from(col, source)
    if source == S.EPOCH_DAYS:
        return F.date_from_unix_date(col.cast("int"))
    if source == S.BYTES_DECIMAL:
        return bytes_decimal_udf(col)
    if source == S.NUMERIC_DECIMAL:
        return numeric_decimal_udf(col)
    if source == S.STRINGIFY:
        # stringification happened while building the transport batch
        # (sorted-key compact JSON needs Python's json module semantics)
        return col.cast("string")
    if source == S.STRUCT_CAST:
        # rebuild the struct with each member cast per ITS plan — this is
        # how a nested timestamp-millis long becomes a typed timestamp
        # instead of being misread by Arrow as micros (a null struct must
        # stay null, not become a struct of nulls)
        inner = F.struct(
            *[cast_expr(col[c.name], c).alias(c.name) for c in plan.children]
        )
        return F.when(col.isNotNull(), inner)
    raise ValueError(f"unknown source kind {source!r} for column {plan.name!r}")


def cast_column(name: str, plan: S.FieldPlan) -> Column:
    """Raw-transport column → target-typed column, per the field's plan."""
    return cast_expr(F.col(name), plan).alias(name)


def select_typed_columns(plans: list[S.FieldPlan]) -> list[Column]:
    """The full cast layer as a column list: envelope struct + typed
    payload columns (callers append any extra passthrough columns)."""
    cols = [F.col("source_metadata")]
    cols.extend(cast_column(p.name, p) for p in plans)
    return cols
