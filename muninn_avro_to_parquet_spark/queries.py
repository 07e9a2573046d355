"""Query registry: every SURVEY §2 operator category as a named query with
a Spark DataFrame builder AND a DuckDB oracle SQL string.

Determinism rules (so value-hashes match across engines bit-for-bit):
- money/qty aggregates accumulate in DECIMAL (exact, order-independent) and
  convert to DOUBLE only at the end;
- averages divide two exact doubles (never decimal division — precision
  rules differ between engines);
- dates/timestamps in output are formatted to strings;
- every top-k has a total order (explicit tie-break columns);
- hashes are md5/sha256 hex strings (identical everywhere).

Each entry: ``QUERIES[name] = Q(spark_fn, oracle: str | None)``. Builders
take (spark, sf_dir) and use temp views registered by ``tables.register_views``.
Entries with ``oracle=None`` are non-SQL-expressible (streaming/stateful) and
get the driver's rows-only check.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from muninn_avro_to_parquet_spark import tables
from muninn_avro_to_parquet_spark.operators import (
    dedup,
    multimodal,
    pipeline,
    similarity,
    text,
)

MONEY = "decimal(12,2)"
RATE = "decimal(8,6)"
QTY = "decimal(12,2)"


@dataclass(frozen=True)
class Q:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]


QUERIES: dict[str, Q] = {}


def q(name: str, oracle: Optional[str]):
    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            tables.register_views(spark, sf_dir)
            return fn(spark)

        if name in QUERIES:
            # a duplicate would SILENTLY displace the older query from
            # the registry (and its rotation/correctness history) — an
            # r14 near-miss: a new day-granularity retention entry briefly
            # shadowed the monthly q_cohort_retention
            raise ValueError(f"duplicate registry query name: {name!r}")
        QUERIES[name] = Q(wrapped, oracle)
        return wrapped

    return deco


def _dec(col: str, t: str) -> F.Column:
    return F.col(col).cast(t)


# ---------------------------------------------------------------------------
# aggregation
# ---------------------------------------------------------------------------


@q(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,6)))), 2) AS DOUBLE) AS sum_disc_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST((1 - CAST(l_discount AS DECIMAL(8,6))) * (1 + CAST(l_tax AS DECIMAL(8,6))) AS DECIMAL(19,12))), 2) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(8,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark):
    li = spark.table("lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    price, disc, tax, qty = (
        _dec("l_extendedprice", MONEY),
        _dec("l_discount", RATE),
        _dec("l_tax", RATE),
        _dec("l_quantity", QTY),
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qty).cast("double").alias("sum_qty"),
        F.sum(price).cast("double").alias("sum_base_price"),
        F.round(F.sum(price * (F.lit(1) - disc)), 2).cast("double").alias("sum_disc_price"),
        F.round(
            F.sum(price * ((F.lit(1) - disc) * (F.lit(1) + tax)).cast("decimal(19,12)")), 2
        )
        .cast("double")
        .alias("sum_charge"),
        (F.sum(qty).cast("double") / F.count("*")).alias("avg_qty"),
        (F.sum(price).cast("double") / F.count("*")).alias("avg_price"),
        (F.sum(disc).cast("double") / F.count("*")).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@q(
    "q6_revenue_forecast",
    """
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(8,6))), 2) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_revenue_forecast(spark):
    li = spark.table("lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(_dec("l_extendedprice", MONEY) * _dec("l_discount", RATE)), 2)
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@q(
    "q_rollup_sales",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_sales,
           COUNT(*) AS n_orders,
           GROUPING(o_orderstatus) AS g_status, GROUPING(o_orderpriority) AS g_prio
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
)
def q_rollup_sales(spark):
    return (
        spark.table("orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.sum(_dec("o_totalprice", MONEY)).cast("double").alias("total_sales"),
            F.count("*").alias("n_orders"),
            F.grouping("o_orderstatus").alias("g_status"),
            F.grouping("o_orderpriority").alias("g_prio"),
        )
    )


@q(
    "q_cube_sales",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n,
           GROUPING(l_returnflag) AS g_rf, GROUPING(l_linestatus) AS g_ls
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
)
def q_cube_sales(spark):
    return (
        spark.table("lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity", QTY)).cast("double").alias("sum_qty"),
            F.count("*").alias("n"),
            F.grouping("l_returnflag").alias("g_rf"),
            F.grouping("l_linestatus").alias("g_ls"),
        )
    )


@q(
    "q_distinct_counts",
    """
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*) AS n_orders,
           COUNT(*) FILTER (WHERE o_totalprice > 100000) AS n_big,
           CAST(MIN(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS min_price,
           CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS max_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_distinct_counts(spark):
    return (
        spark.table("orders")
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count("*").alias("n_orders"),
            F.count_if(F.col("o_totalprice") > 100000).alias("n_big"),
            F.min(_dec("o_totalprice", MONEY)).cast("double").alias("min_price"),
            F.max(_dec("o_totalprice", MONEY)).cast("double").alias("max_price"),
        )
    )


@q(
    "q_pivot_status",
    """
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(12,2)) ELSE 0 END) AS DOUBLE) AS open_total,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(12,2)) ELSE 0 END) AS DOUBLE) AS filled_total,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(12,2)) ELSE 0 END) AS DOUBLE) AS partial_total
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_pivot_status(spark):
    o = spark.table("orders")
    price = _dec("o_totalprice", MONEY)

    def bucket(status, alias):
        return (
            F.sum(F.when(F.col("o_orderstatus") == status, price).otherwise(F.lit(0)))
            .cast("double")
            .alias(alias)
        )

    return o.groupBy("o_orderpriority").agg(
        bucket("O", "open_total"), bucket("F", "filled_total"), bucket("P", "partial_total")
    )


# ---------------------------------------------------------------------------
# joins
# ---------------------------------------------------------------------------


@q(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,6)))), 2) AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)
def q3_shipping_priority(spark):
    c = spark.table("customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = spark.table("orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = spark.table("lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(_dec("l_extendedprice", MONEY) * (F.lit(1) - _dec("l_discount", RATE))), 2
            )
            .cast("double")
            .alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@q(
    "q5_local_supplier_volume",
    """
    SELECT n_name,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,6)))), 2) AS DOUBLE) AS revenue
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark):
    c = spark.table("customer")
    o = spark.table("orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = spark.table("lineitem")
    s = spark.table("supplier")
    n = spark.table("nation")
    r = spark.table("region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(_dec("l_extendedprice", MONEY) * (F.lit(1) - _dec("l_discount", RATE))), 2
            )
            .cast("double")
            .alias("revenue")
        )
    )


@q(
    "q_semi_anti_join",
    """
    SELECT 'with_orders' AS bucket, COUNT(*) AS n FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    UNION ALL
    SELECT 'without_orders' AS bucket, COUNT(*) AS n FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q_semi_anti_join(spark):
    c = spark.table("customer")
    o = spark.table("orders")
    semi = (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .agg(F.count("*").alias("n"))
        .select(F.lit("with_orders").alias("bucket"), "n")
    )
    anti = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .agg(F.count("*").alias("n"))
        .select(F.lit("without_orders").alias("bucket"), "n")
    )
    return semi.unionAll(anti)


@q(
    "q_outer_join_nulls",
    """
    SELECT n_name, COALESCE(cnt, 0) AS n_customers
    FROM nation LEFT JOIN (
      SELECT c_nationkey, COUNT(*) AS cnt FROM customer GROUP BY c_nationkey
    ) c ON n_nationkey = c_nationkey
    """,
)
def q_outer_join_nulls(spark):
    n = spark.table("nation")
    c = spark.table("customer").groupBy("c_nationkey").agg(F.count("*").alias("cnt"))
    return (
        n.join(c, n.n_nationkey == c.c_nationkey, "left")
        .select("n_name", F.coalesce("cnt", F.lit(0)).alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# window functions
# ---------------------------------------------------------------------------


@q(
    "q_topk_per_group",
    """
    SELECT * FROM (
      SELECT c_mktsegment, c_custkey, c_name,
             CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY CAST(c_acctbal AS DECIMAL(12,2)) DESC, c_custkey ASC) AS rnk
      FROM customer
    ) WHERE rnk <= 3
    """,
)
def q_topk_per_group(spark):
    from pyspark.sql import Window

    bal = _dec("c_acctbal", MONEY)
    w = Window.partitionBy("c_mktsegment").orderBy(bal.desc(), F.col("c_custkey").asc())
    return (
        spark.table("customer")
        .select(
            "c_mktsegment",
            "c_custkey",
            "c_name",
            bal.cast("double").alias("acctbal"),
            F.row_number().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
    )


@q(
    "q_running_total",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
           ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS order_seq
    FROM orders
    WHERE o_custkey <= 50
    """,
)
def q_running_total(spark):
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    return (
        spark.table("orders")
        .filter(F.col("o_custkey") <= 50)
        .select(
            "o_custkey",
            "o_orderkey",
            F.sum(_dec("o_totalprice", MONEY))
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("double")
            .alias("running_spend"),
            F.row_number().over(w).alias("order_seq"),
        )
    )


@q(
    "q_lag_lead_delta",
    """
    SELECT user_id, event_id,
           epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS TIMESTAMP)) AS gap_us,
           LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS next_type
    FROM events WHERE user_id <= 20
    """,
)
def q_lag_lead_delta(spark):
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    us = F.unix_micros(F.col("ts"))
    return (
        spark.table("events")
        .filter(F.col("user_id") <= 20)
        .select(
            "user_id",
            "event_id",
            (us - F.lag(us).over(w)).alias("gap_us"),
            F.lead("event_type").over(w).alias("next_type"),
        )
    )


@q(
    "q_sessionize",
    """
    WITH gaps AS (
      SELECT user_id, event_id, ts,
             CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(LAG(ts) OVER w AS TIMESTAMP)) > 1800000000
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ), sess AS (
      SELECT user_id, event_id,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM gaps
    )
    SELECT user_id, session_id, COUNT(*) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)
def q_sessionize(spark):
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    us = F.unix_micros(F.col("ts"))
    gaps = spark.table("events").select(
        "user_id",
        "event_id",
        F.col("ts"),
        F.when(
            (us - F.lag(us).over(w) > 1_800_000_000) | F.lag(us).over(w).isNull(), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("new_session"),
    )
    sess = gaps.select(
        "user_id",
        "event_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("session_id"),
    )
    return sess.groupBy("user_id", "session_id").agg(F.count("*").alias("n_events"))


# ---------------------------------------------------------------------------
# sort / limit / set ops
# ---------------------------------------------------------------------------


@q(
    "q_global_topn",
    """
    SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS totalprice
    FROM orders ORDER BY CAST(o_totalprice AS DECIMAL(12,2)) DESC, o_orderkey ASC LIMIT 25
    """,
)
def q_global_topn(spark):
    price = _dec("o_totalprice", MONEY)
    return (
        spark.table("orders")
        .select("o_orderkey", price.cast("double").alias("totalprice"))
        .orderBy(price.desc(), F.col("o_orderkey").asc())
        .limit(25)
    )


@q(
    "q_set_ops",
    """
    WITH big_cust AS (SELECT o_custkey AS k FROM orders WHERE o_totalprice > 150000),
         urgent_cust AS (SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT')
    SELECT 'union' AS op, COUNT(*) AS n FROM (SELECT DISTINCT k FROM (SELECT k FROM big_cust UNION SELECT k FROM urgent_cust))
    UNION ALL
    SELECT 'intersect' AS op, COUNT(*) AS n FROM (SELECT DISTINCT k FROM big_cust INTERSECT SELECT DISTINCT k FROM urgent_cust)
    UNION ALL
    SELECT 'except' AS op, COUNT(*) AS n FROM (SELECT DISTINCT k FROM big_cust EXCEPT SELECT DISTINCT k FROM urgent_cust)
    """,
)
def q_set_ops(spark):
    # single-pass rewrite of UNION/INTERSECT/EXCEPT over the same base
    # table: one scan + one groupBy(custkey) computing per-key membership
    # flags, then a single-row conditional-count aggregate fanned back out
    # to 3 rows with stack(). Replaces 6 scans + 3 set-op shuffles with
    # 2 shuffles total; the SQL oracle keeps the literal set-op form.
    o = spark.table("orders")
    flags = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.max(F.col("o_totalprice") > 150000).alias("big"),
        F.max(F.col("o_orderpriority") == "1-URGENT").alias("urgent"),
    )
    counts = flags.agg(
        F.sum(F.when(F.col("big") | F.col("urgent"), 1).otherwise(0)).alias("n_union"),
        F.sum(F.when(F.col("big") & F.col("urgent"), 1).otherwise(0)).alias("n_intersect"),
        F.sum(F.when(F.col("big") & ~F.col("urgent"), 1).otherwise(0)).alias("n_except"),
    )
    return counts.select(
        F.expr(
            "stack(3, 'union', n_union, 'intersect', n_intersect, 'except', n_except) AS (op, n)"
        )
    )


# ---------------------------------------------------------------------------
# scalar functions: JSON, strings, dates
# ---------------------------------------------------------------------------


@q(
    "q_events_json",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def q_events_json(spark):
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        spark.table("events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum(k).alias("sum_k"), F.max(k).alias("max_k"))
    )


@q(
    "q_events_variant",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           MAX(value * 2) AS max_val2,
           CAST(SUM(CASE WHEN json_extract_string(props, '$.absent') IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
    FROM events
    GROUP BY event_type
    """,
)
def q_events_variant(spark):
    """Spark 4 VARIANT ingestion: a nested JSON document (synthesized
    deterministically from events so the binary-encoded path is exercised
    on arbitrary structure, not just the flat props payload) goes through
    ``parse_json`` into a VARIANT column, and every read is a typed
    ``variant_get`` path — struct field, array element, and a missing
    path (NULL, not an error). VARIANT keeps the open-schema encoding
    columnar-shredded instead of re-parsing JSON text per access — the
    100 TB answer for semi-structured event payloads whose schema drifts
    faster than the table's. The oracle recomputes the same facts from
    the source columns, proving the encode → extract loop lossless
    (including exact double round-trip through JSON)."""
    e = spark.table("events")
    doc = F.to_json(
        F.struct(
            F.struct(
                F.col("event_type").alias("type"),
                F.get_json_object("props", "$.k").cast("bigint").alias("k"),
            ).alias("meta"),
            F.array(F.col("value"), F.col("value") * 2).alias("vals"),
        )
    )
    v = e.select(F.parse_json(doc).alias("v"))
    flat = v.select(
        F.expr("variant_get(v, '$.meta.type', 'string')").alias("event_type"),
        F.expr("variant_get(v, '$.meta.k', 'bigint')").alias("k"),
        F.expr("variant_get(v, '$.vals[1]', 'double')").alias("val2"),
        F.expr("variant_get(v, '$.absent', 'string')").alias("absent"),
    )
    return flat.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("k").alias("sum_k"),
        F.max("val2").alias("max_val2"),
        F.sum(F.when(F.col("absent").isNull(), 1).otherwise(0)).alias("n_missing"),
    )


@q(
    "q_string_funcs",
    """
    SELECT p_brand,
           COUNT(*) AS n,
           MIN(UPPER(p_name)) AS first_name_upper,
           MAX(LENGTH(p_name)) AS max_name_len,
           CAST(SUM(CASE WHEN CONTAINS(p_type, 'PROMO') THEN 1 ELSE 0 END) AS BIGINT) AS n_promo,
           MIN(SUBSTR(p_name, 1, 5) || '#' || CAST(p_size AS VARCHAR)) AS min_tag
    FROM part
    GROUP BY p_brand
    """,
)
def q_string_funcs(spark):
    return (
        spark.table("part")
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n"),
            F.min(F.upper("p_name")).alias("first_name_upper"),
            F.max(F.length("p_name")).alias("max_name_len"),
            F.sum(F.when(F.col("p_type").contains("PROMO"), 1).otherwise(0)).alias("n_promo"),
            F.min(
                F.concat(F.substring("p_name", 1, 5), F.lit("#"), F.col("p_size").cast("string"))
            ).alias("min_tag"),
        )
    )


@q(
    "q_monthly_orders",
    """
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY 1
    """,
)
def q_monthly_orders(spark):
    return (
        spark.table("orders")
        .groupBy(F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_dec("o_totalprice", MONEY)).cast("double").alias("total"),
        )
    )


# ---------------------------------------------------------------------------
# LLM-pipeline extensions: dedup / similarity / text / multimodal
# ---------------------------------------------------------------------------

# DuckDB-side tokenizer identical to operators.text.tokens
_SQL_TOKENS = (
    "list_filter(string_split_regex(regexp_replace(lower(text), "
    "'[^a-z0-9一-鿿 ]', ' ', 'g'), ' +'), x -> x <> '')"
)
_SQL_TOK_CTE = f"""
    tok AS (
      SELECT DISTINCT doc_id, unnest({_SQL_TOKENS}) AS token FROM documents
    )
"""


@q(
    "dedup_exact",
    """
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    JOIN (SELECT MIN(doc_id) AS keep FROM documents GROUP BY md5(text)) s
      ON d.doc_id = s.keep
    """,
)
def dedup_exact(spark):
    d = spark.table("documents")
    return dedup.exact_dedup(d, ["text"], "doc_id").select("doc_id", "lang", "source")


def _minhash_oracle(num_hashes: int = 8) -> str:
    mins = ",\n           ".join(
        f"MIN(md5('{i}:' || token)) AS mh{i:02d}" for i in range(num_hashes)
    )
    return f"""
    WITH {_SQL_TOK_CTE}
    SELECT doc_id, {mins}
    FROM tok GROUP BY doc_id
    """


@q("dedup_minhash_signature", _minhash_oracle(8))
def dedup_minhash_signature(spark):
    return dedup.minhash_signature(spark.table("documents"), "doc_id", "text", num_hashes=8)


def _minhash_pairs_oracle(num_hashes: int = 8, bands: int = 4, max_bucket: int = 64) -> str:
    rows = num_hashes // bands
    band_selects = []
    for b in range(bands):
        cols = " || '|' || ".join(f"mh{b * rows + r:02d}" for r in range(rows))
        band_selects.append(
            f"SELECT doc_id, {b} AS band_idx, md5({cols}) AS band_hash FROM sig"
        )
    bands_sql = "\n      UNION ALL\n      ".join(band_selects)
    return f"""
    WITH {_SQL_TOK_CTE},
    sig AS (
      SELECT doc_id,
             {",".join(f"MIN(md5('{i}:' || token)) AS mh{i:02d}" for i in range(num_hashes))}
      FROM tok GROUP BY doc_id
    ),
    bands AS (
      {bands_sql}
    ),
    kept AS (
      SELECT bands.* FROM bands
      JOIN (SELECT band_idx, band_hash FROM bands
            GROUP BY 1, 2 HAVING COUNT(*) <= {max_bucket}) ok
        USING (band_idx, band_hash)
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM kept a JOIN kept b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    """


@q("dedup_minhash_lsh_pairs", _minhash_pairs_oracle(8, 4, 64))
def dedup_minhash_lsh_pairs(spark):
    """LSH candidate pairs WITH the boilerplate-bucket cap — the form that
    survives 100 TB. The synthetic corpus is heavily templated (one band
    bucket holds 78% of all docs at sf0.1), so the uncapped join emits
    k²/2 ≈ 10⁷ pairs from 5·10³ docs — at 10⁹ docs that's 10¹⁷ pairs,
    i.e. the query that never finishes. ``max_bucket`` drops those
    near-universal buckets (they're boilerplate, not duplication signal);
    the oracle applies the identical HAVING filter."""
    return dedup.minhash_candidate_pairs(
        spark.table("documents"), "doc_id", "text", num_hashes=8, bands=4, max_bucket=64
    )


@q(
    "dedup_ngram_jaccard",
    f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKENS} AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, unnest(
        [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)]
      ) AS shingle
      FROM toks WHERE len(t) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
           CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
    FROM common
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.1
    """,
)
def dedup_ngram_jaccard(spark):
    return dedup.jaccard_pairs(spark.table("documents"), "doc_id", "text", n=3, threshold=0.1)


@q(
    "dedup_containment_pairs",
    f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKENS} AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, unnest(
        [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)]
      ) AS shingle
      FROM toks WHERE len(t) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    rare AS (
      SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 64
    ),
    p AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM p a JOIN p b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
           CAST(n_common AS DOUBLE) / CAST(LEAST(sa.n_sh, sb.n_sh) AS DOUBLE) AS containment
    FROM common
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / CAST(LEAST(sa.n_sh, sb.n_sh) AS DOUBLE) >= 0.5
    """,
)
def dedup_containment_pairs(spark):
    """Asymmetric near-dup by containment
    (operators/dedup.containment_pairs): |S(A)∩S(B)| / min(|S|) — catches
    a short document quoted verbatim inside a long one, where Jaccard ≈
    |short|/|long| stays under any sane threshold. Shingle equi-join
    candidates (complete for containment, unlike Jaccard-bucketed LSH)
    with the max_shingle_docs boilerplate guard capping hot-shingle
    fan-out."""
    return dedup.containment_pairs(
        spark.table("documents"), "doc_id", "text", n=3, threshold=0.5,
        max_shingle_docs=64,
    )


@q(
    "dedup_simhash",
    """
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(list_filter(string_split_regex(regexp_replace(lower(text),
        '[^a-z0-9一-鿿 ]', ' ', 'g'), ' +'), x -> x <> '')) AS token
      FROM documents
    ),
    h AS (SELECT doc_id, md5(token) AS h FROM tok),
    bits AS (
      SELECT doc_id, b.bit,
             2 * (CAST(floor((strpos('0123456789abcdef',
                    substr(h, CAST(bit // 4 AS INT) + 1, 1)) - 1)
                  / power(2, 3 - bit % 4)) AS INT) % 2) - 1 AS delta
      FROM h CROSS JOIN (SELECT unnest(range(64)) AS bit) b
    ),
    votes AS (SELECT doc_id, bit, SUM(delta) AS v FROM bits GROUP BY 1, 2)
    SELECT doc_id,
           string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY bit) AS simhash
    FROM votes GROUP BY doc_id
    """,
)
def dedup_simhash(spark):
    return dedup.simhash(spark.table("documents"), "doc_id", "text")


@q(
    "embedding_cosine_pairs",
    """
    WITH sub AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 25 = 0),
    el AS (SELECT vec_id,
                  CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000000) AS BIGINT) AS x,
                  generate_subscripts(embedding, 1) AS i FROM sub),
    dots AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, CAST(SUM(a.x * b.x) AS DOUBLE) AS dot
      FROM el a JOIN el b ON a.i = b.i AND a.vec_id < b.vec_id GROUP BY 1, 2
    ),
    norms AS (
      SELECT vec_id, sqrt(CAST(SUM(x * x) AS DOUBLE)) AS nrm
      FROM el GROUP BY 1
    )
    SELECT id_a, id_b, dot / (na.nrm * nb.nrm) AS cosine_sim
    FROM dots JOIN norms na ON id_a = na.vec_id JOIN norms nb ON id_b = nb.vec_id
    WHERE dot / (na.nrm * nb.nrm) >= 0.25
    """,
)
def embedding_cosine_pairs(spark):
    sub = spark.table("embeddings").filter(F.col("vec_id") % 25 == 0)
    return similarity.cosine_pairs(sub, threshold=0.25)


@q(
    "ann_topk_bruteforce",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
    qel AS (SELECT query_id,
                   CAST(round(CAST(unnest(qe) AS DOUBLE) * 10000000) AS BIGINT) AS x,
                   generate_subscripts(qe, 1) AS i FROM q),
    cel AS (SELECT vec_id,
                   CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000000) AS BIGINT) AS x,
                   generate_subscripts(embedding, 1) AS i FROM embeddings),
    dots AS (
      SELECT q.query_id, c.vec_id, CAST(SUM(q.x * c.x) AS DOUBLE) AS dot
      FROM qel q JOIN cel c ON q.i = c.i
      WHERE q.query_id <> c.vec_id
      GROUP BY 1, 2
    ),
    norms AS (
      SELECT vec_id, sqrt(CAST(SUM(x * x) AS DOUBLE)) AS nrm
      FROM cel GROUP BY 1
    ),
    scored AS (
      SELECT query_id, d.vec_id, dot / (nq.nrm * nc.nrm) AS cosine_sim
      FROM dots d JOIN norms nq ON d.query_id = nq.vec_id JOIN norms nc ON d.vec_id = nc.vec_id
    )
    SELECT * FROM (
      SELECT query_id, vec_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def ann_topk_bruteforce(spark):
    emb = spark.table("embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return similarity.cosine_topk(emb, queries_df, k=10)


# Shared oracle fragments for the embedding queries: quantized element
# table (one row per vector element, exact BIGINT values — the same
# round(x·1e7) quantization the Spark operators use) and exact norms.
_EMB_EL = """
    el AS (SELECT vec_id,
                  CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000000) AS BIGINT) AS x,
                  generate_subscripts(embedding, 1) AS i FROM embeddings),
    norms AS (SELECT vec_id, sqrt(CAST(SUM(x * x) AS DOUBLE)) AS nrm FROM el GROUP BY 1)
"""


def _random_projection_oracle(out_dim: int = 16, dim: int = 64) -> str:
    # the projection matrix is the SAME md5 integer-plane derivation the
    # Spark operator uses (offset 1000), inlined as literals; components
    # are exact BIGINT sums so both engines hash-match bit-for-bit
    rows = []
    for j in range(out_dim):
        for d, coef in enumerate(similarity._hyperplane(dim, 1000 + j)):
            rows.append(f"({j},{d + 1},{coef})")
    return f"""
    WITH {_EMB_EL},
    planes(p, i, coef) AS (VALUES {",".join(rows)})
    SELECT e.vec_id, CAST(pl.p AS INTEGER) AS dim_idx,
           CAST(SUM(e.x * pl.coef) AS BIGINT) AS component
    FROM el e JOIN planes pl ON e.i = pl.i
    GROUP BY 1, 2
    """


@q("embedding_random_projection", _random_projection_oracle())
def embedding_random_projection(spark):
    """Integer Johnson-Lindenstrauss projection 64→16 dims
    (operators/similarity.random_projection): deterministic md5-derived
    integer planes, exact BIGINT components — a shuffle-free, UDF-free
    projection in whole-stage codegen that narrows vectors 4× for
    downstream clustering/coarse ANN while staying value-hash
    verifiable. Output exploded to (vec_id, dim_idx, component) rows so
    the oracle compares every component exactly."""
    proj = similarity.random_projection(
        spark.table("embeddings"), dim=64, out_dim=16
    )
    return proj.select(
        "vec_id", F.posexplode("proj").alias("dim_idx", "component")
    ).select(
        "vec_id",
        F.col("dim_idx").cast("int").alias("dim_idx"),
        F.col("component").cast("long").alias("component"),
    )


def _lsh_buckets_sql(num_planes: int, dim: int = 64) -> str:
    """CTE fragment computing each vector's hyperplane-LSH bucket exactly as
    ``similarity.hyperplane_buckets``: integer plane coefficients are inlined
    as literals (same md5 derivation), the sign-deciding dot product is an
    exact BIGINT sum, so bucket strings match Spark bit-for-bit."""
    rows = []
    for p in range(num_planes):
        for d, coef in enumerate(similarity._hyperplane(dim, p)):
            rows.append(f"({p},{d + 1},{coef})")
    values = ",".join(rows)
    return f"""
    planes(p, i, coef) AS (VALUES {values}),
    bdots AS (SELECT e.vec_id, pl.p, SUM(e.x * pl.coef) AS dot
              FROM el e JOIN planes pl ON e.i = pl.i GROUP BY 1, 2),
    buckets AS (SELECT vec_id,
                       string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
                FROM bdots GROUP BY 1)
"""


def _ann_lsh_oracle() -> str:
    # deterministic end to end: integer-exact bucket bits + integer-exact
    # cosine numerator/denominator, IEEE-double division at the very end
    return f"""
    WITH {_EMB_EL}, {_lsh_buckets_sql(num_planes=8)},
    cand AS (
      SELECT q.vec_id AS query_id, c.vec_id
      FROM buckets q JOIN buckets c USING (bucket)
      WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
    ),
    dots AS (
      SELECT cd.query_id, cd.vec_id, CAST(SUM(a.x * b.x) AS DOUBLE) AS dot
      FROM cand cd
      JOIN el a ON a.vec_id = cd.query_id
      JOIN el b ON b.vec_id = cd.vec_id AND b.i = a.i
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, d.vec_id, dot / (nq.nrm * nc.nrm) AS cosine_sim
      FROM dots d
      JOIN norms nq ON d.query_id = nq.vec_id
      JOIN norms nc ON d.vec_id = nc.vec_id
    )
    SELECT * FROM (
      SELECT query_id, vec_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 10
    """


@q("ann_topk_lsh", _ann_lsh_oracle())
def ann_topk_lsh(spark):
    emb = spark.table("embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return similarity.ann_topk_lsh(emb, queries_df, dim=64, k=10)


def _recall_block_sql(method: str, top_cte: str) -> str:
    # per-method recall vs etop; micro-quantized before averaging so the
    # aggregate is shuffle-order-proof
    return f"""
    SELECT '{method}' AS method, CAST(COUNT(*) AS BIGINT) AS n_queries,
           ROUND(CAST(SUM(CAST(round(r * 1000000) AS BIGINT)) AS DOUBLE)
                 / (COUNT(*) * 1000000.0), 6) AS avg_recall,
           ROUND(MIN(r), 6) AS min_recall
    FROM (
      SELECT nx.query_id,
             CAST(COALESCE(n_hits, 0) AS DOUBLE) / CAST(n_exact AS DOUBLE) AS r
      FROM (SELECT query_id, COUNT(*) AS n_exact FROM etop GROUP BY 1) nx
      LEFT JOIN (
        SELECT e.query_id, COUNT(*) AS n_hits
        FROM etop e JOIN {top_cte} l
          ON e.query_id = l.query_id AND e.vec_id = l.vec_id
        GROUP BY 1
      ) nh USING (query_id)
    )"""


def _ann_recall_oracle() -> str:
    # recall@10 of every ANN variant vs exact brute force, all built from
    # the SAME integer-exact CTE machinery the individual queries use
    variants = similarity._probe_variants_sql(num_planes=8).removeprefix(
        "array("
    ).removesuffix(")")

    def rerank(src: str, out: str) -> str:
        return f"""
    {out}d AS (
      SELECT cd.query_id, cd.vec_id, CAST(SUM(a.x * b.x) AS DOUBLE) AS dot
      FROM {src} cd
      JOIN el a ON a.vec_id = cd.query_id
      JOIN el b ON b.vec_id = cd.vec_id AND b.i = a.i
      GROUP BY 1, 2
    ),
    {out} AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, d.vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY dot / (nq.nrm * nc.nrm) DESC,
                                           d.vec_id ASC) AS rank
        FROM {out}d d
        JOIN norms nq ON d.query_id = nq.vec_id
        JOIN norms nc ON d.vec_id = nc.vec_id
      ) WHERE rank <= 10
    )"""

    return f"""
    WITH {_EMB_EL}, {_lsh_buckets_sql(num_planes=8)},
    ecand AS (
      SELECT a.vec_id AS query_id, b.vec_id
      FROM (SELECT DISTINCT vec_id FROM el WHERE vec_id < 5) a
      CROSS JOIN (SELECT DISTINCT vec_id FROM el) b
      WHERE a.vec_id <> b.vec_id
    ),
    {rerank("ecand", "etop").lstrip()},
    lcand AS (
      SELECT q.vec_id AS query_id, c.vec_id
      FROM buckets q JOIN buckets c USING (bucket)
      WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
    ),
    {rerank("lcand", "ltop").lstrip()},
    probes AS (
      SELECT vec_id, unnest([{variants}]) AS bucket
      FROM buckets WHERE vec_id < 5
    ),
    mcand AS (
      SELECT DISTINCT p.vec_id AS query_id, c.vec_id
      FROM probes p JOIN buckets c USING (bucket)
      WHERE c.vec_id <> p.vec_id
    ),
    {rerank("mcand", "mtop").lstrip()},
    cents AS (
      SELECT vec_id AS centroid_id FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT 16
    ),
    cel AS (SELECT centroid_id, x, i FROM el JOIN cents ON el.vec_id = cents.centroid_id),
    cnorms AS (SELECT centroid_id, sqrt(CAST(SUM(x * x) AS DOUBLE)) AS nrm FROM cel GROUP BY 1),
    adots AS (
      SELECT e.vec_id, c.centroid_id, CAST(SUM(e.x * c.x) AS DOUBLE) AS dot
      FROM el e JOIN cel c ON e.i = c.i GROUP BY 1, 2
    ),
    csim AS (
      SELECT a.vec_id, a.centroid_id,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY a.dot / (nv.nrm * nc.nrm) DESC, a.centroid_id ASC
             ) AS r
      FROM adots a
      JOIN norms nv ON a.vec_id = nv.vec_id
      JOIN cnorms nc ON a.centroid_id = nc.centroid_id
    ),
    lists AS (SELECT vec_id, centroid_id FROM csim WHERE r = 1),
    iprobes AS (SELECT vec_id AS query_id, centroid_id FROM csim WHERE vec_id < 5 AND r <= 4),
    icand AS (
      SELECT p.query_id, l.vec_id
      FROM iprobes p JOIN lists l USING (centroid_id)
      WHERE l.vec_id <> p.query_id
    ),
    {rerank("icand", "itop").lstrip()},
    iprobes12 AS (SELECT vec_id AS query_id, centroid_id FROM csim WHERE vec_id < 5 AND r <= 12),
    icand12 AS (
      SELECT p.query_id, l.vec_id
      FROM iprobes12 p JOIN lists l USING (centroid_id)
      WHERE l.vec_id <> p.query_id
    ),
    {rerank("icand12", "itop12").lstrip()},
    iprobes14 AS (SELECT vec_id AS query_id, centroid_id FROM csim WHERE vec_id < 5 AND r <= 14),
    icand14 AS (
      SELECT p.query_id, l.vec_id
      FROM iprobes14 p JOIN lists l USING (centroid_id)
      WHERE l.vec_id <> p.query_id
    ),
    {rerank("icand14", "itop14").lstrip()},
    pqel AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    st AS (SELECT pos, MIN(v) AS mn, MAX(v) AS mx FROM pqel GROUP BY pos),
    qv AS (
      SELECT vec_id,
             pos,
             CASE WHEN mx > mn
                  THEN CAST(floor((v - mn) * 255.0 / (mx - mn) + 0.5) AS INT) - 128
                  ELSE 0 END AS q
      FROM pqel JOIN st USING (pos)
    ),
    dims AS (SELECT CAST(MAX(pos) AS INTEGER) AS d FROM qv),
    picked AS (
      SELECT vec_id AS cb_vec,
             ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC,
                                vec_id ASC) - 1 AS code_id
      FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT 16
    ),
    cb AS (
      SELECT p.code_id, CAST((q.pos - 1) AS INTEGER) // (d // 8) AS sub,
             q.pos, q.q AS cq
      FROM picked p JOIN qv q ON q.vec_id = p.cb_vec CROSS JOIN dims
    ),
    dist AS (
      SELECT v.vec_id, c.sub, c.code_id,
             SUM(CAST(v.q - c.cq AS BIGINT) * (v.q - c.cq)) AS dist
      FROM qv v JOIN cb c ON v.pos = c.pos
      GROUP BY 1, 2, 3
    ),
    enc AS (
      SELECT vec_id, sub, code_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                     ORDER BY dist ASC, code_id ASC) AS r
        FROM dist
      ) WHERE r = 1
    ),
    pqadc AS (
      SELECT c.query_id, c.vec_id, CAST(SUM(d.dist) AS BIGINT) AS approx_sqdist
      FROM (SELECT DISTINCT query_id, vec_id FROM icand) c
      JOIN enc e ON e.vec_id = c.vec_id
      JOIN dist d ON d.vec_id = c.query_id AND d.sub = e.sub AND d.code_id = e.code_id
      GROUP BY 1, 2
    ),
    pqtop AS (
      SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY approx_sqdist ASC, vec_id ASC) AS rank
        FROM pqadc
      ) WHERE rank <= 10
    ),
    pqshort AS (
      SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY approx_sqdist ASC, vec_id ASC) AS rank
        FROM pqadc
      ) WHERE rank <= 400
    ),
    {rerank("pqshort", "pqrtop").lstrip()}
    {_recall_block_sql("lsh", "ltop")}
    UNION ALL {_recall_block_sql("lsh_multiprobe", "mtop")}
    UNION ALL {_recall_block_sql("ivf", "itop")}
    UNION ALL {_recall_block_sql("ivf_nprobe12", "itop12")}
    UNION ALL {_recall_block_sql("ivf_nprobe14", "itop14")}
    UNION ALL {_recall_block_sql("ivfpq_nprobe4", "pqtop")}
    UNION ALL {_recall_block_sql("ivfpq_rerank_nprobe4", "pqrtop")}
    """


@q("ann_recall_report", _ann_recall_oracle())
def ann_recall_report(spark):
    """ANN index QUALITY measured in the engine: recall@10 of every ANN
    variant (single-bucket LSH, multiprobe LSH, IVF at nprobe 4/12/14)
    vs exact brute force over the same queries — the tuning report an
    operator reads before trusting an approximate index at corpus scale.
    On this synthetic corpus it shows both why the variants exist AND
    the knob that reaches production quality (VERDICT r6 #4 / r7 #3):
    8-plane single-bucket LSH recalls ~0, multiprobe a little, IVF
    nprobe=4 ~0.5, and the nprobe sweep climbs to >=0.9 at nprobe=12 and
    ~0.98 at nprobe=14 of 16 lists — recall is a dial, paid for in
    probed-list fraction, measured rather than asserted. (The
    COMPRESSED path was measured too: int8 PQ-rerank plateaus at ~0.74
    recall@10 vs the float baseline on this corpus even at
    shortlist=400, because uniform-random vectors leave near-tied
    similarity margins that int8 rerank noise flips — real embedding
    distributions have wider margins; the IVF rows are the
    production-recall demonstration here.) Per-query recall is
    micro-quantized before averaging so the aggregate hash-matches."""
    emb = spark.table("embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    from muninn_avro_to_parquet_spark.operators.cacheutil import cache_scoped

    exact = similarity.cosine_topk(emb, qs, k=10).select("query_id", "vec_id")
    # scoped cache, not bare persist(): a bare persist leaked one cached
    # relation per invocation (ADVICE r6)
    exact = cache_scoped(exact, "ann_recall_exact")
    # ONE shared index for every list-pruned method (r11): the three
    # IVF rows used to rebuild centroids + corpus lists each
    # (ann_topk_ivf is one-shot), and the new ivfpq row would have made
    # it a 4th build — ivfflat_search/ivfpq_search over a single
    # ivfpq_index return bit-identical results (proven in
    # tests/test_layout.py) while the lists/codes materialize once.
    # Pinned to the pre-r13 small config (k=16, unrefined, lazy
    # Catalyst build): this entry's oracle encodes THESE recall rows;
    # the k=256 refined production default is oracle-checked by
    # ann_topk_ivfpq / ann_ivfpq_index_search.
    idx = similarity.ivfpq_index(
        emb, n_centroids=16, m=8, k=16, refine_rounds=0, encoder="catalyst"
    )
    methods = {
        "lsh": similarity.ann_topk_lsh(emb, qs, dim=64, k=10),
        "lsh_multiprobe": similarity.ann_topk_lsh_multiprobe(
            emb, qs, dim=64, k=10
        ),
        "ivf": similarity.ivfflat_search(
            idx, emb, F.col("vec_id") < 5, nprobe=4, top_k=10
        ),
        "ivf_nprobe12": similarity.ivfflat_search(
            idx, emb, F.col("vec_id") < 5, nprobe=12, top_k=10
        ),
        "ivf_nprobe14": similarity.ivfflat_search(
            idx, emb, F.col("vec_id") < 5, nprobe=14, top_k=10
        ),
        # the COMPRESSED path's recall rows: raw ADC (rerank=False —
        # the gap between this row and "ivf" is exactly what 4-byte
        # codes cost in recall on this corpus) and the r12 DEFAULT
        # path, whose ADC shortlist re-ranks against the stored
        # vectors and recovers the loss
        "ivfpq_nprobe4": similarity.ivfpq_search(
            idx, emb, F.col("vec_id") < 5, nprobe=4, top_k=10, rerank=False
        ),
        "ivfpq_rerank_nprobe4": similarity.ivfpq_search(
            idx, emb, F.col("vec_id") < 5, nprobe=4, top_k=10
        ),
    }
    # ONE join + ONE aggregate over the union of all method hit-sets
    # (r13, verdict #2): the per-method join+agg subtrees made this the
    # most job-heavy entry in the registry (85 AQE jobs measured — at
    # the 132 ms/job floor that is ~11 s of pure scheduling for a
    # 24-row result). Tag each method's (query, hit) pairs, union once,
    # join exact once, aggregate per (method, query) then per method —
    # values identical, subtree count collapsed.
    spark = emb.sparkSession
    tagged = None
    for name, top in methods.items():
        t = top.select(
            F.lit(name).alias("method"), "query_id", "vec_id"
        )
        tagged = t if tagged is None else tagged.unionByName(t)
    n_ex = exact.groupBy("query_id").agg(F.count("*").alias("n_exact"))
    hits = (
        tagged.join(exact, ["query_id", "vec_id"])
        .groupBy("method", "query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    grid = n_ex.crossJoin(
        F.broadcast(
            spark.createDataFrame([(m,) for m in methods], "method string")
        )
    )
    rec = grid.join(hits, ["method", "query_id"], "left").select(
        "method",
        (
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
            / F.col("n_exact").cast("double")
        ).alias("r"),
    )
    return rec.groupBy("method").agg(
        F.count("*").cast("long").alias("n_queries"),
        F.round(
            F.sum(F.round(F.col("r") * 1000000).cast("long")).cast("double")
            / (F.count("*") * 1000000.0),
            6,
        ).alias("avg_recall"),
        F.round(F.min("r"), 6).alias("min_recall"),
    )


def _ann_lsh_multiprobe_oracle() -> str:
    # identical pipeline to _ann_lsh_oracle, except the query side probes
    # its own bucket plus every single-bit flip (the same variant SQL the
    # Spark operator uses — substring/concat/case are engine-portable)
    variants = similarity._probe_variants_sql(num_planes=8).removeprefix("array(").removesuffix(")")
    return f"""
    WITH {_EMB_EL}, {_lsh_buckets_sql(num_planes=8)},
    probes AS (
      SELECT vec_id, unnest([{variants}]) AS bucket
      FROM buckets WHERE vec_id < 5
    ),
    cand AS (
      SELECT q.vec_id AS query_id, c.vec_id
      FROM probes q JOIN buckets c USING (bucket)
      WHERE c.vec_id <> q.vec_id
    ),
    dots AS (
      SELECT cd.query_id, cd.vec_id, CAST(SUM(a.x * b.x) AS DOUBLE) AS dot
      FROM cand cd
      JOIN el a ON a.vec_id = cd.query_id
      JOIN el b ON b.vec_id = cd.vec_id AND b.i = a.i
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, d.vec_id, dot / (nq.nrm * nc.nrm) AS cosine_sim
      FROM dots d
      JOIN norms nq ON d.query_id = nq.vec_id
      JOIN norms nc ON d.vec_id = nc.vec_id
    )
    SELECT * FROM (
      SELECT query_id, vec_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 10
    """


@q("ann_topk_lsh_multiprobe", _ann_lsh_multiprobe_oracle())
def ann_topk_lsh_multiprobe(spark):
    """Multiprobe LSH: recall/cost knob that probes the H single-bit-flip
    neighbor buckets on the query side only — the corpus index is
    untouched (similarity.ann_topk_lsh_multiprobe)."""
    emb = spark.table("embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return similarity.ann_topk_lsh_multiprobe(emb, queries_df, dim=64, k=10)


@q(
    "text_token_count",
    f"""
    SELECT doc_id,
           len({_SQL_TOKENS}) AS n_tokens,
           len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9 \t\n\x0B\f\r]')) AS n_pieces,
           length(text) AS n_chars_actual
    FROM documents
    """,
)
def text_token_count(spark):
    d = spark.table("documents")
    return d.select(
        "doc_id",
        text.token_count(F.col("text")).alias("n_tokens"),
        text.bpe_ish_piece_count(F.col("text")).alias("n_pieces"),
        F.length("text").alias("n_chars_actual"),
    )


@q(
    "text_quality",
    f"""
    WITH base AS (
      SELECT doc_id, text, {_SQL_TOKENS} AS toks, length(text) AS nc FROM documents
    ),
    feat AS (
      SELECT doc_id, len(toks) AS n_tokens,
        CASE WHEN len(toks) > 0
             THEN CAST(nc - len(toks) + 1 AS DOUBLE) / CAST(len(toks) AS DOUBLE)
             ELSE 0.0 END AS avg_word_len,
        CAST(len([t for t in toks if t IN ('the','and','of','to','a','in','is','that','for','it')]) AS DOUBLE)
          / CAST(greatest(len(toks), 1) AS DOUBLE) AS stopword_ratio,
        CAST(length(regexp_replace(text, '[a-zA-Z0-9 \t\n\x0B\f\r]', '', 'g')) AS DOUBLE)
          / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio
      FROM base
    )
    SELECT doc_id, n_tokens, avg_word_len, stopword_ratio, punct_ratio,
           (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 0.5 ELSE 0.0 END
            + CASE WHEN stopword_ratio > 0.01 AND stopword_ratio < 0.6 THEN 0.3 ELSE 0.0 END
            + CASE WHEN punct_ratio < 0.2 THEN 0.2 ELSE 0.0 END) AS quality_score
    FROM feat
    """,
)
def text_quality(spark):
    d = spark.table("documents")
    return text.quality_features(d).select(
        "doc_id", "n_tokens", "avg_word_len", "stopword_ratio", "punct_ratio", "quality_score"
    )


def _langid_oracle() -> str:
    from muninn_avro_to_parquet_spark.operators.text import LANG_STOPWORDS

    score_cols = []
    for lang in sorted(LANG_STOPWORDS):
        words = ",".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
        score_cols.append(f"len([t for t in toks if t IN ({words})]) AS score_{lang}")
    langs = sorted(LANG_STOPWORDS)
    mx = f"greatest({', '.join('score_' + c for c in langs)})"
    pick = " ".join(f"WHEN score_{c} = mx THEN '{c}'" for c in langs)
    return f"""
    WITH base AS (SELECT doc_id, lang, {_SQL_TOKENS} AS toks FROM documents),
    scored AS (SELECT doc_id, lang, {", ".join(score_cols)} FROM base),
    m AS (SELECT *, {mx} AS mx FROM scored)
    SELECT doc_id, lang, {", ".join('score_' + c for c in langs)},
           CASE WHEN mx = 0 THEN 'und' ELSE CASE {pick} END END AS detected_lang
    FROM m
    """


@q("text_langid", _langid_oracle())
def text_langid(spark):
    d = spark.table("documents").select("doc_id", "lang", "text")
    return text.detect_language(d).drop("text")


@q(
    "doc_fingerprint",
    f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents)
    SELECT doc_id,
           CASE WHEN len(t) >= 2 THEN
             list_min([md5(t[i] || ' ' || t[i+1]) for i in range(1, len(t))])
           ELSE NULL END AS fingerprint
    FROM toks
    """,
)
def doc_fingerprint(spark):
    return text.fingerprint(spark.table("documents"), "doc_id", "text", ngram=2)


@q(
    "multimodal_meta",
    """
    SELECT doc_id, 'blob' AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS sha256
    FROM documents
    """,
)
def multimodal_meta(spark):
    d = spark.table("documents")
    return multimodal.attach_binary(d).select(
        "doc_id",
        F.col("media_meta.media_type").alias("media_type"),
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.col("media_meta.sha256").alias("sha256"),
    )


_BINARY_FIXTURE_DIR = os.path.join(os.path.dirname(__file__), "fixtures", "binary")
# (file_name, n_bytes, md5, width, height, round(mean_luma, 6)) for the
# committed BMP fixtures — regenerate with the block in the fixtures'
# git history if the images ever change
_BINARY_GROUND_TRUTH = [
    ("img_00.bmp", 90, "48e610ccb5f59ff8d0725c0a61089a83", 4, 3, 0.2763),
    ("img_01.bmp", 174, "7f4b9415a6a79f4faff3b51c9090b1a7", 7, 5, 0.568403),
    ("img_02.bmp", 58, "8940e1853bede4d33405a8ef4dc7a33d", 1, 1, 0.299),
    ("img_03.bmp", 150, "7a9568ec895e34002d9b0b42aadb7fe1", 16, 2, 0.470588),
    ("img_04.bmp", 182, "feaf3af065062d3422088b73d781dec9", 5, 8, 0.444029),
]


def _binary_ingest_oracle() -> str:
    # DuckDB independently lists + stats the same fixture directory
    # (read_blob) and joins on (file_name, n_bytes); the content hash and
    # decoded features come from the generated ground truth because
    # DuckDB 1.0 has no BLOB hash function. A missing/changed file breaks
    # the join → row-count mismatch.
    vals = ",".join(
        f"('{n}',{s},'{m}',{w},{h},CAST({l} AS DOUBLE))"
        for n, s, m, w, h, l in _BINARY_GROUND_TRUTH
    )
    return f"""
    WITH expected(file_name, n_bytes, content_md5, width, height, mean_luma)
      AS (VALUES {vals}),
    blobs AS (
      SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
             CAST(size AS BIGINT) AS n_bytes
      FROM read_blob('{_BINARY_FIXTURE_DIR}/*.bmp')
    )
    SELECT file_name, n_bytes, content_md5, width, height, mean_luma
    FROM expected JOIN blobs USING (file_name, n_bytes)
    """


@q("multimodal_binary_ingest", _binary_ingest_oracle())
def multimodal_binary_ingest(spark):
    """binaryFile directory ingest → real BMP decode: one row per media
    file with listing metadata, content hash, and decoded image features
    (``sources/formats.read_binary_dir`` feeding
    ``multimodal.decode_images``). The oracle assumes the stdlib BMP
    decoder (this image has no Pillow); luma is rounded to 6 places."""
    from muninn_avro_to_parquet_spark.sources import formats

    raw = formats.read_binary_dir(spark, _BINARY_FIXTURE_DIR, glob_filter="*.bmp")
    meta = raw.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.col("length").cast("long").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
        F.col("content"),
    )
    feats = multimodal.decode_images(meta, id_col="file_name", media_col="content")
    return (
        meta.drop("content")
        .join(feats, "file_name")
        .select(
            "file_name",
            "n_bytes",
            "content_md5",
            "width",
            "height",
            F.round(F.col("mean_luma"), 6).alias("mean_luma"),
        )
    )


# (file_name, n_bytes, md5, width, height, round(mean_luma, 6)) for the
# committed JPEG fixtures: jimg_00 = own encoder 4:4:4 q90;
# jimg_01 = own encoder q80 WITH restart markers, non-multiple-of-8 dims;
# jimg_02 = encoded by the JVM's javax.imageio (independent encoder,
# 4:2:0 subsampling — exercises the decoder's chroma upsample path);
# jimg_03 = ImageIO PROGRESSIVE encoding (SOF2, multi-scan successive
# approximation — exercises the r10 progressive path, non-multiple-of-8
# dims). Regenerate with the block in the fixtures' git history.
_JPEG_GROUND_TRUTH = [
    ("jimg_00.jpg", 753, "35e19da66fce62fb4456f2144ca683a8", 24, 16, 0.478217),
    ("jimg_01.jpg", 812, "df01634240c7d0321603ffbe1de8c0f4", 33, 17, 0.494747),
    ("jimg_02.jpg", 684, "c6950871494f7cb6c04e85c49de7fd4d", 20, 12, 0.44415),
    ("jimg_03.jpg", 934, "9fdee0a541ec79119920020d1bd8ac3d", 29, 18, 0.471137),
]


def _jpeg_ingest_oracle() -> str:
    vals = ",".join(
        f"('{n}',{s},'{m}',{w},{h},CAST({l} AS DOUBLE))"
        for n, s, m, w, h, l in _JPEG_GROUND_TRUTH
    )
    return f"""
    WITH expected(file_name, n_bytes, content_md5, width, height, mean_luma)
      AS (VALUES {vals}),
    blobs AS (
      SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
             CAST(size AS BIGINT) AS n_bytes
      FROM read_blob('{_BINARY_FIXTURE_DIR}/*.jpg')
    )
    SELECT file_name, n_bytes, content_md5, width, height, mean_luma
    FROM expected JOIN blobs USING (file_name, n_bytes)
    """


@q("multimodal_jpeg_ingest", _jpeg_ingest_oracle())
def multimodal_jpeg_ingest(spark):
    """binaryFile ingest → REAL baseline-JPEG decode with the engine's own
    stdlib codec (operators/jpeg — Huffman + dequant + IDCT + chroma
    upsample, baseline AND progressive, ImageIO-cross-validated): one row per .jpg fixture with
    exact bytes/hash and decoded (width, height, mean_luma). The fixture
    set deliberately mixes our 4:4:4 output, a restart-marker stream with
    non-multiple-of-8 dimensions, an independently encoded 4:2:0 file,
    and (r10) an ImageIO PROGRESSIVE stream, so the oracle pins all four
    decode paths."""
    from muninn_avro_to_parquet_spark.sources import formats

    raw = formats.read_binary_dir(spark, _BINARY_FIXTURE_DIR, glob_filter="*.jpg")
    meta = raw.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.col("length").cast("long").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
        F.col("content"),
    )
    feats = multimodal.decode_images(meta, id_col="file_name", media_col="content")
    return (
        meta.drop("content")
        .join(feats, "file_name")
        .select(
            "file_name",
            "n_bytes",
            "content_md5",
            "width",
            "height",
            F.round(F.col("mean_luma"), 6).alias("mean_luma"),
        )
    )


# (file_name, src_w, src_h, out_w, out_h, out_bytes, out_md5, round(luma, 6))
# for the committed BMP fixtures resized to fit 3x3 — regenerated alongside
# _BINARY_GROUND_TRUTH; the md5 cross-checked against the independent
# aggregate PPM decoder at generation time
_RESIZE_GROUND_TRUTH = [
    ("img_00.bmp", 4, 3, 3, 2, 29, "84f41831503802fce0555550f4fd090b", 0.366208),
    ("img_01.bmp", 7, 5, 3, 2, 29, "0925d5cee08c9e99f7c7dbe79884cae2", 0.501918),
    ("img_02.bmp", 1, 1, 1, 1, 14, "090fda8eff74b8fbbf3e9e8564cdb274", 0.299),
    ("img_03.bmp", 16, 2, 3, 1, 20, "d2528b7fc35811cc5e0218688185340f", 0.313725),
    ("img_04.bmp", 5, 8, 1, 3, 20, "086ed5af07caa23b9f839da84bb1ad77", 0.196209),
]


_DHASH_GROUND_TRUTH = [
    ("img_00.bmp", 4, 3, "2828282828282828"),
    ("img_01.bmp", 7, 5, "7676767676767676"),
    ("img_02.bmp", 1, 1, "0000000000000000"),
    ("img_03.bmp", 16, 2, "ffffffffffffffff"),
    ("img_04.bmp", 5, 8, "5555555555555555"),
]


def _dhash_oracle() -> str:
    # same fixture-ground-truth discipline as _resize_oracle: DuckDB lists
    # the directory independently (missing file → row-count mismatch), the
    # hashes are generated literals, and the Spark side recomputes them
    # from pixels — decoder or kernel drift shows up as a hash mismatch
    vals = ",".join(
        f"('{n}',{w},{h},'{d}')" for n, w, h, d in _DHASH_GROUND_TRUTH
    )
    return f"""
    WITH expected(file_name, src_width, src_height, dhash) AS (VALUES {vals}),
    blobs AS (
      SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name
      FROM read_blob('{_BINARY_FIXTURE_DIR}/*.bmp')
    )
    SELECT file_name, src_width, src_height, dhash
    FROM expected JOIN blobs USING (file_name)
    """


@q("multimodal_dhash", _dhash_oracle())
def multimodal_dhash(spark):
    """Perceptual difference-hash per image (multimodal.dhash_images):
    decode → 9×8 integer-luma resample → horizontal gradient bits — the
    visual near-dup key (robust to re-encode/scale, pairable by Hamming
    distance where md5 only catches byte-identical copies). All-integer,
    so the 64-bit hash is engine- and platform-exact; oracle =
    fixture-ground-truth literals the Spark side must recompute from
    pixels."""
    from muninn_avro_to_parquet_spark.sources import formats

    raw = formats.read_binary_dir(spark, _BINARY_FIXTURE_DIR, glob_filter="*.bmp")
    meta = raw.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.col("content"),
    )
    return multimodal.dhash_images(
        meta, id_col="file_name", media_col="content"
    ).select("file_name", "src_width", "src_height", "dhash")


_AHASH_GROUND_TRUTH = [
    ("aud_00.wav", 16000, 0.5, "fffffffffffffffe"),
    ("aud_01.wav", 16000, 0.5, "1e1e1e1e1e1e1e1e"),
    ("aud_02.wav", 16000, 0.5, "0000000000000000"),
]


def _ahash_oracle() -> str:
    vals = ",".join(
        f"('{n}',{r},CAST({d} AS DOUBLE),'{h}')"
        for n, r, d, h in _AHASH_GROUND_TRUTH
    )
    return f"""
    WITH expected(file_name, sample_rate, duration_s, ahash) AS (VALUES {vals}),
    blobs AS (
      SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name
      FROM read_blob('{_BINARY_FIXTURE_DIR}/*.wav')
    )
    SELECT file_name, sample_rate, duration_s, ahash
    FROM expected JOIN blobs USING (file_name)
    """


@q("multimodal_ahash", _ahash_oracle())
def multimodal_ahash(spark):
    """Audio energy-gradient hash per clip (multimodal.ahash_audio): PCM
    decode → 64 integer mean-|amplitude| windows → louder-than-previous
    bits — the audio near-dup key, the WAV analogue of multimodal_dhash.
    All-integer window energies make the 64-bit hash engine- and
    platform-exact; oracle = fixture-ground-truth literals the Spark side
    recomputes from samples."""
    from muninn_avro_to_parquet_spark.sources import formats

    raw = formats.read_binary_dir(spark, _BINARY_FIXTURE_DIR, glob_filter="*.wav")
    meta = raw.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.col("content"),
    )
    return multimodal.ahash_audio(
        meta, id_col="file_name", media_col="content"
    ).select("file_name", "sample_rate", "duration_s", "ahash")


def _resize_oracle() -> str:
    # DuckDB cannot decode BMP; like _binary_ingest_oracle it independently
    # lists the fixture directory (a missing/renamed file breaks the join →
    # row-count mismatch) while the resized dims/bytes/md5/luma come from
    # generated ground truth. The SPARK side recomputes them from pixels, so
    # a changed fixture or resize-kernel drift shows up as a hash mismatch.
    vals = ",".join(
        f"('{n}',{sw},{sh},{w},{h},{b},'{m}',CAST({l} AS DOUBLE))"
        for n, sw, sh, w, h, b, m, l in _RESIZE_GROUND_TRUTH
    )
    return f"""
    WITH expected(file_name, src_width, src_height, width, height, n_bytes,
                  content_md5, mean_luma) AS (VALUES {vals}),
    blobs AS (
      SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name
      FROM read_blob('{_BINARY_FIXTURE_DIR}/*.bmp')
    )
    SELECT file_name, src_width, src_height, width, height, n_bytes,
           content_md5, mean_luma
    FROM expected JOIN blobs USING (file_name)
    """


@q("multimodal_resize", _resize_oracle())
def multimodal_resize(spark):
    """Real image resize: binaryFile ingest → BMP pixel decode →
    fit-within-3x3 nearest-neighbor downsample → deterministic P6
    re-encode (``multimodal.resize_images``). Output rows carry the
    resized payload's dims, byte count, md5, and mean luma — all
    recomputed from pixels on the Spark side, ground-truth on the oracle
    side. Completes the spec's multimodal quartet
    (decode / feature-extract / RESIZE / frame-sample)."""
    from muninn_avro_to_parquet_spark.sources import formats

    raw = formats.read_binary_dir(spark, _BINARY_FIXTURE_DIR, glob_filter="*.bmp")
    meta = raw.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.col("content"),
    )
    out = multimodal.resize_images(meta, max_w=3, max_h=3, id_col="file_name", media_col="content")
    return out.select(
        "file_name",
        "src_width",
        "src_height",
        "width",
        "height",
        "n_bytes",
        "content_md5",
        F.round(F.col("mean_luma"), 6).alias("mean_luma"),
    )


# ---------------------------------------------------------------------------
# event-time windows (same functions serve readStream — tests/test_streaming)
# ---------------------------------------------------------------------------


@q(
    "q_tumbling_events",
    """
    SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def q_tumbling_events(spark):
    from muninn_avro_to_parquet_spark.streaming import windows

    return windows.tumbling_counts(spark.table("events"), "ts", "1 hour").select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
    )


@q(
    "q_sliding_events",
    """
    WITH b AS (
      SELECT event_type, time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP)) AS bkt
      FROM events
    ),
    w AS (
      SELECT event_type, unnest([bkt, bkt - INTERVAL 30 MINUTE]) AS w_start FROM b
    )
    SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, COUNT(*) AS n_events
    FROM w GROUP BY 1, 2
    """,
)
def q_sliding_events(spark):
    from muninn_avro_to_parquet_spark.streaming import windows

    return windows.sliding_counts(
        spark.table("events"), "ts", "1 hour", "30 minutes"
    ).select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
    )


@q(
    "q_session_events",
    """
    WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE user_id <= 40),
    g AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
    ),
    s AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM g
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def q_session_events(spark):
    from muninn_avro_to_parquet_spark.streaming import windows

    ev = spark.table("events").filter(F.col("user_id") <= 40)
    return windows.session_counts(ev, "ts", "30 minutes", keys=("user_id",)).select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# multimodal feature extraction (deterministic-fake decode over mapInPandas)
# ---------------------------------------------------------------------------

# DuckDB: i-th byte (0-based) of a sha256 hex digest as an integer
def _sql_hexbyte(i: int) -> str:
    return (
        f"((strpos('0123456789abcdef', substr(h, {2 * i + 1}, 1)) - 1) * 16"
        f" + (strpos('0123456789abcdef', substr(h, {2 * i + 2}, 1)) - 1))"
    )


@q(
    "multimodal_image_features",
    f"""
    WITH m AS (SELECT doc_id, sha256(text) AS h FROM documents)
    SELECT doc_id,
           CAST(64 + {_sql_hexbyte(0)} % 192 AS INT) AS width,
           CAST(64 + {_sql_hexbyte(1)} % 192 AS INT) AS height,
           CAST({_sql_hexbyte(2)} AS DOUBLE) / 255.0 AS mean_luma
    FROM m
    """,
)
def multimodal_image_features(spark):
    d = multimodal.attach_binary(spark.table("documents"))
    return multimodal.decode_images(d, deterministic_fake=True)


@q(
    "multimodal_audio_features",
    f"""
    WITH m AS (SELECT doc_id, octet_length(encode(text)) AS nb,
                      sha256(text) AS h FROM documents)
    SELECT doc_id,
           CAST(([8000, 16000, 22050, 44100])[{_sql_hexbyte(0)} % 4 + 1] AS INT) AS sample_rate,
           CAST(nb AS DOUBLE) / 1024.0 AS duration_s,
           CAST({_sql_hexbyte(3)} AS DOUBLE) / 255.0 AS rms
    FROM m
    """,
)
def multimodal_audio_features(spark):
    d = multimodal.attach_binary(spark.table("documents"))
    return multimodal.decode_audio(d, deterministic_fake=True)


_PAIRS_FIXTURE_DIR = os.path.join(
    os.path.dirname(__file__), "fixtures", "binary_pairs"
)
# (file_name, n_bytes, dhash) for the committed visual-near-dup fixtures:
# pair_00 (9x8 gradient) and pair_01 (the SAME pattern at 2x size,
# different bytes) hash identically — the perceptual point; pair_02
# reverses the last row (8 bits away); pair_03 is a checkerboard
_PAIR_GROUND_TRUTH = [
    ("pair_00.bmp", 278, "ffffffffffffffff"),
    ("pair_01.bmp", 950, "ffffffffffffffff"),
    ("pair_02.bmp", 278, "ffffffffffffff00"),
    ("pair_03.bmp", 278, "aa55aa55aa55aa55"),
]


def _visual_near_dup_oracle() -> str:
    # the hash literals are pixel-anchored by the same discipline as
    # _dhash_oracle; the PAIRING logic (banding, exact Hamming over two
    # 32-bit halves) is genuinely recomputed in SQL
    vals = ",".join(
        f"('{n}',{s},'{h}')" for n, s, h in _PAIR_GROUND_TRUTH
    )
    def half(col, off):
        return f"CAST(('0x' || substr({col}, {off}, 8)) AS BIGINT)"
    return f"""
    WITH expected(file_name, n_bytes, dhash) AS (VALUES {vals}),
    blobs AS (
      SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
             CAST(size AS BIGINT) AS n_bytes
      FROM read_blob('{_PAIRS_FIXTURE_DIR}/*.bmp')
    ),
    hs AS (
      SELECT e.file_name, e.dhash FROM expected e JOIN blobs b
      USING (file_name, n_bytes)
    ),
    banded AS (
      SELECT file_name, dhash, i AS band_idx,
             substr(dhash, i * 4 + 1, 4) AS band_val
      FROM hs, (SELECT unnest([0, 1, 2, 3]) AS i)
    ),
    cand AS (
      SELECT DISTINCT a.file_name AS id_a, b.file_name AS id_b,
             a.dhash AS ha, b.dhash AS hb
      FROM banded a JOIN banded b USING (band_idx, band_val)
      WHERE a.file_name < b.file_name
    )
    SELECT id_a, id_b, hamming FROM (
      SELECT id_a, id_b,
             CAST(bit_count(xor({half('ha', 1)}, {half('hb', 1)}))
                + bit_count(xor({half('ha', 9)}, {half('hb', 9)})) AS INT)
               AS hamming
      FROM cand
    ) WHERE hamming <= 10
    """


@q("multimodal_visual_near_dup", _visual_near_dup_oracle())
def multimodal_visual_near_dup(spark):
    """Visual near-duplicate pairs (multimodal.dhash_near_dup_pairs):
    dhash each fixture image from PIXELS executor-side, band the hash,
    equi-join on band collisions, exact integer Hamming filter. The
    planted set proves the perceptual property end-to-end: pair_01 is
    pair_00's pattern at 2x size — different bytes, different md5, same
    dhash, Hamming 0 — and the last-row edit sits 8 bits away while the
    checkerboard never pairs. Oracle recomputes banding + Hamming in SQL
    from pixel-anchored hash literals."""
    from muninn_avro_to_parquet_spark.sources import formats

    raw = formats.read_binary_dir(spark, _PAIRS_FIXTURE_DIR, glob_filter="*.bmp")
    meta = raw.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.col("content"),
    )
    return multimodal.dhash_near_dup_pairs(
        meta, id_col="file_name", media_col="content", bands=4, max_hamming=10
    )


# (file_name, n_bytes, ahash) for the audio near-dup fixtures:
# aud_pair_01 is the SAME amplitude ramp at HALF the sample rate —
# different bytes, identical energy curve, identical hash; aud_pair_02
# dips three windows (4 bits away); aud_pair_03 alternates loud/quiet
_AUDIO_PAIR_GROUND_TRUTH = [
    ("aud_pair_00.wav", 16044, "fffffffffffffffe"),
    ("aud_pair_01.wav", 8044, "fffffffffffffffe"),
    ("aud_pair_02.wav", 16044, "ffffe7fffefffffe"),
    ("aud_pair_03.wav", 16044, "5555555555555555"),
]


def _audio_near_dup_oracle() -> str:
    vals = ",".join(
        f"('{n}',{s},'{h}')" for n, s, h in _AUDIO_PAIR_GROUND_TRUTH
    )
    def half(col, off):
        return f"CAST(('0x' || substr({col}, {off}, 8)) AS BIGINT)"
    return f"""
    WITH expected(file_name, n_bytes, ahash) AS (VALUES {vals}),
    blobs AS (
      SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
             CAST(size AS BIGINT) AS n_bytes
      FROM read_blob('{_PAIRS_FIXTURE_DIR}/*.wav')
    ),
    hs AS (
      SELECT e.file_name, e.ahash FROM expected e JOIN blobs b
      USING (file_name, n_bytes)
    ),
    banded AS (
      SELECT file_name, ahash, i AS band_idx,
             substr(ahash, i * 4 + 1, 4) AS band_val
      FROM hs, (SELECT unnest([0, 1, 2, 3]) AS i)
    ),
    cand AS (
      SELECT DISTINCT a.file_name AS id_a, b.file_name AS id_b,
             a.ahash AS ha, b.ahash AS hb
      FROM banded a JOIN banded b USING (band_idx, band_val)
      WHERE a.file_name < b.file_name
    )
    SELECT id_a, id_b, hamming FROM (
      SELECT id_a, id_b,
             CAST(bit_count(xor({half('ha', 1)}, {half('hb', 1)}))
                + bit_count(xor({half('ha', 9)}, {half('hb', 9)})) AS INT)
               AS hamming
      FROM cand
    ) WHERE hamming <= 10
    """


@q("multimodal_audio_near_dup", _audio_near_dup_oracle())
def multimodal_audio_near_dup(spark):
    """Audio near-duplicate pairs (multimodal.ahash_near_dup_pairs, the
    shared hamming_hash_pairs machinery over the energy-gradient hash):
    the same amplitude ramp at half the sample rate hashes identically
    (Hamming 0 across different byte streams), a three-window dip sits
    4 bits away, the alternating clip never pairs."""
    from muninn_avro_to_parquet_spark.sources import formats

    raw = formats.read_binary_dir(spark, _PAIRS_FIXTURE_DIR, glob_filter="*.wav")
    meta = raw.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.col("content"),
    )
    return multimodal.ahash_near_dup_pairs(
        meta, id_col="file_name", media_col="content", bands=4, max_hamming=10
    )


# (file_name, n_bytes, frame_index, width, height, round(mean_luma, 6))
# for the committed uncompressed-AVI fixtures at every_n=2 — regenerate
# with multimodal.encode_avi/_decode_avi_frames if the videos change
_VIDEO_GROUND_TRUTH = [
    ("vid_00.avi", 664, 0, 6, 4, 0.127098),
    ("vid_00.avi", 664, 2, 6, 4, 0.472196),
    ("vid_00.avi", 664, 4, 6, 4, 0.817294),
    ("vid_01.avi", 576, 0, 3, 3, 0.065349),
    ("vid_01.avi", 576, 2, 3, 3, 0.410447),
    ("vid_01.avi", 576, 4, 3, 3, 0.755545),
    ("vid_01.avi", 576, 6, 3, 3, 0.511341),
    ("vid_02.avi", 440, 0, 10, 2, 0.148973),
    ("vid_02.avi", 440, 2, 10, 2, 0.494071),
    # vid_03 = MJPEG-in-AVI (r11): 4 javax.imageio-encoded JPEG frames
    # in 00dc chunks, frame 2 DHT-STRIPPED (OpenDML abbreviated stream,
    # Annex K standard-table fallback) — dims come from each frame's
    # SOF via the engine's own vectorized JPEG decoder
    ("vid_03.avi", 2604, 0, 12, 10, 0.440621),
    ("vid_03.avi", 2604, 2, 12, 10, 0.458366),
]


def _video_frames_oracle() -> str:
    # DuckDB independently lists the fixture directory (read_blob) and
    # joins the decoded ground truth on (file_name, n_bytes): a missing
    # or changed video breaks the join → row-count mismatch, and the
    # Spark side must recompute every luma from actual pixels
    vals = ",".join(
        f"('{n}',{s},{i},{w},{h},CAST({l} AS DOUBLE))"
        for n, s, i, w, h, l in _VIDEO_GROUND_TRUTH
    )
    return f"""
    WITH expected(file_name, n_bytes, frame_index, width, height, mean_luma)
      AS (VALUES {vals}),
    blobs AS (
      SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
             CAST(size AS BIGINT) AS n_bytes
      FROM read_blob('{_BINARY_FIXTURE_DIR}/*.avi')
    )
    SELECT e.file_name, e.frame_index, e.width, e.height, e.mean_luma
    FROM expected e JOIN blobs b USING (file_name, n_bytes)
    """


@q("multimodal_video_frames", _video_frames_oracle())
def multimodal_video_frames(spark):
    """REAL video frame sampling (multimodal.decode_video_frames):
    AVI fixtures decode executor-side at every_n=2 — uncompressed DIB
    frames (RIFF walk → BGR24 → BT.601 mean luma) and, r11, MJPEG
    ``00dc`` frames through the engine's own vectorized JPEG decoder
    (incl. a DHT-stripped abbreviated frame riding the Annex K
    standard-table fallback). Oracle = fixture ground truth joined
    against DuckDB's independent directory listing (the dhash/ahash
    pattern)."""
    from muninn_avro_to_parquet_spark.sources import formats

    raw = formats.read_binary_dir(spark, _BINARY_FIXTURE_DIR, glob_filter="*.avi")
    meta = raw.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.col("content"),
    )
    out = multimodal.decode_video_frames(
        meta, id_col="file_name", media_col="content", every_n=2
    )
    return out.select(
        "file_name",
        "frame_index",
        "width",
        "height",
        F.round(F.col("mean_luma"), 6).alias("mean_luma"),
    )


@q(
    "multimodal_frame_plan",
    """
    WITH m AS (SELECT doc_id,
                      greatest(CAST(octet_length(encode(text)) // 1024 AS INT), 1) AS nf
               FROM documents)
    SELECT doc_id, unnest(range(0, nf, 30)) AS frame_index FROM m
    """,
)
def multimodal_frame_plan(spark):
    d = multimodal.attach_binary(spark.table("documents"))
    return multimodal.frame_sample_plan(d, every_n=30)


# ---------------------------------------------------------------------------
# temporal joins: as-of + range (operators/asof.py)
# ---------------------------------------------------------------------------


@q(
    "q_asof_join",
    """
    WITH clicks AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'click' AND user_id <= 60
    ),
    purchases AS (  -- unique ts per user so ties are unambiguous
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MAX(event_id) AS purchase_id
      FROM events WHERE event_type = 'purchase' AND user_id <= 60
      GROUP BY user_id, ts
    )
    SELECT c.event_id, c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           p.purchase_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def q_asof_join(spark):
    from muninn_avro_to_parquet_spark.operators import asof

    ev = spark.table("events").filter(F.col("user_id") <= 60)
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("purchase_id"))
    )
    joined = asof.asof_join(clicks, purchases, on="ts", by=["user_id"], right_cols=["purchase_id"])
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.col("purchase_id_right").alias("purchase_id"),
        F.date_format("ts_right", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
    )


@q(
    "q_range_join",
    """
    WITH logins AS (
      SELECT event_id AS login_id, user_id,
             CAST(ts AS TIMESTAMP) AS start_ts,
             CAST(ts AS TIMESTAMP) + INTERVAL 1 HOUR AS end_ts
      FROM events WHERE event_type = 'signup' AND user_id <= 30
    )
    SELECT l.login_id, l.user_id, COUNT(e.event_id) AS n_following
    FROM logins l LEFT JOIN events e
      ON e.user_id = l.user_id
     AND CAST(e.ts AS TIMESTAMP) >= l.start_ts
     AND CAST(e.ts AS TIMESTAMP) < l.end_ts
    GROUP BY l.login_id, l.user_id
    """,
)
def q_range_join(spark):
    from muninn_avro_to_parquet_spark.operators import asof

    ev = spark.table("events")
    logins = (
        ev.filter((F.col("event_type") == "signup") & (F.col("user_id") <= 30))
        .select(
            F.col("event_id").alias("login_id"),
            F.col("user_id"),
            F.col("ts").alias("start_ts"),
            (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end_ts"),
        )
    )
    joined = asof.range_join(
        ev.select("event_id", "user_id", "ts"),
        logins,
        left_ts="ts",
        right_start="start_ts",
        right_end="end_ts",
        by=["user_id"],
        how="right",
    )
    return joined.groupBy("login_id", "user_id").agg(
        F.count("event_id").alias("n_following")
    )


# ---------------------------------------------------------------------------
# SQL surface: grouping sets + approximate aggregates
# ---------------------------------------------------------------------------


@q(
    "q_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def q_grouping_sets(spark):
    # exercised through the engine's SQL surface (temp views + spark.sql)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@q(
    "q_approx_distinct",
    """
    SELECT COUNT(DISTINCT o_custkey) AS exact_customers,
           COUNT(*) AS n,
           TRUE AS approx_customers_ok,
           TRUE AS median_price_ok
    FROM orders
    """,
)
def q_approx_distinct(spark):
    """HLL++ distinct-count + approximate quantiles: the sketches a 100 TB
    profile pass uses instead of exact DISTINCT/percentile sorts.

    Sketch VALUES are engine-specific, so the hash-checked contract is:
    exact values plus booleans asserting each sketch lands within 5% of the
    exact answer computed in the same pass; the oracle emits the exact
    values and TRUE. (The exact distinct/percentile here exist to verify
    the sketches — production profiling uses only the sketch columns.)"""
    o = spark.table("orders")
    price = F.col("o_totalprice").cast("double")
    # two single-row passes instead of one: COUNT(DISTINCT) alongside
    # other aggregates triggers Catalyst's distinct-rewrite EXPAND, which
    # multiplies every input row per aggregate group before the (object)
    # aggregation — measured 5-12 s combined vs <1.3 s for every
    # aggregate alone at sf0.1. Two scans of a columnar (here: cached)
    # table are strictly cheaper than one expanded pass, at any scale.
    exact = o.agg(
        F.count_distinct("o_custkey").alias("exact_customers"),
        F.count("*").alias("n"),
    )
    sketches = o.agg(
        F.approx_count_distinct("o_custkey", rsd=0.01).alias("_approx_c"),
        # accuracy 1000 ≈ 0.1% rank error — plenty for a profile sketch;
        # 10000 made this 2-sketch agg the slowest query in the bench
        # (18.6 s at sf0.1, 17% of total) for no downstream value
        F.percentile_approx(price, 0.5, 1000).alias("_amed"),
        F.percentile(price, 0.5).alias("_emed"),
    )
    agg = exact.crossJoin(sketches)  # 1 row × 1 row
    rel_err = lambda a, b: F.abs(a - b) / b  # noqa: E731
    return agg.select(
        "exact_customers",
        "n",
        (rel_err(F.col("_approx_c"), F.col("exact_customers")) < 0.05).alias(
            "approx_customers_ok"
        ),
        (rel_err(F.col("_amed"), F.col("_emed")) < 0.05).alias("median_price_ok"),
    )


def _ann_ivf_oracle(nprobe: int = 4) -> str:
    # mirrors similarity.ann_topk_ivf exactly: md5-ordered centroid pick,
    # exact-integer cosine for both centroid assignment and re-ranking
    return f"""
    WITH {_EMB_EL},
    cents AS (
      SELECT vec_id AS centroid_id FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT 16
    ),
    cel AS (SELECT centroid_id, x, i FROM el JOIN cents ON el.vec_id = cents.centroid_id),
    cnorms AS (SELECT centroid_id, sqrt(CAST(SUM(x * x) AS DOUBLE)) AS nrm FROM cel GROUP BY 1),
    adots AS (
      SELECT e.vec_id, c.centroid_id, CAST(SUM(e.x * c.x) AS DOUBLE) AS dot
      FROM el e JOIN cel c ON e.i = c.i GROUP BY 1, 2
    ),
    csim AS (
      SELECT a.vec_id, a.centroid_id,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY a.dot / (nv.nrm * nc.nrm) DESC, a.centroid_id ASC
             ) AS r
      FROM adots a
      JOIN norms nv ON a.vec_id = nv.vec_id
      JOIN cnorms nc ON a.centroid_id = nc.centroid_id
    ),
    lists AS (SELECT vec_id, centroid_id FROM csim WHERE r = 1),
    probes AS (SELECT vec_id AS query_id, centroid_id FROM csim WHERE vec_id < 5 AND r <= {nprobe}),
    cand AS (
      SELECT p.query_id, l.vec_id
      FROM probes p JOIN lists l USING (centroid_id)
      WHERE l.vec_id <> p.query_id
    ),
    pdots AS (
      SELECT cd.query_id, cd.vec_id, CAST(SUM(a.x * b.x) AS DOUBLE) AS dot
      FROM cand cd
      JOIN el a ON a.vec_id = cd.query_id
      JOIN el b ON b.vec_id = cd.vec_id AND b.i = a.i
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, d.vec_id, dot / (nq.nrm * nc.nrm) AS cosine_sim
      FROM pdots d
      JOIN norms nq ON d.query_id = nq.vec_id
      JOIN norms nc ON d.vec_id = nc.vec_id
    )
    SELECT * FROM (
      SELECT query_id, vec_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 10
    """


@q("ann_topk_ivf", _ann_ivf_oracle())
def ann_topk_ivf(spark):
    emb = spark.table("embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return similarity.ann_topk_ivf(emb, queries_df, num_centroids=16, nprobe=4, k=10)


@q("ann_ivfflat_index_search", _ann_ivf_oracle(nprobe=6))
def ann_ivfflat_index_search(spark):
    """IVF-Flat over the build-once index (similarity.ivfpq_index +
    ivfflat_search, r11 — FAISS IndexIVFFlat): probed lists restrict
    candidates, the STORED full vectors score them with the same
    quantized-exact cosine as ann_topk_ivf, so recall is bounded only
    by list containment and the nprobe dial is provably monotone. Run
    at nprobe=6 so the oracle distinguishes this path from the one-shot
    ann_topk_ivf at nprobe=4."""
    emb = spark.table("embeddings")
    # flat search never reads the PQ codebook — pin the lazy Catalyst
    # unrefined build so no codebook work is materialized for it
    idx = similarity.ivfpq_index(
        emb, n_centroids=16, m=8, k=16, refine_rounds=0, encoder="catalyst"
    )
    return similarity.ivfflat_search(
        idx, emb, F.col("vec_id") < 5, nprobe=6, top_k=10
    )


@q(
    "q_full_outer_join",
    """
    WITH big_parts AS (
      SELECT p_partkey, p_brand FROM part WHERE p_size >= 49
    ),
    heavy_lines AS (
      SELECT l_partkey, COUNT(*) AS n_lines
      FROM lineitem WHERE l_quantity >= 49 GROUP BY l_partkey
    )
    SELECT COALESCE(p_partkey, l_partkey) AS partkey,
           p_brand, n_lines,
           (p_partkey IS NULL) AS only_lines,
           (l_partkey IS NULL) AS only_part
    FROM big_parts FULL OUTER JOIN heavy_lines ON p_partkey = l_partkey
    """,
)
def q_full_outer_join(spark):
    p = (
        spark.table("part")
        .filter(F.col("p_size") >= 49)
        .select("p_partkey", "p_brand")
    )
    l = (
        spark.table("lineitem")
        .filter(F.col("l_quantity") >= 49)
        .groupBy("l_partkey")
        .agg(F.count("*").alias("n_lines"))
    )
    return p.join(l, p.p_partkey == l.l_partkey, "full_outer").select(
        F.coalesce("p_partkey", "l_partkey").alias("partkey"),
        "p_brand",
        "n_lines",
        F.col("p_partkey").isNull().alias("only_lines"),
        F.col("l_partkey").isNull().alias("only_part"),
    )


@q(
    "doc_rolling_hash",
    f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents)
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(t, x -> CAST('0x' || substr(md5(x), 1, 8) AS BIGINT))),
             (acc, x) -> (acc * 31 + x) % 2147483648
           ) AS rolling_hash
    FROM toks
    """,
)
def doc_rolling_hash(spark):
    return text.rolling_hash_fingerprint(spark.table("documents"), "doc_id", "text")


def _near_dup_lsh_oracle() -> str:
    # recall is probabilistic but the OUTPUT is deterministic: bucket bits
    # are exact-integer signs, pair cosine is exact-integer over double
    return f"""
    WITH {_EMB_EL}, {_lsh_buckets_sql(num_planes=4)},
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM buckets a JOIN buckets b USING (bucket)
      WHERE a.vec_id < b.vec_id
    ),
    dots AS (
      SELECT p.id_a, p.id_b, CAST(SUM(a.x * b.x) AS DOUBLE) AS dot
      FROM pairs p
      JOIN el a ON a.vec_id = p.id_a
      JOIN el b ON b.vec_id = p.id_b AND b.i = a.i
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, dot / (na.nrm * nb.nrm) AS cosine_sim
    FROM dots d
    JOIN norms na ON d.id_a = na.vec_id
    JOIN norms nb ON d.id_b = nb.vec_id
    WHERE dot / (na.nrm * nb.nrm) >= 0.25
    """


@q("embedding_near_dup_lsh", _near_dup_lsh_oracle())
def embedding_near_dup_lsh(spark):
    return similarity.embedding_near_dup_lsh(
        spark.table("embeddings"), dim=64, threshold=0.25, num_planes=4
    )


@q(
    "q_scalar_subquery",
    """
    SELECT c_custkey, c_name,
           CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal
    FROM customer c
    WHERE CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) > (
      SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
      FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey
    )
    AND c_custkey <= 300
    """,
)
def q_scalar_subquery(spark):
    # correlated scalar subquery through the SQL surface — Catalyst
    # decorrelates it into an aggregate + join, no per-row re-execution
    return spark.sql(
        """
        SELECT c_custkey, c_name,
               CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal
        FROM customer c
        WHERE CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) > (
          SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
          FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey
        )
        AND c_custkey <= 300
        """
    )


@q(
    "q_event_value_stats",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_value
    FROM events
    GROUP BY event_type
    """,
)
def q_event_value_stats(spark):
    v_dec = F.col("value").cast("decimal(18,6)")
    return (
        spark.table("events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(v_dec).cast("double").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            (F.sum(v_dec).cast("double") / F.count("*")).alias("avg_value"),
        )
    )


# ---------------------------------------------------------------------------
# dataset-assembly extensions: splits / sampling / span dedup / PII / audits
# ---------------------------------------------------------------------------

# cutoffs shared verbatim by the Spark operator and the DuckDB oracle so a
# document can never land in different splits on different engines
_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
_SPLIT_CUT_TRAIN = pipeline.fraction_cutoff_hex(0.8)
_SPLIT_CUT_VAL = pipeline.fraction_cutoff_hex(0.8 + 0.1)

# dataset-mixing fractions: each synthetic source srcN keeps a fraction
# cycling through [1.0, 0.5, 0.25, 0.1] — exercises the keep-all fast path
# and three distinct hash cutoffs
_MIX_FRACTIONS = {f"src{n}": [1.0, 0.5, 0.25, 0.1][n % 4] for n in range(20)}


@q(
    "split_train_val_test",
    f"""
    SELECT doc_id, source,
           CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4) < '{_SPLIT_CUT_TRAIN}' THEN 'train'
                WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4) < '{_SPLIT_CUT_VAL}' THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def split_train_val_test(spark):
    """Deterministic hash split (operators/pipeline.py assign_split):
    shuffle-free projection, reproducible at 100 TB across engines and
    partial re-runs — unlike rand()-seeded sampling whose draw depends on
    partition layout."""
    d = spark.table("documents")
    return pipeline.assign_split(d, "doc_id", _SPLIT_WEIGHTS).select(
        "doc_id", "source", "split"
    )


def _mix_oracle() -> str:
    branches = []
    for src, frac in _MIX_FRACTIONS.items():
        cutoff = pipeline.fraction_cutoff_hex(frac)
        keep = (
            "TRUE"
            if cutoff == "KEEP_ALL"
            else f"substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 4) < '{cutoff}'"
        )
        branches.append(f"WHEN source = '{src}' THEN {keep}")
    return f"""
    SELECT doc_id, source, lang FROM documents
    WHERE CASE {' '.join(branches)} ELSE FALSE END
    """


@q("sample_stratified_sources", _mix_oracle())
def sample_stratified_sources(spark):
    """Per-source dataset mixing (operators/pipeline.py stratified_sample):
    hash-threshold keep filter, stable under AQE repartitioning/retries."""
    d = spark.table("documents")
    return pipeline.stratified_sample(
        d, "doc_id", "source", _MIX_FRACTIONS, default_fraction=0.0
    ).select("doc_id", "source", "lang")


@q(
    "dedup_token_chunks",
    f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
    chunks AS (
      SELECT doc_id, t,
             unnest(range(CAST(ceil(len(t) / 4.0) AS BIGINT))) AS i
      FROM toks WHERE len(t) > 0
    ),
    hashed AS (
      SELECT doc_id,
             md5(array_to_string(t[(i * 4 + 1):(i * 4 + 4)], ' ')) AS chunk_hash
      FROM chunks
    )
    SELECT chunk_hash, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occurrences
    FROM hashed GROUP BY 1 HAVING COUNT(DISTINCT doc_id) > 1
    """,
)
def dedup_token_chunks(spark):
    """Span-level dedup approximation: non-overlapping 4-token chunk hashes
    shared across documents (operators/pipeline.py duplicated_chunks) —
    one shuffle on the chunk hash, HAVING pushed into the aggregate."""
    return pipeline.duplicated_chunks(spark.table("documents"), "doc_id", "text", chunk_size=4)


@q(
    "doc_length_buckets",
    """
    SELECT CAST(least(floor(n_chars / 200), 9) AS INT) AS bucket,
           COUNT(*) AS n_docs,
           MIN(n_chars) AS min_len,
           MAX(n_chars) AS max_len,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_len
    FROM documents GROUP BY 1
    """,
)
def doc_length_buckets(spark):
    """Length-distribution audit (operators/pipeline.py length_histogram):
    single hash agg onto a 10-value key domain."""
    return pipeline.length_histogram(spark.table("documents"), "n_chars", 200, 10)


def _pii_oracle() -> str:
    scrubbed = "text"
    for _, pattern, token in text.PII_PATTERNS:
        scrubbed = f"regexp_replace({scrubbed}, '{pattern}', '{token}', 'g')"
    counts = ",\n           ".join(
        f"CASE WHEN text IS NOT NULL THEN len(regexp_extract_all(text, '{pattern}')) END AS n_{name}"
        for name, pattern, _ in text.PII_PATTERNS
    )
    return f"""
    SELECT doc_id,
           md5({scrubbed}) AS scrub_hash,
           {counts}
    FROM documents
    """


@q("text_pii_scrub", _pii_oracle())
def text_pii_scrub(spark):
    """PII scrub + audit counts (operators/text.py scrub_pii/pii_counts):
    regexp_replace chain, whole-stage codegen, linear at 100 TB. The
    synthetic corpus contains no PII (counts are 0 here); hit behavior is
    unit-tested on strings with real emails/SSNs/phones/IPs in
    tests/test_pipeline_ops.py."""
    d = spark.table("documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        F.md5(text.scrub_pii(t)).alias("scrub_hash"),
        *text.pii_counts(t),
    )


@q(
    "embedding_centroids",
    """
    WITH el AS (
      SELECT label,
             generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000000) AS BIGINT) AS q
      FROM embeddings
    )
    SELECT label, pos,
           CAST(SUM(q) AS DOUBLE) / (COUNT(*) * 10000000.0) AS centroid,
           COUNT(*) AS n_vectors
    FROM el GROUP BY 1, 2
    """,
)
def embedding_centroids(spark):
    """Per-label mean vectors (operators/similarity.py label_centroids):
    quantized-BIGINT sums (order-independent, engine-exact), one hash agg —
    the building block of distributed k-means / IVF training."""
    return similarity.label_centroids(spark.table("embeddings"))


# ---------------------------------------------------------------------------
# relational breadth: TPC-H-style q4/q10/q14/q18, deciles, range-frame window
# ---------------------------------------------------------------------------


@q(
    "q4_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark):
    """TPC-H Q4 shape (EXISTS → left-semi join; reference has no joins at
    all, SURVEY §2.2). The semi join shuffles only the orderkey + date
    columns; the agg key domain is 5 values."""
    o = spark.table("orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    li = spark.table("lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o["o_orderkey"] == li["l_orderkey"]) & (li["l_shipdate"] > o["o_orderdate"]),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@q(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,6)))), 2) AS DOUBLE) AS revenue,
           CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal,
           n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark):
    """TPC-H Q10: returned-item revenue by customer. nation broadcasts
    (25 rows); the lineitem filter prunes before the join; top-20 compiles
    to TakeOrderedAndProject (no global sort materialization)."""
    li = spark.table("lineitem").filter(F.col("l_returnflag") == "R")
    o = spark.table("orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    c = spark.table("customer")
    n = F.broadcast(spark.table("nation"))
    rev = _dec("l_extendedprice", MONEY) * (F.lit(1) - _dec("l_discount", RATE))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            "c_custkey",
            "c_name",
            _dec("c_acctbal", MONEY).cast("double").alias("acctbal"),
            "n_name",
        )
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@q(
    "q14_promo_revenue",
    """
    SELECT CAST(ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,6)))
                 ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
               / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,6)))) AS DOUBLE), 6) AS DOUBLE) AS promo_pct,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,6)))), 2) AS DOUBLE) AS total_revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
    """,
)
def q14_promo_revenue(spark):
    """TPC-H Q14: promo revenue share. part (2k rows at sf0.01) broadcasts;
    lineitem's date filter is pushed to the parquet scan, so one month of
    data ever leaves the scan at any SF."""
    li = spark.table("lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    p = F.broadcast(spark.table("part"))
    rev = _dec("l_extendedprice", MONEY) * (F.lit(1) - _dec("l_discount", RATE))
    zero = F.lit(0).cast(MONEY)
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)
    return li.join(p, li["l_partkey"] == p["p_partkey"]).agg(
        F.round(
            F.lit(100.0) * F.sum(promo).cast("double") / F.sum(rev).cast("double"), 6
        )
        .cast("double")
        .alias("promo_pct"),
        F.round(F.sum(rev), 2).cast("double").alias("total_revenue"),
        F.count("*").alias("n_items"),
    )


@q(
    "q18_large_volume",
    """
    WITH big AS (
      SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS total_qty
      FROM lineitem GROUP BY 1
      HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 200
    )
    SELECT c_custkey, c_name, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS totalprice,
           CAST(total_qty AS DOUBLE) AS total_qty
    FROM big
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_volume(spark):
    """TPC-H Q18: large-volume orders. The lineitem pre-aggregate (partial
    combine on l_orderkey) shrinks the join probe side to the HAVING
    survivors before any join happens — the shape that survives 100 TB."""
    big = (
        spark.table("lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity", QTY)).alias("total_qty_dec"))
        .filter(F.col("total_qty_dec") > 200)
    )
    o = spark.table("orders")
    c = spark.table("customer")
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            _dec("o_totalprice", MONEY).cast("double").alias("totalprice"),
            F.col("total_qty_dec").cast("double").alias("total_qty"),
        )
        .orderBy(F.col("totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@q(
    "q_ntile_deciles",
    """
    WITH d AS (
      SELECT c_custkey, c_acctbal,
             ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
      FROM customer
    )
    SELECT decile, COUNT(*) AS n_customers,
           MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
    FROM d GROUP BY decile
    """,
)
def q_ntile_deciles(spark):
    """Decile audit WITHOUT the single-reducer global window: the rank
    comes from ``text.global_row_number`` (range partition → parallel
    per-partition windows → cumulative offsets), and the ntile bucket is
    computed arithmetically from (rank, N) with SQL ntile's exact
    fill rule — the first N mod k buckets get one extra row. Bit-identical
    to ``ntile(10) OVER (ORDER BY ...)`` (the oracle) at any N, but the
    sort is the same sampled range exchange a distributed ORDER BY uses,
    so the plan survives a 100x scale-up (no Exchange SinglePartition —
    gated in tests/test_plans.py)."""
    from muninn_avro_to_parquet_spark.operators import text as TX

    c = spark.table("customer").select("c_custkey", "c_acctbal")
    n = c.count()  # one metadata-cheap job on the cached table
    ranked = TX.global_row_number(
        c, F.col("c_acctbal").asc(), F.col("c_custkey").asc(), rank_col="_rk"
    )
    k = 10
    size_big, n_big = n // k + 1, n % k  # first n_big buckets are larger
    decile = F.expr(
        f"CASE WHEN _rk <= {n_big * size_big}"
        f" THEN (_rk - 1) div {size_big}"
        f" ELSE {n_big} + (_rk - {n_big * size_big} - 1) div {max(n // k, 1)}"
        f" END + 1"
    )
    d = ranked.select("c_custkey", "c_acctbal", decile.cast("int").alias("decile"))
    return d.groupBy("decile").agg(
        F.count("*").alias("n_customers"),
        F.min("c_acctbal").alias("min_bal"),
        F.max("c_acctbal").alias("max_bal"),
        F.sum(_dec("c_acctbal", MONEY)).cast("double").alias("sum_bal"),
    )


@q(
    "q_moving_range_window",
    """
    SELECT event_id, user_id,
           CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) OVER w AS DOUBLE) / 1000000.0 AS moving_sum_1h,
           COUNT(*) OVER w AS n_events_1h
    FROM events
    WHERE user_id < 50
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def q_moving_range_window(spark):
    """RANGE-frame moving aggregate (trailing 1 h per user). The summed
    values are quantized to BIGINT so the windowed sum is exact — a double
    sum's result depends on each engine's accumulation order (DuckDB uses
    segment trees) and would never hash-match. One shuffle on user_id."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, 0)
    )
    qv = F.round(F.col("value") * 1000000).cast("long")
    return (
        spark.table("events")
        .filter(F.col("user_id") < 50)
        .select(
            "event_id",
            "user_id",
            (F.sum(qv).over(w).cast("double") / 1000000.0).alias("moving_sum_1h"),
            F.count("*").over(w).alias("n_events_1h"),
        )
    )


def _components_oracle() -> str:
    # nest the LSH pair query as a CTE, then a recursive min-label walk:
    # every (node, id-in-same-component) pair is enumerated, so MIN(label)
    # per node is exactly the component representative the Spark operator
    # converges to
    return f"""
    WITH RECURSIVE pairs AS ({_minhash_pairs_oracle(8, 4, 64)}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    walk(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node
    )
    SELECT node AS doc_id, MIN(label) AS component_id FROM walk GROUP BY node
    """


def _triangles_oracle() -> str:
    # same LSH pair CTE as the CC/pagerank family, then the edge-oriented
    # triangle enumeration: canonical a<b edges, wedge join on the middle
    # node, EXISTS for the closing edge, one count per member node
    return f"""
    WITH pairs AS ({_minhash_pairs_oracle(8, 4, 64)}),
    e AS (
      SELECT DISTINCT LEAST(id_a, id_b) AS a, GREATEST(id_a, id_b) AS b
      FROM pairs WHERE id_a <> id_b
    ),
    w AS (
      SELECT e1.a, e1.b, e2.b AS c FROM e e1 JOIN e e2 ON e1.b = e2.a
    ),
    tri AS (
      SELECT w.a, w.b, w.c FROM w
      WHERE EXISTS (SELECT 1 FROM e WHERE e.a = w.a AND e.b = w.c)
    ),
    nodes AS (SELECT unnest([a, b, c]) AS doc_id FROM tri)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM nodes GROUP BY 1
    """


@q("dedup_graph_triangles", _triangles_oracle())
def dedup_graph_triangles(spark):
    """Triangle counts over the LSH candidate graph
    (operators/dedup.candidate_triangles): the dedup-cluster cohesion
    metric — near-clique clusters are high-confidence duplicates, hubs
    with triangle-free neighborhoods are LSH false-positive chains.
    Edge-oriented wedge join + closing semi-join; work is Σ deg² wedge
    rows (bucket-guard bounded), never a cross product."""
    pairs = dedup.minhash_candidate_pairs(
        spark.table("documents"), "doc_id", "text", num_hashes=8, bands=4,
        max_bucket=64,
    )
    return dedup.candidate_triangles(pairs)


@q("dedup_components", _components_oracle())
def dedup_components(spark):
    """Duplicate-cluster assignment: connected components (iterative
    min-label propagation, operators/dedup.py connected_components) over
    the capped MinHash-LSH candidate pairs — every near-dup cluster maps
    to its minimum doc_id as the canonical representative."""
    pairs = dedup.minhash_candidate_pairs(
        spark.table("documents"), "doc_id", "text", num_hashes=8, bands=4,
        max_bucket=64, distinct=False,  # min-label CC is duplicate-insensitive
    )
    return dedup.connected_components(pairs).select(
        F.col("node").alias("doc_id"), "component_id"
    )


@q(
    "text_tfidf_top_terms",
    f"""
    WITH tok AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS token FROM documents),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    dfreq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, token, tf, df,
             ROUND(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
      FROM tf JOIN dfreq USING (token) CROSS JOIN n
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tf DESC, df ASC, token ASC) AS rnk
      FROM scored
    )
    SELECT doc_id, token, tf, df, tfidf, rnk FROM ranked WHERE rnk <= 3
    """,
)
def text_tfidf_top_terms(spark):
    """Per-doc top-3 distinctive terms with smoothed TF-IDF
    (operators/text.py tf_idf_top_terms): two shuffles + broadcast corpus
    count; integer ranking keys keep the selection engine-exact."""
    return text.tf_idf_top_terms(spark.table("documents"), "doc_id", "text", top_k=3)


@q(
    "text_tfidf_cosine_pairs",
    f"""
    WITH tok AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS token FROM documents),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    dfreq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, token, tf, df,
             ROUND(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
      FROM tf JOIN dfreq USING (token) CROSS JOIN n
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tf DESC, df ASC, token ASC) AS rnk
      FROM scored
    ),
    w AS (
      SELECT doc_id, token, CAST(ROUND(tfidf * 1000) AS BIGINT) AS w
      FROM ranked WHERE rnk <= 5
    ),
    norms AS (SELECT doc_id, sqrt(CAST(SUM(w * w) AS DOUBLE)) AS nrm
              FROM w GROUP BY 1),
    rare AS (SELECT token FROM w GROUP BY token HAVING COUNT(*) <= 64),
    p AS (SELECT w.doc_id, w.token, w.w FROM w JOIN rare USING (token)),
    num AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared_terms,
             SUM(a.w * b.w) AS _num
      FROM p a JOIN p b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_shared_terms,
           ROUND(CAST(_num AS DOUBLE) / (na.nrm * nb.nrm), 6) AS cosine
    FROM num
    JOIN norms na ON id_a = na.doc_id
    JOIN norms nb ON id_b = nb.doc_id
    WHERE ROUND(CAST(_num AS DOUBLE) / (na.nrm * nb.nrm), 6) >= 0.2
    """,
)
def text_tfidf_cosine_pairs(spark):
    """Sparse TF-IDF document-similarity join
    (operators/text.tfidf_cosine_pairs): top-5 distinctive terms per doc,
    pairs via equi-join on the shared TERM — topical similarity without a
    model, the complement to lexical Jaccard/containment and embedding
    cosine. Milli-quantized BIGINT weights make the numerator exact and
    both engines' cosines bit-identical; max_token_docs caps hot-term
    fan-out (boilerplate that survived IDF)."""
    return text.tfidf_cosine_pairs(
        spark.table("documents"), "doc_id", "text", top_k=5, threshold=0.2,
        max_token_docs=64,
    )


@q(
    "doc_quality_filter",
    f"""
    WITH base AS (
      SELECT doc_id, lang, source, text, {_SQL_TOKENS} AS toks, length(text) AS nc
      FROM documents
    ),
    feat AS (
      SELECT doc_id, lang, source, len(toks) AS n_tokens,
        CAST(len([t for t in toks if t IN ('the','and','of','to','a','in','is','that','for','it')]) AS DOUBLE)
          / CAST(greatest(len(toks), 1) AS DOUBLE) AS stopword_ratio,
        CAST(length(regexp_replace(text, '[a-zA-Z0-9 \t\n\x0B\f\r]', '', 'g')) AS DOUBLE)
          / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio
      FROM base
    )
    SELECT doc_id, lang, source, n_tokens,
           (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 0.5 ELSE 0.0 END
            + CASE WHEN stopword_ratio > 0.01 AND stopword_ratio < 0.6 THEN 0.3 ELSE 0.0 END
            + CASE WHEN punct_ratio < 0.2 THEN 0.2 ELSE 0.0 END) AS quality_score
    FROM feat
    WHERE (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 0.5 ELSE 0.0 END
            + CASE WHEN stopword_ratio > 0.01 AND stopword_ratio < 0.6 THEN 0.3 ELSE 0.0 END
            + CASE WHEN punct_ratio < 0.2 THEN 0.2 ELSE 0.0 END) >= 0.7
    """,
)
def doc_quality_filter(spark):
    """C4-style keep filter: quality_features + threshold — the form a
    pre-training corpus filter actually runs as (keep docs, carry the
    score for auditing). One scan, one evaluation of the features:
    ``filter_once`` blocks Catalyst from substituting the score
    expression into a pushed-down predicate (which re-ran the tokenizer
    ~12× per row)."""
    d = spark.table("documents")
    return text.filter_once(
        text.quality_features(d),
        F.col("quality_score") >= 0.7,
        ["doc_id", "lang", "source", "n_tokens", "quality_score"],
    )


@q(
    "q7_nation_volume",
    """
    SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
           CAST(strftime(l_shipdate, '%Y') AS INT) AS ship_year,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(8,6)))), 2) AS DOUBLE) AS volume,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1, 2, 3
    """,
)
def q7_nation_volume(spark):
    """TPC-H Q7 shape: bilateral trade volume between two nations by year.
    Five-way join — both nation dims broadcast, the disjunctive nation-pair
    predicate prunes AFTER the broadcast joins (cheap), lineitem's date
    filter prunes at the scan."""
    li = spark.table("lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = spark.table("orders")
    c = spark.table("customer")
    s = spark.table("supplier")
    n1 = F.broadcast(spark.table("nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    ))
    n2 = F.broadcast(spark.table("nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    ))
    rev = _dec("l_extendedprice", MONEY) * (F.lit(1) - _dec("l_discount", RATE))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(n1, c["c_nationkey"] == F.col("c_nk"))
        .join(n2, s["s_nationkey"] == F.col("s_nk"))
        .filter(
            ((F.col("cust_nation") == "NATION_1") & (F.col("supp_nation") == "NATION_2"))
            | ((F.col("cust_nation") == "NATION_2") & (F.col("supp_nation") == "NATION_1"))
        )
        .groupBy(
            "cust_nation",
            "supp_nation",
            F.date_format("l_shipdate", "yyyy").cast("int").alias("ship_year"),
        )
        .agg(
            F.round(F.sum(rev), 2).cast("double").alias("volume"),
            F.count("*").alias("n_items"),
        )
    )


@q(
    "q_unpivot_metrics",
    """
    WITH wide AS (
      SELECT event_type,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
             CAST(MIN(value) AS DOUBLE) AS min_v,
             CAST(MAX(value) AS DOUBLE) AS max_v
      FROM events GROUP BY event_type
    )
    SELECT event_type, 'total' AS metric, total AS metric_value FROM wide
    UNION ALL
    SELECT event_type, 'min_v', min_v FROM wide
    UNION ALL
    SELECT event_type, 'max_v', max_v FROM wide
    """,
)
def q_unpivot_metrics(spark):
    """Wide→long unpivot (the inverse of q_pivot_status) via the native
    DataFrame unpivot operator — an Expand node, no join or extra scan."""
    v_dec = F.col("value").cast("decimal(18,6)")
    wide = (
        spark.table("events")
        .groupBy("event_type")
        .agg(
            F.sum(v_dec).cast("double").alias("total"),
            F.min("value").cast("double").alias("min_v"),
            F.max("value").cast("double").alias("max_v"),
        )
    )
    return wide.unpivot(
        ids=["event_type"],
        values=["total", "min_v", "max_v"],
        variableColumnName="metric",
        valueColumnName="metric_value",
    )


@q(
    "q_latest_event_per_user",
    """
    SELECT user_id, event_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q_latest_event_per_user(spark):
    """Latest-state materialization (operators/cdc.py latest_per_key —
    the same single window pass that compacts a CDC change log into a
    snapshot), keyed here on user_id with (ts, event_id) as the total
    order. One shuffle on the key."""
    from muninn_avro_to_parquet_spark.operators import cdc

    return cdc.latest_per_key(
        spark.table("events"), ["user_id"], ["ts", "event_id"]
    ).select(
        "user_id",
        "event_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "value",
    )


@q(
    "q_interval_join_attrib",
    """
    SELECT c.user_id, c.event_id AS click_id, b.event_id AS buy_id,
           CAST(floor(epoch(b.ts)) - floor(epoch(c.ts)) AS BIGINT) AS delay_s
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      ON c.user_id = b.user_id
     AND b.ts >= c.ts
     AND b.ts <= c.ts + INTERVAL 10 MINUTE
    """,
)
def q_interval_join_attrib(spark):
    """Click→purchase attribution via the stream-stream interval join's
    batch mirror (streaming/windows.py interval_join — identical
    expression tree under readStream, where watermarks bound the state).
    Equi-join on user_id carries the interval predicate as a post-join
    filter; one shuffle per side."""
    from muninn_avro_to_parquet_spark.streaming import windows

    ev = spark.table("events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "event_id", "ts")
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id", "event_id", "ts")
    j = windows.interval_join(clicks, buys, "user_id", upper="10 minutes")
    return j.select(
        "user_id",
        F.col("l_event_id").alias("click_id"),
        F.col("r_event_id").alias("buy_id"),
        (F.unix_timestamp("r_ts") - F.unix_timestamp("l_ts")).alias("delay_s"),
    )


@q(
    "q8_market_share",
    """
    SELECT o_year,
           CAST(SUM(CASE WHEN nation = 'NATION_1' THEN volume ELSE CAST(0 AS DECIMAL(18,8)) END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE) AS mkt_share
    FROM (
      SELECT CAST(strftime(o_orderdate, '%Y') AS INT) AS o_year,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (1 - CAST(l_discount AS DECIMAL(8,6))) AS DECIMAL(18,8)) AS volume,
             n2.n_name AS nation
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN part     ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region    ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'AMERICA'
        AND p_type = 'ECONOMY'
        AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    )
    GROUP BY o_year
    """,
)
def q8_market_share(spark):
    """TPC-H Q8 shape: one nation's share of regional trade volume by
    order year. Seven-way join — region/nation/part dims broadcast so the
    only shuffles are the two fact-fact joins (lineitem-orders on
    orderkey, then orders-customer on custkey); customer itself is
    broadcast-eligible at test SF but shuffles safely at 100 TB. The
    share is a conditional-sum ratio: both sums accumulate in DECIMAL
    (exact, order-independent) and divide once as doubles so the value
    hashes identically across engines (reference has no joins at all —
    this is north-star surface; cf. /root/reference/main.py:601-613)."""
    li = spark.table("lineitem")
    o = spark.table("orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    p = F.broadcast(spark.table("part").filter(F.col("p_type") == "ECONOMY"))
    s = spark.table("supplier")
    c = spark.table("customer")
    n1 = spark.table("nation").select("n_nationkey", "n_regionkey")
    n2 = spark.table("nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nation")
    )
    r = spark.table("region").filter(F.col("r_name") == "AMERICA")
    # broadcast the pruned dim chain: region⋈nation resolves to a small
    # set of nationkeys before touching any fact table
    amer_nations = F.broadcast(
        n1.join(r, n1["n_regionkey"] == r["r_regionkey"]).select("n_nationkey")
    )
    volume = (
        _dec("l_extendedprice", MONEY) * (F.lit(1) - _dec("l_discount", RATE))
    ).cast("decimal(18,8)")
    vol = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(amer_nations, c["c_nationkey"] == amer_nations["n_nationkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n2), s["s_nationkey"] == F.col("s_nk"))
        .select(
            F.date_format("o_orderdate", "yyyy").cast("int").alias("o_year"),
            volume.alias("volume"),
            "nation",
        )
    )
    zero = F.lit(0).cast("decimal(18,8)")
    return vol.groupBy("o_year").agg(
        (
            F.sum(F.when(F.col("nation") == "NATION_1", F.col("volume")).otherwise(zero)).cast("double")
            / F.sum("volume").cast("double")
        ).alias("mkt_share")
    )


@q(
    "q9_product_type_profit",
    """
    SELECT n_name AS nation,
           CAST(strftime(o_orderdate, '%Y') AS INT) AS o_year,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (1 - CAST(l_discount AS DECIMAL(8,6)))), 2) AS DOUBLE) AS sum_profit
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%widget%'
    GROUP BY n_name, o_year
    """,
)
def q9_product_type_profit(spark):
    """TPC-H Q9 shape (adapted: the test catalog has no partsupp, so
    profit is discounted revenue rather than revenue minus supply cost):
    per supplier-nation, per order-year revenue on parts matching a name
    substring. The LIKE filter prunes part BEFORE its broadcast, so the
    lineitem⋈part join discards ~5/6 of lineitem rows without a shuffle;
    orders joins on the shuffled orderkey; nation is broadcast."""
    li = spark.table("lineitem")
    o = spark.table("orders")
    p = F.broadcast(
        spark.table("part").filter(F.col("p_name").like("%widget%")).select("p_partkey")
    )
    s = spark.table("supplier")
    n = F.broadcast(
        spark.table("nation").select(
            F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nation")
        )
    )
    profit = _dec("l_extendedprice", MONEY) * (F.lit(1) - _dec("l_discount", RATE))
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(n, s["s_nationkey"] == F.col("s_nk"))
        .groupBy(
            "nation",
            F.date_format("o_orderdate", "yyyy").cast("int").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 2).cast("double").alias("sum_profit"))
    )


@q(
    "q13_order_count_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '5-LOW'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_order_count_distribution(spark):
    """TPC-H Q13: distribution of per-customer order counts, where the
    LEFT JOIN carries an extra non-key predicate (priority exclusion) so
    customers whose orders are all filtered still count as 0. Two
    aggregations: the first shuffles on custkey (same key as the join —
    AQE reuses the exchange), the second is a tiny distinct-count-sized
    shuffle on c_count."""
    c = spark.table("customer")
    o = spark.table("orders")
    per_cust = (
        c.join(
            o,
            (c["c_custkey"] == o["o_custkey"]) & (o["o_orderpriority"] != "5-LOW"),
            "left",
        )
        .groupBy(c["c_custkey"])
        .agg(F.count(o["o_orderkey"]).alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@q(
    "q17_small_quantity_revenue",
    """
    WITH part_avg AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_rev,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN part_avg ON part_avg.l_partkey = part.p_partkey
    WHERE p_brand = 'Brand#1'
      AND CAST(l_quantity AS DOUBLE) < 0.2 * avg_qty
    """,
)
def q17_small_quantity_revenue(spark):
    """TPC-H Q17: revenue from small-quantity orders relative to each
    part's average quantity — the classic correlated scalar subquery,
    decorrelated into a pre-aggregate + self-join on partkey. The
    threshold divides an EXACT decimal sum by the count (quantities are
    integral, so the double is bit-identical across engines — an
    order-dependent double sum would make boundary rows flap). At 100 TB
    both sides shuffle on l_partkey once; the Brand filter cannot prune
    the avg side (the average is over ALL lineitems of the part), which
    is inherent to the query, not the plan."""
    li = spark.table("lineitem")
    part_avg = li.groupBy(F.col("l_partkey").alias("pa_partkey")).agg(
        (F.sum(_dec("l_quantity", QTY)).cast("double") / F.count("*")).alias("avg_qty")
    )
    p = F.broadcast(
        spark.table("part").filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    )
    filtered = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(part_avg, li["l_partkey"] == F.col("pa_partkey"))
        .filter(F.col("l_quantity").cast("double") < 0.2 * F.col("avg_qty"))
    )
    return filtered.agg(
        F.sum(_dec("l_extendedprice", MONEY)).cast("double").alias("total_rev"),
        F.count("*").alias("n_items"),
    )


@q(
    "q19_disjunctive_revenue",
    """
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (1 - CAST(l_discount AS DECIMAL(8,6)))), 2) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 21)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
           AND l_quantity >= 15 AND l_quantity <= 35)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
           AND l_quantity >= 30 AND l_quantity <= 50)
    """,
)
def q19_disjunctive_revenue(spark):
    """TPC-H Q19 shape: revenue under a 3-way disjunction of conjunctive
    brand/size/quantity predicates. Catalyst extracts the common
    l_quantity bounds' union for partial pushdown and evaluates the full
    disjunction post-join; part is broadcast after its own OR-of-brands
    prune (a single IN-list scan filter)."""
    li = spark.table("lineitem")
    p = F.broadcast(
        spark.table("part")
        .filter(F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
        .select("p_partkey", "p_brand", "p_size")
    )
    qty = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & qty.between(1, 21))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & qty.between(15, 35))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50) & qty.between(30, 50))
    )
    rev = _dec("l_extendedprice", MONEY) * (F.lit(1) - _dec("l_discount", RATE))
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .filter(cond)
        .agg(
            F.round(F.sum(rev), 2).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@q(
    "q22_dormant_customers",
    """
    SELECT c_mktsegment,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE c_acctbal > (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
        FROM customer WHERE c_acctbal > 0.0
      )
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c_mktsegment
    """,
)
def q22_dormant_customers(spark):
    """TPC-H Q22 shape (adapted: grouped by market segment — the catalog
    has no phone column): well-funded customers with no recent orders.
    Uncorrelated scalar subquery (global avg over positive balances,
    computed as exact-decimal sum / count) + LEFT ANTI join against
    orders. The anti join shuffles both sides on custkey; the scalar avg
    is a one-row broadcast."""
    c = spark.table("customer")
    o = spark.table("orders")
    avg_row = F.broadcast(
        c.filter(F.col("c_acctbal") > 0.0).agg(
            (F.sum(_dec("c_acctbal", MONEY)).cast("double") / F.count("*")).alias("avg_bal")
        )
    )
    rich = c.join(avg_row, F.col("c_acctbal") > F.col("avg_bal"), "inner")
    recent = o.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    )
    dormant = rich.join(recent, rich["c_custkey"] == recent["o_custkey"], "left_anti")
    return dormant.groupBy("c_mktsegment").agg(
        F.count("*").alias("numcust"),
        F.sum(_dec("c_acctbal", MONEY)).cast("double").alias("totacctbal"),
    )


@q(
    "q_array_higher_order",
    """
    WITH qv AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(round(CAST(x AS DOUBLE) * 10000000) AS BIGINT)) AS q
      FROM embeddings
    )
    SELECT vec_id,
           CAST(len(q) AS BIGINT) AS dim,
           CAST(len(list_filter(q, x -> x > 0)) AS BIGINT) AS n_pos,
           CAST(list_aggregate(list_transform(q, x -> abs(x)), 'sum') AS BIGINT) AS l1_q,
           CAST(list_aggregate(list_sort(q, 'DESC')[1:3], 'sum') AS BIGINT) AS top3_sum_q,
           CAST(list_dot_product(q, list_reverse(q)) AS BIGINT) AS rev_dot_q
    FROM qv
    """,
)
def q_array_higher_order(spark):
    """Higher-order array functions over the embedding column — transform
    / filter / aggregate / zip_with / sort_array / slice / reverse, all
    JVM-side Catalyst expressions (zero Python, zero explode: no row
    blow-up, the 64-wide arrays stay packed in Tungsten format). Math is
    exact over 1e7-quantized BIGINTs (same scale as operators/similarity);
    |x|<0.53 and dim=64 keep every sum below 2^53 so the DuckDB
    list_dot_product double round-trips exactly."""
    SCALE = 10_000_000
    qv = F.transform(
        F.col("embedding"), lambda x: F.round(x.cast("double") * SCALE).cast("long")
    )
    e = spark.table("embeddings").select("vec_id", qv.alias("q"))
    zero = F.lit(0).cast("long")
    return e.select(
        "vec_id",
        F.size("q").cast("long").alias("dim"),
        F.size(F.filter("q", lambda x: x > 0)).cast("long").alias("n_pos"),
        F.aggregate(
            F.transform("q", lambda x: F.abs(x)), zero, lambda acc, x: acc + x
        ).alias("l1_q"),
        F.aggregate(
            F.slice(F.sort_array("q", asc=False), 1, 3), zero, lambda acc, x: acc + x
        ).alias("top3_sum_q"),
        F.aggregate(
            F.zip_with("q", F.reverse("q"), lambda x, y: x * y),
            zero,
            lambda acc, x: acc + x,
        ).alias("rev_dot_q"),
    )


@q(
    "q_interpolate_gaps",
    """
    WITH masked AS (
      SELECT user_id, event_id, ts,
             CASE WHEN event_id % 5 = 0 THEN NULL
                  ELSE CAST(value AS DOUBLE) END AS v
      FROM events
    ),
    ctx AS (
      SELECT user_id, event_id, ts, v,
             LAST_VALUE(v IGNORE NULLS) OVER w_prev AS prev_v,
             LAST_VALUE(CASE WHEN v IS NOT NULL THEN ts END IGNORE NULLS)
               OVER w_prev AS prev_ts,
             FIRST_VALUE(v IGNORE NULLS) OVER w_next AS next_v,
             FIRST_VALUE(CASE WHEN v IS NOT NULL THEN ts END IGNORE NULLS)
               OVER w_next AS next_ts
      FROM masked
      WINDOW
        w_prev AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        w_next AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, event_id, v AS observed,
           ROUND(CASE
             WHEN v IS NOT NULL THEN v
             WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
                  AND next_ts > prev_ts THEN
               prev_v + (next_v - prev_v)
               * (CAST(epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(prev_ts AS TIMESTAMP)) AS DOUBLE)
                  / CAST(epoch_us(CAST(next_ts AS TIMESTAMP)) - epoch_us(CAST(prev_ts AS TIMESTAMP)) AS DOUBLE))
             ELSE COALESCE(prev_v, next_v)
           END, 6) AS filled
    FROM ctx
    """,
)
def q_interpolate_gaps(spark):
    """Time-series linear interpolation: every 5th event's value is
    masked, then reconstructed from its per-user temporal neighbors —
    ``prev + (next - prev) · Δt/ΔT`` over ignore-nulls window frames,
    edges carried from the available side. Two sorts on (user, time)
    per the two frames, no joins; the identical IEEE expression order on
    both engines makes the filled values hash-exact at 6 places."""
    return _interpolate_masked_events(spark.table("events"))


def _interpolate_masked_events(events: DataFrame) -> DataFrame:
    """Body of q_interpolate_gaps over an arbitrary events relation
    (factored out so the zero-span duplicate-timestamp branch — which the
    sf fixtures never trigger — is testable on a crafted frame)."""
    from pyspark.sql import Window

    e = events.select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.col("event_id") % 5 == 0, F.lit(None))
        .otherwise(F.col("value").cast("double"))
        .alias("v"),
    )
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    w_prev = (
        Window.partitionBy("user_id").orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_next = (
        Window.partitionBy("user_id").orderBy(*order)
        .rowsBetween(1, Window.unboundedFollowing)
    )
    v_ts = F.when(F.col("v").isNotNull(), F.col("ts"))
    ctx = (
        e.withColumn("prev_v", F.last("v", ignorenulls=True).over(w_prev))
        .withColumn("prev_ts", F.last(v_ts, ignorenulls=True).over(w_prev))
        .withColumn("next_v", F.first("v", ignorenulls=True).over(w_next))
        .withColumn("next_ts", F.first(v_ts, ignorenulls=True).over(w_next))
    )
    frac = (
        (F.unix_micros("ts") - F.unix_micros("prev_ts")).cast("double")
        / (F.unix_micros("next_ts") - F.unix_micros("prev_ts")).cast("double")
    )
    # next_ts > prev_ts guards the zero-span gap (duplicate timestamps):
    # Spark's non-ANSI 0/0 is NULL while DuckDB's IEEE division is NaN,
    # so without the guard the two engines would diverge — fall back to
    # prev_v (the coalesce branch) identically on both sides instead
    filled = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("prev_v").isNotNull()
            & F.col("next_v").isNotNull()
            & (F.col("next_ts") > F.col("prev_ts")),
            F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * frac,
        )
        .otherwise(F.coalesce(F.col("prev_v"), F.col("next_v")))
    )
    return ctx.select(
        "user_id",
        "event_id",
        F.col("v").alias("observed"),
        F.round(filled, 6).alias("filled"),
    )


@q(
    "q_geo_neighbor_pairs",
    """
    WITH u AS (SELECT DISTINCT user_id FROM events),
    pts AS (
      SELECT user_id,
             CAST(CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR) || ':lat'), 1, 8)) AS BIGINT)
                  % 1200000 AS DOUBLE) / 10000.0 - 60.0 AS lat,
             CAST(CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR) || ':lon'), 1, 8)) AS BIGINT)
                  % 3600000 AS DOUBLE) / 10000.0 - 180.0 AS lon
      FROM u
    ),
    cells AS (
      SELECT user_id, lat, lon,
             CAST(floor(lat / 40.0) AS BIGINT) AS cy,
             CAST(floor(lon / 40.0) AS BIGINT) AS cx
      FROM pts
    ),
    probe_src AS (
      SELECT user_id, lat, lon FROM pts
      UNION ALL
      SELECT user_id, lat, lon - 360.0 AS lon FROM pts WHERE lon >= 180.0 - 40.0
      UNION ALL
      SELECT user_id, lat, lon + 360.0 AS lon FROM pts WHERE lon < -180.0 + 40.0
    ),
    probe_cells AS (
      SELECT user_id, lat, lon,
             CAST(floor(lat / 40.0) AS BIGINT) AS cy,
             CAST(floor(lon / 40.0) AS BIGINT) AS cx
      FROM probe_src
    ),
    probing AS (
      SELECT c.user_id AS id_a, c.lat AS lat_a, c.lon AS lon_a,
             c.cy + o.dy AS cy, c.cx + o.dx AS cx
      FROM probe_cells c
      CROSS JOIN (SELECT unnest(range(-1, 2)) AS dy) oy
      CROSS JOIN (SELECT unnest(range(-1, 2)) AS dx) ox
      CROSS JOIN (SELECT oy.dy, ox.dx) o
    ),
    pairs AS (
      SELECT p.id_a, h.user_id AS id_b, p.lat_a, p.lon_a,
             h.lat AS lat_b, h.lon AS lon_b
      FROM probing p JOIN cells h ON p.cy = h.cy AND p.cx = h.cx
      WHERE p.id_a < h.user_id
    ),
    scored AS (
      SELECT id_a, id_b,
             ROUND(12742.0 * asin(sqrt(
               sin(radians(lat_b - lat_a) / 2) * sin(radians(lat_b - lat_a) / 2)
               + cos(radians(lat_a)) * cos(radians(lat_b))
                 * sin(radians(lon_b - lon_a) / 2) * sin(radians(lon_b - lon_a) / 2)
             )), 3) AS dist_km
      FROM pairs
    )
    SELECT id_a, id_b, dist_km FROM scored WHERE dist_km <= 2000.0
    """,
)
def q_geo_neighbor_pairs(spark):
    """Spatial neighbor join (operators/geo.neighbor_pairs): user
    coordinates derived deterministically from md5(user_id) (the corpus
    has no geo columns — the derivation is the fixture), then all pairs
    within 2000 km via the 3x3 grid-probe bucket join — same
    bucket-join discipline as the LSH/fuzzy families, exact haversine
    post-filter rounded to 3 decimals (meters of slack vs the ~1e-9
    relative trig ulp, so both engines hash-match)."""
    from muninn_avro_to_parquet_spark.operators import geo

    def coord(salt: str, mod: int, scale: float, shift: float):
        h = F.conv(
            F.substring(F.md5(F.concat(F.col("user_id").cast("string"), F.lit(salt))), 1, 8),
            16,
            10,
        ).cast("bigint")
        return (h % mod).cast("double") / F.lit(scale) - F.lit(shift)

    pts = (
        spark.table("events")
        .select("user_id")
        .distinct()
        .select(
            "user_id",
            coord(":lat", 1_200_000, 10000.0, 60.0).alias("lat"),
            coord(":lon", 3_600_000, 10000.0, 180.0).alias("lon"),
        )
    )
    return geo.neighbor_pairs(
        pts, "user_id", "lat", "lon", radius_km=2000.0, cell_deg=40.0
    )


@q(
    "q_user_streaks",
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    grp AS (
      SELECT user_id, day,
             day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                           ORDER BY day) AS INTEGER) AS g
      FROM days
    ),
    runs AS (
      SELECT user_id, g, CAST(COUNT(*) AS BIGINT) AS run_len
      FROM grp GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(MAX(run_len) AS BIGINT) AS longest_streak,
           CAST(SUM(run_len) AS BIGINT) AS n_active_days
    FROM runs GROUP BY user_id
    """,
)
def q_user_streaks(spark):
    """Longest consecutive-day activity streak per user — the classic
    gaps-and-islands pattern: distinct active days, island key = day
    minus its per-user row number (constant within a consecutive run),
    run lengths aggregated twice. One shuffle on user, windows + two
    hash aggregates, no self-join."""
    from pyspark.sql import Window

    days = (
        spark.table("events")
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    grp = days.withColumn(
        "g", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    runs = grp.groupBy("user_id", "g").agg(F.count("*").cast("long").alias("run_len"))
    return runs.groupBy("user_id").agg(
        F.max("run_len").cast("long").alias("longest_streak"),
        F.sum("run_len").cast("long").alias("n_active_days"),
    )


@q(
    "q_date_spine_gapfill",
    """
    WITH spine AS (
      SELECT unnest(generate_series(TIMESTAMP '1995-01-01',
                                    TIMESTAMP '2001-12-01',
                                    INTERVAL 1 MONTH)) AS month
    ),
    prio AS (SELECT DISTINCT o_orderpriority FROM orders),
    actual AS (
      SELECT date_trunc('month', o_orderdate) AS month, o_orderpriority,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      FROM orders GROUP BY 1, 2
    )
    SELECT strftime(s.month, '%Y-%m-%d') AS month,
           p.o_orderpriority,
           COALESCE(a.n_orders, 0) AS n_orders,
           COALESCE(a.total, 0.0) AS total
    FROM spine s
    CROSS JOIN prio p
    LEFT JOIN actual a ON a.month = s.month AND a.o_orderpriority = p.o_orderpriority
    """,
)
def q_date_spine_gapfill(spark):
    """Gap-filled monthly time series: a generated date spine (sequence +
    explode — rows from a literal, no table scan) cross-joined with the
    dimension domain, left-joined against the sparse monthly aggregate,
    empty cells coalesced to zero. Broadcast goes on the AGGREGATE side:
    after the groupBy, ``actual`` is bounded by the key domain
    (#months × #priorities — a few hundred rows at any data scale), so
    it is the build side of a left-outer BroadcastHashJoin with the
    spine domain preserved. Broadcasting the preserved (spine) side is
    impossible in Spark — build-right is only legal for left-outer and
    build-left only for right-outer — which is exactly the dropped-hint
    trap the r9 version fell into; the aggregate side still shuffles
    once on its grouping keys (map-side combined) regardless of scale."""
    spine = spark.range(1).select(
        F.explode(
            F.expr(
                "sequence(timestamp'1995-01-01', timestamp'2001-12-01', interval 1 month)"
            )
        ).alias("month")
    )
    o = spark.table("orders")
    prio = o.select("o_orderpriority").distinct()
    actual = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month"),
        "o_orderpriority",
    ).agg(
        F.count("*").alias("n_orders"),
        F.sum(_dec("o_totalprice", MONEY)).cast("double").alias("total"),
    )
    return (
        spine.crossJoin(F.broadcast(prio))
        .join(F.broadcast(actual), ["month", "o_orderpriority"], "left")
        .select(
            F.date_format("month", "yyyy-MM-dd").alias("month"),
            "o_orderpriority",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("total", F.lit(0.0)).alias("total"),
        )
    )


@q(
    "q_rank_metrics",
    """
    SELECT o_orderpriority, o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           rnk, drnk, pct_rank, cdist
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn,
             rank()        OVER (PARTITION BY o_orderpriority
                                 ORDER BY o_totalprice DESC) AS rnk,
             dense_rank()  OVER (PARTITION BY o_orderpriority
                                 ORDER BY o_totalprice DESC) AS drnk,
             percent_rank() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice DESC) AS pct_rank,
             cume_dist()   OVER (PARTITION BY o_orderpriority
                                 ORDER BY o_totalprice DESC) AS cdist
      FROM orders
    ) WHERE rn <= 5
    """,
)
def q_rank_metrics(spark):
    """The full ranking-function family (rank / dense_rank / percent_rank
    / cume_dist) sharing ONE window partition — Catalyst evaluates all
    four in a single Window operator pass (one shuffle + one sort), and
    the row_number top-5 filter prunes output before it leaves the
    window stage. percent_rank and cume_dist are integer-ratio doubles —
    bit-deterministic across engines."""
    from pyspark.sql.window import Window

    by_price = Window.partitionBy("o_orderpriority").orderBy(F.col("o_totalprice").desc())
    tiebreak = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return (
        spark.table("orders")
        .select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(tiebreak).alias("rn"),
            F.rank().over(by_price).alias("rnk"),
            F.dense_rank().over(by_price).alias("drnk"),
            F.percent_rank().over(by_price).alias("pct_rank"),
            F.cume_dist().over(by_price).alias("cdist"),
        )
        .filter(F.col("rn") <= 5)
        .select(
            "o_orderpriority",
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "rnk",
            "drnk",
            "pct_rank",
            "cdist",
        )
    )


@q(
    "q_cohort_retention",
    """
    WITH firsts AS (
      SELECT o_custkey,
             MIN(CAST(strftime(o_orderdate, '%Y') AS INT) * 12
                 + CAST(strftime(o_orderdate, '%m') AS INT)) AS cohort_idx
      FROM orders GROUP BY o_custkey
    )
    SELECT cohort_idx,
           (CAST(strftime(o_orderdate, '%Y') AS INT) * 12
            + CAST(strftime(o_orderdate, '%m') AS INT)) - cohort_idx AS months_since,
           COUNT(DISTINCT o.o_custkey) AS active_customers,
           COUNT(*) AS n_orders
    FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
    GROUP BY 1, 2
    """,
)
def q_cohort_retention(spark):
    """Cohort retention: customers bucketed by first-order month, activity
    counted at each month offset — self-join of orders against its own
    per-customer min. Both the pre-aggregate and the join shuffle on
    o_custkey (one exchange, reused); month arithmetic is pure integer
    (year*12+month) so offsets are engine-exact. The final agg is a
    COUNT(DISTINCT) over (cohort, offset) — partial-distinct map-side,
    as `.explain` shows via the two-phase HashAggregate expand."""
    o = spark.table("orders")
    midx = (
        F.date_format("o_orderdate", "yyyy").cast("int") * 12
        + F.date_format("o_orderdate", "MM").cast("int")
    )
    firsts = o.groupBy("o_custkey").agg(F.min(midx).alias("cohort_idx"))
    joined = o.join(firsts, "o_custkey").select(
        "o_custkey",
        "cohort_idx",
        (midx - F.col("cohort_idx")).alias("months_since"),
    )
    return joined.groupBy("cohort_idx", "months_since").agg(
        F.count_distinct("o_custkey").alias("active_customers"),
        F.count("*").alias("n_orders"),
    )


@q(
    "q_posexplode_tokens",
    """
    SELECT doc_id, CAST(u.i AS INT) - 1 AS pos, toks[u.i] AS token
    FROM (
      SELECT doc_id,
             list_filter(string_split_regex(regexp_replace(lower(text),
                         '[^a-z0-9一-鿿 ]', ' ', 'g'), ' +'), x -> x <> '') AS toks
      FROM documents WHERE doc_id < 20
    ), unnest(range(1, len(toks) + 1)) AS u(i)
    """,
)
def q_posexplode_tokens(spark):
    """Ordered token stream via posexplode (lateral view) — the row-level
    inverse of the text operators' packed-array form, exercised on a
    doc_id-pruned slice so the row blow-up is bounded and intentional.
    The tokenizer is operators/text.tokens verbatim, so positions align
    with every other token-level operator in the engine."""
    d = spark.table("documents").filter(F.col("doc_id") < 20)
    from muninn_avro_to_parquet_spark.operators.text import tokens as tok

    return d.select(
        "doc_id", F.posexplode(tok(F.col("text"))).alias("pos", "token")
    )


@q(
    "q_token_runs_udtf",
    f"""
    WITH toks AS (
      SELECT doc_id,
             unnest({_SQL_TOKENS}) AS token,
             unnest(range(1, len({_SQL_TOKENS}) + 1)) AS pos
      FROM documents WHERE doc_id < 50
    ),
    runs AS (
      SELECT doc_id, token, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id, token ORDER BY pos) AS grp
      FROM toks
    )
    SELECT doc_id, CAST(MIN(pos) AS INT) AS start_pos, token,
           CAST(COUNT(*) AS INT) AS run_len
    FROM runs GROUP BY doc_id, token, grp
    """,
)
def q_token_runs_udtf(spark):
    """Python UDTF + LATERAL join (functions/udtfs.TokenRuns): run-length
    encoding of each document's token stream, where one input row yields
    a data-dependent number of output rows through imperative per-row
    logic — the table-function corner of the UDF surface (SURVEY §2.2;
    scalar pandas UDFs and the grouped-map UDAF cover the rest). The
    oracle rebuilds the runs declaratively (gaps-and-islands window), so
    the hash gate proves the imperative and relational forms equivalent.
    Doc-pruned slice: UDTFs are row-at-a-time Python — the slow path by
    design; unbounded corpora use the window form instead."""
    from muninn_avro_to_parquet_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    return spark.sql(
        """
        SELECT t.doc_id, r.start_pos, r.token, r.run_len
        FROM documents AS t, LATERAL token_runs(t.text) AS r
        WHERE t.doc_id < 50
        """
    )


@q(
    "q_first_last_window",
    """
    SELECT user_id,
           first_value(event_type) OVER w AS first_type,
           last_value(event_type)  OVER w AS last_type,
           nth_value(event_type, 2) OVER w AS second_type,
           COUNT(*) OVER w AS n_events
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1
    """,
)
def q_first_last_window(spark):
    """first/last/nth_value over an explicit unbounded ROWS frame (the
    default frame stops at CURRENT ROW, where last_value degenerates to
    the row itself — a classic silent-wrong-answer; the explicit frame is
    the correct form). One row per user via row_number, same window sort
    reused: a single shuffle + sort evaluates all five functions."""
    from pyspark.sql.window import Window

    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    full = order.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        spark.table("events")
        .select(
            "user_id",
            F.first("event_type").over(full).alias("first_type"),
            F.last("event_type").over(full).alias("last_type"),
            F.nth_value("event_type", 2).over(full).alias("second_type"),
            F.count("*").over(full).alias("n_events"),
            F.row_number().over(order).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@q(
    "q_temperature_mixture",
    """
    WITH c AS (SELECT source, COUNT(*) AS n_rows FROM documents GROUP BY 1),
    w AS (
      SELECT source, n_rows,
             CAST(ROUND(sqrt(CAST(n_rows AS DOUBLE)) * 1000000) AS BIGINT)
               AS weight_micro
      FROM c
    )
    SELECT source, CAST(n_rows AS BIGINT) AS n_rows, weight_micro,
           ROUND(CAST(weight_micro AS DOUBLE)
                 / CAST((SELECT SUM(weight_micro) FROM w) AS DOUBLE), 6)
             AS share_micro
    FROM w
    """,
)
def q_temperature_mixture(spark):
    """α-temperature mixture targets
    (operators/pipeline.temperature_mixture_weights, α=0.5): per-source
    weight ∝ sqrt(n) micro-quantized to BIGINT — the multilingual
    rebalancing whose integer output feeds sample_to_target_mixture.
    sqrt/multiply are correctly-rounded IEEE ops, so the doubles are
    bit-identical across engines before quantization."""
    from muninn_avro_to_parquet_spark.operators import pipeline as pl

    return pl.temperature_mixture_weights(
        spark.table("documents"), "source", alpha=0.5
    )


@q(
    "q_training_order",
    """
    WITH s AS (
      SELECT doc_id, source,
             md5(CAST(doc_id AS VARCHAR) || ':order') AS shuf
      FROM documents
    ),
    r AS (
      SELECT doc_id, source, shuf,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY shuf, doc_id) AS r
      FROM s
    ),
    n AS (SELECT source, COUNT(*) AS n_s FROM r GROUP BY 1),
    k AS (
      SELECT r.source, r.doc_id, r.r,
             (CAST(r.r - 1 AS HUGEINT) * 1000000000000 + 500000000000) // n_s AS vt
      FROM r JOIN n USING (source)
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY vt, source, r) AS BIGINT) AS step,
           source, doc_id
    FROM k
    """,
)
def q_training_order(spark):
    """Deterministic stride-scheduled training order
    (operators/pipeline.training_order): one global example sequence in
    which every source appears evenly spread in proportion to its size —
    the data-loader order computed at corpus-build time. md5 stable
    shuffle within source, integer virtual-time stride, and the global
    step from range-partitioned global_row_number (never a
    single-partition window)."""
    from muninn_avro_to_parquet_spark.operators import pipeline as pl

    out = pl.training_order(spark.table("documents"), "doc_id", "source")
    return out.select(
        F.col("step").cast("long").alias("step"), "source", "doc_id"
    )


@q(
    "q_key_skew_report",
    """
    WITH k AS (SELECT user_id AS key, COUNT(*) AS n_rows FROM events GROUP BY 1),
    t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total FROM k),
    topk AS (SELECT key, n_rows FROM k ORDER BY n_rows DESC, key LIMIT 20),
    r AS (SELECT key, n_rows,
                 ROW_NUMBER() OVER (ORDER BY n_rows DESC, key) AS rank
          FROM topk)
    SELECT CAST(rank AS BIGINT) AS rank, key, CAST(n_rows AS BIGINT) AS n_rows,
           ROUND(CAST(n_rows AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share,
           ROUND(CAST(SUM(n_rows) OVER (ORDER BY rank) AS DOUBLE)
                 / CAST(total AS DOUBLE), 6) AS cum_share
    FROM r CROSS JOIN t
    """,
)
def q_key_skew_report(spark):
    """Join-key skew diagnostic (operators/skew.key_skew_report): the 20
    hottest event user_ids with share and cumulative share of all rows —
    the number read before choosing salted_join's num_salts. GroupBy on
    the key, distributed TakeOrdered for the top 20 (no global sort),
    broadcast 1-row total; the rank/cumulative windows see 20 rows."""
    from muninn_avro_to_parquet_spark.operators import skew

    rep = skew.key_skew_report(spark.table("events"), "user_id", top_k=20)
    return rep.select(
        F.col("rank").cast("long").alias("rank"),
        "key",
        F.col("n_rows").cast("long").alias("n_rows"),
        "share",
        "cum_share",
    )


@q(
    "q_group_quartiles",
    """
    WITH g AS (
      SELECT event_type, CAST(floor(value * 1000000) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL
    ),
    r AS (
      SELECT event_type, v,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM g
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_events,
           MAX(CASE WHEN rn = (n + 3) // 4 THEN v END) AS q1_micros,
           MAX(CASE WHEN rn = (n + 1) // 2 THEN v END) AS median_micros,
           MAX(CASE WHEN rn = (3 * n + 3) // 4 THEN v END) AS q3_micros
    FROM r GROUP BY 1
    """,
)
def q_group_quartiles(spark):
    """EXACT per-group quartiles fully JVM-side: nearest-rank
    (percentile_disc) positions computed by integer arithmetic over a
    per-group row_number — one exchange on the group key, the final
    aggregate reuses the window's partitioning, no Python crossing
    (contrast q_pandas_grouped_stats, the Arrow grouped-map route to the
    same order statistics). Values quantized to micros so rank positions
    and selected values are engine-exact; approx_percentile would never
    hash-match."""
    from pyspark.sql import Window

    g = (
        spark.table("events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.floor(F.col("value") * 1000000).cast("long").alias("v"),
        )
    )
    r = g.select(
        "event_type",
        "v",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("v"))
        .alias("rn"),
        F.count("*")
        .over(Window.partitionBy("event_type"))
        .alias("n"),
    )
    pick = lambda pos: F.max(F.when(F.col("rn") == F.expr(pos), F.col("v")))  # noqa: E731
    return r.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_events"),
        pick("(n + 3) div 4").alias("q1_micros"),
        pick("(n + 1) div 2").alias("median_micros"),
        pick("(3 * n + 3) div 4").alias("q3_micros"),
    )


@q(
    "q_pandas_grouped_stats",
    """
    WITH g AS (
      SELECT event_type,
             list_sort(list(CAST(floor(value * 1000000) AS BIGINT))) AS l,
             COUNT(*) AS n
      FROM events GROUP BY event_type
    )
    SELECT event_type, n,
           l[CAST((n + 1) // 2 AS INT)] + l[CAST(n // 2 + 1 AS INT)] AS median_micros_x2,
           l[1] AS min_micros,
           l[CAST(n AS INT)] AS max_micros
    FROM g
    """,
)
def q_pandas_grouped_stats(spark):
    """Custom vectorized aggregate through the Arrow grouped-map path
    (operators/udaf.grouped_value_stats): per event type, exact order
    statistics a built-in hash agg can't produce in one pass. This is
    the registry's proof of the applyInPandas custom-operator surface —
    each group crosses to Python ONCE as an Arrow batch; the shuffle is
    the same single hash exchange a built-in agg would plan."""
    from muninn_avro_to_parquet_spark.operators import udaf

    return udaf.grouped_value_stats(spark.table("events"), "event_type", "value")


@q(
    "text_repetition",
    f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKENS} AS t FROM documents
    ),
    grams AS (
      SELECT doc_id,
             list_transform(range(1, GREATEST(len(t) - 1, 1)),
                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS g
      FROM toks
    )
    SELECT doc_id,
           CAST(len(g) AS BIGINT) AS n_grams,
           CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct,
           CASE WHEN len(g) > 0
                THEN CAST(len(g) - len(list_distinct(g)) AS DOUBLE) / len(g)
                ELSE 0.0 END AS dup_ratio
    FROM grams
    """,
)
def text_repetition(spark):
    """Gopher-style repetition signal: the fraction of duplicate word
    3-grams per document (high ⇒ boilerplate/spam; a standard LLM
    training-data quality gate alongside doc_quality_filter). Pure
    Column expressions — tokens materialized once, n-grams built by
    index transform (no explode), distinct counted in-array. The ratio
    divides two exact ints, so it is engine-identical."""
    from muninn_avro_to_parquet_spark.operators import text as text_ops

    d = spark.table("documents").select(
        "doc_id", text_ops.tokens(F.col("text")).alias("t")
    )
    g = d.select("doc_id", text_ops.word_ngrams(F.col("t"), 3).alias("g"))
    n = F.size("g").cast("long")
    nd = F.size(F.array_distinct("g")).cast("long")
    return g.select(
        "doc_id",
        n.alias("n_grams"),
        nd.alias("n_distinct"),
        F.when(n > 0, (n - nd).cast("double") / n).otherwise(F.lit(0.0)).alias("dup_ratio"),
    )


@q(
    "q_pack_sequences",
    f"""
    WITH tc AS (
      SELECT doc_id, source,
             CAST(COALESCE(len({_SQL_TOKENS}), 0) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM tc
    )
    SELECT doc_id, source, n_tokens, CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id
    FROM c
    """,
)
def q_pack_sequences(spark):
    """Training sequence packing (operators/pipeline.pack_token_budget):
    docs laid end-to-end per source shard, cut into 2048-token packs.
    One window partition per shard — parallel across shards, sequential
    only within, which is the inherent data dependency of packing."""
    return pipeline.pack_token_budget(
        spark.table("documents"), budget=2048
    )


@q(
    "q_cdc_snapshot",
    """
    WITH env AS (
      SELECT user_id, event_type, CAST(value AS DOUBLE) AS value,
             epoch_us(CAST(ts AS TIMESTAMP)) AS tx_id,
             lpad(CAST(event_id AS VARCHAR), 12, '0') AS lsn,
             (event_id % 7 = 0) AS is_del
      FROM events
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY tx_id DESC, lsn DESC) AS rn
      FROM env
    )
    SELECT user_id, event_type, value, tx_id, lsn FROM r WHERE rn = 1 AND NOT is_del
    """,
)
def q_cdc_snapshot(spark):
    """CDC current-state materialization (operators/cdc.cdc_latest_snapshot):
    latest row per key by (tx_id, lsn) envelope ordering, tombstone keys
    dropped from the snapshot. The envelope is synthesized
    deterministically from events (tx_id = epoch micros, lsn = padded
    event id, every 7th event a DELETE) so the driver's hash gate checks
    the MERGE-shaped operator end-to-end, not just unit fixtures."""
    from muninn_avro_to_parquet_spark.operators import cdc

    e = spark.table("events")
    env = e.select(
        F.struct(
            F.unix_micros(F.col("ts")).alias("tx_id"),
            F.lpad(F.col("event_id").cast("string"), 12, "0").alias("lsn"),
            (F.col("event_id") % 7 == 0).alias("is_deleted"),
            F.when(F.col("event_id") % 7 == 0, F.lit("DELETE"))
            .otherwise(F.lit("UPDATE"))
            .alias("change_type"),
        ).alias("source_metadata"),
        "user_id",
        "event_type",
        F.col("value").cast("double").alias("value"),
    )
    snap = cdc.cdc_latest_snapshot(env, ["user_id"])
    return snap.select(
        "user_id",
        "event_type",
        "value",
        F.col("source_metadata.tx_id").alias("tx_id"),
        F.col("source_metadata.lsn").alias("lsn"),
    )


@q(
    "q_snapshot_diff",
    """
    WITH env AS (
      SELECT user_id, event_id, event_type, CAST(value AS DOUBLE) AS value,
             epoch_us(CAST(ts AS TIMESTAMP)) AS tx_id,
             lpad(CAST(event_id AS VARCHAR), 12, '0') AS lsn,
             (event_id % 7 = 0) AS is_del
      FROM events
    ),
    old_r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY tx_id DESC, lsn DESC) AS rn
      FROM env WHERE event_id % 3 <> 0
    ),
    old_s AS (SELECT user_id, event_type, value FROM old_r WHERE rn = 1 AND NOT is_del),
    new_r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY tx_id DESC, lsn DESC) AS rn
      FROM env
    ),
    new_s AS (SELECT user_id, event_type, value FROM new_r WHERE rn = 1 AND NOT is_del)
    SELECT * FROM (
      SELECT COALESCE(o.user_id, n.user_id) AS user_id,
             CASE WHEN o.user_id IS NULL THEN 'added'
                  WHEN n.user_id IS NULL THEN 'removed'
                  WHEN o.event_type IS DISTINCT FROM n.event_type
                    OR o.value IS DISTINCT FROM n.value THEN 'changed'
             END AS change_type,
             o.event_type AS old_event_type, n.event_type AS new_event_type,
             o.value AS old_value, n.value AS new_value
      FROM old_s o FULL OUTER JOIN new_s n ON o.user_id = n.user_id
    ) WHERE change_type IS NOT NULL
    """,
)
def q_snapshot_diff(spark):
    """Snapshot version diff (operators/cdc.dataframe_diff — the engine
    under ``snapshot_diff``): added / removed / changed keys between two
    CDC snapshot states. Version 1 is built from two thirds of the change
    stream (event_id % 3 <> 0), version 2 from all of it, so the diff
    exercises every change type: keys whose only events were withheld
    ('added' once they arrive), keys whose late-arriving latest change is
    a tombstone ('removed'), and keys whose winner flipped ('changed').
    One full-outer shuffle join on the key — diffing costs one merge."""
    from muninn_avro_to_parquet_spark.operators import cdc

    e = spark.table("events")
    env = e.select(
        F.struct(
            F.unix_micros(F.col("ts")).alias("tx_id"),
            F.lpad(F.col("event_id").cast("string"), 12, "0").alias("lsn"),
            (F.col("event_id") % 7 == 0).alias("is_deleted"),
            F.when(F.col("event_id") % 7 == 0, F.lit("DELETE"))
            .otherwise(F.lit("UPDATE"))
            .alias("change_type"),
        ).alias("source_metadata"),
        "event_id",
        "user_id",
        "event_type",
        F.col("value").cast("double").alias("value"),
    )
    old = cdc.cdc_latest_snapshot(env.filter(F.col("event_id") % 3 != 0), ["user_id"])
    new = cdc.cdc_latest_snapshot(env, ["user_id"])
    return cdc.dataframe_diff(old, new, ["user_id"], compare_cols=["event_type", "value"])


@q(
    "q_merge_upsert",
    """
    WITH t AS (
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS o_totalprice,
             strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate
      FROM orders
    ),
    s AS (
      SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
             'U' AS o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) + 10 AS DOUBLE) AS o_totalprice,
             (o_orderkey % 10 = 0) AS is_del
      FROM orders WHERE o_orderkey % 5 = 0
      UNION ALL
      SELECT CAST(o_orderkey AS BIGINT) + 1000000000, 'N',
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE), FALSE
      FROM orders WHERE o_orderkey % 17 = 0
    )
    SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
                ELSE t.o_orderstatus END AS o_orderstatus,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
                ELSE t.o_totalprice END AS o_totalprice,
           t.o_orderdate
    FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey
    WHERE NOT (t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL AND s.is_del)
      AND NOT (t.o_orderkey IS NULL AND s.is_del)
    """,
)
def q_merge_upsert(spark):
    """MERGE INTO (operators/cdc.merge_upsert): a CDC batch synthesized
    deterministically from orders — every 5th key an UPDATE (+10 price,
    status 'U'), every 10th a DELETE, every 17th a brand-new key INSERT —
    merged into the orders table in one full-outer hash join. The oracle
    is the MERGE truth table written longhand, so the driver hash-checks
    all four branches (update / delete / insert / untouched) end-to-end;
    inserted rows correctly surface NULL for the target-only o_orderdate
    column."""
    from muninn_avro_to_parquet_spark.operators import cdc

    o = spark.table("orders")
    t = o.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        "o_orderstatus",
        F.col("o_totalprice").cast(MONEY).cast("double").alias("o_totalprice"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
    )
    upd = o.filter(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice").cast(MONEY) + 10).cast("double").alias("o_totalprice"),
        (F.col("o_orderkey") % 10 == 0).alias("is_del"),
    )
    ins = o.filter(F.col("o_orderkey") % 17 == 0).select(
        (F.col("o_orderkey").cast("long") + 1000000000).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        F.col("o_totalprice").cast(MONEY).cast("double").alias("o_totalprice"),
        F.lit(False).alias("is_del"),
    )
    return cdc.merge_upsert(
        t,
        upd.unionByName(ins),
        ["o_orderkey"],
        update_cols=["o_orderstatus", "o_totalprice"],
        delete_col="is_del",
    )


@q(
    "q_salted_join",
    """
    SELECT e.user_id, e.event_id, e.event_type, c.c_name AS user_name,
           CAST(e.value AS DOUBLE) AS value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE c.c_custkey <= 50
    """,
)
def q_salted_join(spark):
    """Hot-key salted join (operators/skew.salted_join): the events fact
    side gets a deterministic row-hash salt, the customer dim side is
    replicated once per salt, and the join key becomes (key, salt) —
    spreading a pathological hot key over num_salts tasks. Salting is
    semantics-preserving, so the oracle is the PLAIN join: the driver's
    hash gate proves row-for-row equivalence, not just plan shape."""
    from muninn_avro_to_parquet_spark.operators import skew

    e = spark.table("events").select("user_id", "event_id", "event_type", "value")
    c = (
        spark.table("customer")
        .filter(F.col("c_custkey") <= 50)
        .select(F.col("c_custkey").alias("user_id"), F.col("c_name").alias("user_name"))
    )
    return skew.salted_join(e, c, on=["user_id"], num_salts=8).select(
        "user_id",
        "event_id",
        "event_type",
        "user_name",
        F.col("value").cast("double").alias("value"),
    )


@q(
    "sample_token_budget",
    f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(COALESCE(len({_SQL_TOKENS}), 0) AS BIGINT) AS n_tokens,
             substr(md5('budget-v1:' || CAST(doc_id AS VARCHAR)), 1, 4) AS h
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY h ASC, doc_id ASC
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM t
    )
    SELECT doc_id, source, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 5000
    """,
)
def sample_token_budget(spark):
    """Token-budget mixture sampling (operators/pipeline.sample_token_budget):
    each source stratum keeps the maximal md5-ordered document prefix whose
    running token count stays within the budget — how a training mixture
    is actually specified ('N tokens of web'), deterministic across
    engines and stable under corpus growth."""
    return pipeline.sample_token_budget(
        spark.table("documents"), budget_per_stratum=5000
    )


@q(
    "sample_exact_n",
    """
    WITH r AS (
      SELECT doc_id, source, lang,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY substr(md5('exact-n-v1:' || CAST(doc_id AS VARCHAR)), 1, 4) ASC,
                        doc_id ASC) AS rn
      FROM documents
    )
    SELECT doc_id, source, lang FROM r WHERE rn <= 40
    """,
)
def sample_exact_n(spark):
    """Exactly-N-per-stratum sampling (operators/pipeline.sample_exact_n):
    rank by md5 hash within each source, keep rank ≤ 40 — deterministic
    row-count-exact sampling, stable under repartitioning and engines."""
    d = spark.table("documents").select("doc_id", "source", "lang")
    return pipeline.sample_exact_n(d, n_per_stratum=40)


@q(
    "q_chunk_documents",
    """
    WITH s AS (
      SELECT doc_id, text,
             CAST(unnest(generate_series(1, greatest(length(text), 0), 448)) AS INTEGER)
               AS char_start
      FROM documents
      WHERE text IS NOT NULL AND length(text) > 0
    )
    SELECT doc_id,
           CAST((char_start - 1) // 448 AS INTEGER) AS chunk_index,
           char_start,
           substr(text, char_start, 512) AS chunk_text
    FROM s
    """,
)
def q_chunk_documents(spark):
    """Context-window chunking (operators/pipeline.chunk_documents):
    overlapping 512-char chunks (64-char overlap) with provenance
    offsets — the RAG/embedding preparation flatMap; pure
    sequence+posexplode+substring, no shuffle."""
    return pipeline.chunk_documents(
        spark.table("documents"), chunk_chars=512, overlap=64
    )


# ---------------------------------------------------------------------------
# round 3 additions: decontamination, normalized dedup, vocabulary, SCD2
# ---------------------------------------------------------------------------


@q(
    "text_decontaminate",
    f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
    bench AS (
      SELECT DISTINCT unnest(
        [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)]
      ) AS shingle
      FROM toks WHERE doc_id % 50 = 0 AND len(t) >= 3
    ),
    corp AS (
      SELECT DISTINCT doc_id, unnest(
        [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)]
      ) AS shingle
      FROM toks WHERE doc_id % 50 <> 0 AND len(t) >= 3
    ),
    hits AS (SELECT doc_id, COUNT(*) AS n FROM corp JOIN bench USING (shingle) GROUP BY 1)
    SELECT d.doc_id, CAST(COALESCE(n, 0) AS BIGINT) AS n_overlap,
           COALESCE(n, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
    WHERE d.doc_id % 50 <> 0
    """,
)
def text_decontaminate(spark):
    """Benchmark decontamination (operators/dedup.decontaminate): every
    50th document plays the held-out eval set; the rest is the corpus.
    The eval shingle set broadcasts, so the corpus-side check is a
    broadcast semi-join inside the scan — zero corpus shuffle."""
    d = spark.table("documents")
    bench = d.filter(F.col("doc_id") % 50 == 0)
    corp = d.filter(F.col("doc_id") % 50 != 0)
    return dedup.decontaminate(corp, bench, "doc_id")


@q(
    "text_decontaminate_twophase",
    f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
    bench AS (
      SELECT DISTINCT unnest(
        [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)]
      ) AS shingle
      FROM toks WHERE doc_id % 50 = 0 AND len(t) >= 3
    ),
    corp AS (
      SELECT DISTINCT doc_id, unnest(
        [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)]
      ) AS shingle
      FROM toks WHERE doc_id % 50 <> 0 AND len(t) >= 3
    ),
    hits AS (SELECT doc_id, COUNT(*) AS n FROM corp JOIN bench USING (shingle) GROUP BY 1)
    SELECT d.doc_id, CAST(COALESCE(n, 0) AS BIGINT) AS n_overlap,
           COALESCE(n, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
    WHERE d.doc_id % 50 <> 0
    """,
)
def text_decontaminate_twophase(spark):
    """Two-phase decontamination
    (operators/dedup.decontaminate_two_phase): Bloom prefilter
    corpus-wide, exact n-gram verification only over the flagged sliver.
    The oracle is deliberately the PLAIN exact operator's SQL — the
    composition must hash-match it on every document, which proves the
    prefilter's no-false-negative contract end-to-end (a dropped true
    positive would show as a value mismatch). The tiny m=1024 filter
    forces real false positives through phase 2 at sf scale."""
    d = spark.table("documents")
    bench = d.filter(F.col("doc_id") % 50 == 0)
    corp = d.filter(F.col("doc_id") % 50 != 0)
    return dedup.decontaminate_two_phase(
        corp, bench, "doc_id", m_bits=1024, num_hashes=3
    )


_BLOOM_POS = (
    "[CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || shingle), 1, 14)) "
    "AS BIGINT) % 4096 for i in range(0, 3)]"
)


@q(
    "text_decontaminate_bloom",
    f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
    bench AS (
      SELECT DISTINCT unnest(
        [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)]
      ) AS shingle
      FROM toks WHERE doc_id % 50 = 0 AND len(t) >= 3
    ),
    corp AS (
      SELECT DISTINCT doc_id, unnest(
        [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)]
      ) AS shingle
      FROM toks WHERE doc_id % 50 <> 0 AND len(t) >= 3
    ),
    bpos AS (
      SELECT DISTINCT unnest(list_distinct({_BLOOM_POS})) AS pos FROM bench
    ),
    cpos AS (
      SELECT doc_id, shingle,
             len(list_distinct({_BLOOM_POS})) AS np,
             unnest(list_distinct({_BLOOM_POS})) AS pos
      FROM corp
    ),
    gr AS (
      SELECT doc_id, shingle, np, COUNT(*) AS nhit
      FROM cpos JOIN bpos USING (pos)
      GROUP BY 1, 2, 3
    ),
    flg AS (
      SELECT doc_id, COUNT(*) AS nf FROM gr WHERE nhit = np GROUP BY 1
    )
    SELECT d.doc_id, CAST(COALESCE(nf, 0) AS BIGINT) AS n_flagged,
           COALESCE(nf, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN flg ON d.doc_id = flg.doc_id
    WHERE d.doc_id % 50 <> 0
    """,
)
def text_decontaminate_bloom(spark):
    """Bloom-filter decontamination prefilter
    (operators/dedup.decontaminate_bloom): the benchmark compresses to
    its distinct Bloom POSITION set (≤ m rows however large the eval
    union grows — here m=4096, k=3 so the sf corpus actually exercises
    false positives), the corpus probes it with a broadcast join, and a
    shingle flags iff ALL its positions are set. Deterministic SUPERSET
    of text_decontaminate's flags: the cheap corpus-wide phase of the
    two-phase hygiene pass, value-exact in both engines because the
    'filter' is md5-derived positions, not a seeded bitset."""
    d = spark.table("documents")
    bench = d.filter(F.col("doc_id") % 50 == 0)
    corp = d.filter(F.col("doc_id") % 50 != 0)
    return dedup.decontaminate_bloom(
        corp, bench, "doc_id", m_bits=4096, num_hashes=3
    )


@q(
    "dedup_normalized",
    """
    WITH h AS (
      SELECT doc_id,
             md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9一-鿿 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_hash
      FROM documents
    )
    SELECT doc_id, norm_hash,
           MIN(doc_id) OVER (PARTITION BY norm_hash) AS canonical_id,
           doc_id <> MIN(doc_id) OVER (PARTITION BY norm_hash) AS is_dup
    FROM h
    """,
)
def dedup_normalized(spark):
    """Formatting-robust exact dedup (operators/text.normalized_dedup):
    dedup on the case/punctuation/whitespace-normalized text, one window
    pass on the normalized-form hash."""
    return text.normalized_dedup(spark.table("documents"), "doc_id")


@q(
    "text_vocabulary",
    f"""
    WITH toks AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS token FROM documents),
    counts AS (
      SELECT token, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
      FROM toks GROUP BY 1
    )
    SELECT token, n_occurrences, n_docs,
           ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, token ASC) AS rank
    FROM counts
    """,
)
def text_vocabulary(spark):
    """Corpus vocabulary with Zipf ranks (operators/text.vocabulary) —
    the counting pass a BPE tokenizer trainer runs first."""
    return text.vocabulary(spark.table("documents"), "doc_id")


@q(
    "text_heavy_hitters",
    f"""
    WITH toks AS (SELECT unnest({_SQL_TOKENS}) AS token FROM documents),
    tot AS (SELECT COUNT(*) AS n FROM toks),
    c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occurrences FROM toks GROUP BY 1)
    SELECT token, n_occurrences,
           CAST(n_occurrences AS DOUBLE) / CAST(n AS DOUBLE) AS corpus_share
    FROM c, tot WHERE n_occurrences * 30 >= n
    """,
)
def text_heavy_hitters(spark):
    """Exact heavy hitters via bounded-shuffle two-phase Misra-Gries
    (operators/text.heavy_hitters): per-partition mergeable MG summaries
    propose a no-false-negative candidate superset, then a broadcast
    semi-join verifies exact counts — the shuffle never carries the
    long-tail vocabulary. The oracle is the naive full groupBy, so the
    driver hash-proves the bounded plan EXACT, not approximate."""
    return text.heavy_hitters(
        spark.table("documents"), threshold_num=1, threshold_den=30
    )


@q(
    "text_posting_lists",
    f"""
    WITH tf AS (
      SELECT token, doc_id, COUNT(*) AS tf FROM (
        SELECT doc_id, unnest({_SQL_TOKENS}) AS token FROM documents
      ) GROUP BY 1, 2
    ),
    ranked AS (
      SELECT token, doc_id, tf,
             ROW_NUMBER() OVER (PARTITION BY token
                                ORDER BY tf DESC, doc_id ASC) AS rnk
      FROM tf
    ),
    dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS doc_freq FROM tf GROUP BY 1)
    SELECT token, doc_freq,
           string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR),
                      ' ' ORDER BY rnk) AS postings
    FROM ranked JOIN dfreq USING (token)
    WHERE rnk <= 8
    GROUP BY token, doc_freq
    """,
)
def text_posting_lists(spark):
    """Capped inverted index (operators/text.posting_lists): per token,
    true document frequency + the top-8 postings by TF (doc:tf pairs).
    The rank<=k filter runs BEFORE list aggregation, so stop-word-like
    tokens cannot produce corpus-sized lists in one task — the cap is the
    100 TB guard; doc_freq stays exact regardless."""
    return text.posting_lists(spark.table("documents"), "doc_id", max_postings=8)


@q(
    "text_corpus_drift",
    f"""
    WITH ca AS (
      SELECT token, COUNT(*) AS c_a FROM (
        SELECT unnest({_SQL_TOKENS}) AS token FROM documents WHERE doc_id % 2 = 0
      ) GROUP BY 1
    ),
    cb AS (
      SELECT token, COUNT(*) AS c_b FROM (
        SELECT unnest({_SQL_TOKENS}) AS token FROM documents WHERE doc_id % 2 = 1
      ) GROUP BY 1
    ),
    merged AS (
      SELECT COALESCE(ca.token, cb.token) AS token,
             CAST(COALESCE(c_a, 0) AS BIGINT) AS c_a,
             CAST(COALESCE(c_b, 0) AS BIGINT) AS c_b
      FROM ca FULL OUTER JOIN cb ON ca.token = cb.token
    ),
    t AS (
      SELECT CAST(SUM(c_a) AS DOUBLE) AS n_a, CAST(SUM(c_b) AS DOUBLE) AS n_b,
             CAST(COUNT(*) AS DOUBLE) AS v
      FROM merged
    ),
    scored AS (
      SELECT token, c_a, c_b,
             CAST(ROUND((
               ((CAST(c_a AS DOUBLE) + 0.5) / (n_a + 0.5 * v))
                 * ln(((CAST(c_a AS DOUBLE) + 0.5) / (n_a + 0.5 * v))
                      / ((CAST(c_b AS DOUBLE) + 0.5) / (n_b + 0.5 * v)))
               + ((CAST(c_b AS DOUBLE) + 0.5) / (n_b + 0.5 * v))
                 * ln(((CAST(c_b AS DOUBLE) + 0.5) / (n_b + 0.5 * v))
                      / ((CAST(c_a AS DOUBLE) + 0.5) / (n_a + 0.5 * v)))
             ) * 1e9) AS BIGINT) AS jeffreys_nano
      FROM merged CROSS JOIN t
    )
    SELECT token, c_a, c_b, jeffreys_nano FROM scored
    ORDER BY jeffreys_nano DESC, token LIMIT 50
    """,
)
def text_corpus_drift(spark):
    """Corpus distribution drift (operators/text.corpus_drift): top-50
    token-level Jeffreys-divergence movers between two corpus slices
    (even vs odd doc_id as the deterministic stand-in for
    training-corpus vs new-batch). Contributions are integer nano-nats —
    sum them for the corpus-level divergence, rank them for the movers;
    the plan is two vocab-sized count aggregates, one full-outer join on
    token, and a broadcast 1-row binding."""
    d = spark.table("documents")
    drift = text.corpus_drift(
        d.filter(F.col("doc_id") % 2 == 0), d.filter(F.col("doc_id") % 2 == 1)
    )
    return drift.orderBy(F.desc("jeffreys_nano"), F.asc("token")).limit(50)


@q(
    "text_lm_perplexity",
    f"""
    WITH bg AS (
      SELECT doc_id, toks[u.i] AS w1, toks[u.i + 1] AS w2
      FROM (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
           unnest(range(1, len(toks))) AS u(i)
    ),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
    l AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS nafter FROM c12 GROUP BY 1),
    r AS (SELECT w2, COUNT(*) AS nleft FROM c12 GROUP BY 1),
    t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS B FROM c12),
    prob AS (
      SELECT w1, w2,
             CAST(ROUND(-ln(
               (CAST(c12 AS DOUBLE) - 0.75) / CAST(c1 AS DOUBLE)
               + (0.75 * CAST(nafter AS DOUBLE) / CAST(c1 AS DOUBLE))
                 * (CAST(nleft AS DOUBLE) / B)
             ) * 1e6) AS BIGINT) AS nll_micro
      FROM c12 JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN t
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(nll_micro) AS BIGINT) AS nll_micro,
           ROUND(exp(CAST(SUM(nll_micro) AS DOUBLE) / 1e6 / COUNT(*)), 4)
             AS perplexity
    FROM bg JOIN prob USING (w1, w2)
    GROUP BY doc_id
    """,
)
def text_lm_perplexity(spark):
    """Per-document perplexity under a corpus-trained bigram LM with
    absolute discounting + continuation fallback (operators/
    text.bigram_lm_score) — the CCNet-style LM quality filter. Each
    bigram's -ln p is quantized to integer micro-nats before summing so
    the doc total is shuffle-order-independent and engine-exact; the
    model relations are distinct-bigram-sized, scoring is one equi-join
    back onto the corpus bigrams."""
    return text.bigram_lm_score(spark.table("documents"), "doc_id")


def _bpe_oracle(num_merges: int) -> str:
    # the BPE loop unrolled: each iteration is pair-count → deterministic
    # argmax → greedy merge apply, all as window algebra (the same algebra
    # operators/bpe.py runs on Spark — see its module docstring for the
    # even-offset island rule that makes greedy left-to-right merging
    # set-expressible). Generated programmatically so the oracle and the
    # operator agree on EVERY iteration, not just the first.
    parts = [
        f"w AS (SELECT word, COUNT(*) AS freq FROM "
        f"(SELECT unnest({_SQL_TOKENS}) AS word FROM documents) GROUP BY 1)",
        "s0 AS (SELECT word, freq, CAST(pos AS INTEGER) AS pos, "
        "substr(word, CAST(pos AS INTEGER), 1) AS sym FROM "
        "(SELECT word, freq, unnest(range(1, length(word) + 1)) AS pos FROM w))",
    ]
    for k in range(1, num_merges + 1):
        p = k - 1
        parts.append(
            f"""p{k} AS (
      SELECT sym AS l, nxt AS r, SUM(freq) AS cnt FROM (
        SELECT word, freq, sym,
               LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
        FROM s{p}) WHERE nxt IS NOT NULL GROUP BY 1, 2)"""
        )
        parts.append(f"b{k} AS (SELECT l, r, cnt FROM p{k} ORDER BY cnt DESC, l, r LIMIT 1)")
        parts.append(
            f"""x{k} AS (
      SELECT s.word, s.freq, s.pos, s.sym, b.l, b.r,
             LEAD(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos) AS nxt,
             s.pos - ROW_NUMBER() OVER (PARTITION BY s.word, s.sym ORDER BY s.pos) AS grp
      FROM s{p} s CROSS JOIN b{k} b)"""
        )
        parts.append(
            f"y{k} AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY word, sym, grp "
            f"ORDER BY pos) - 1 AS off FROM x{k})"
        )
        parts.append(
            f"z{k} AS (SELECT *, (sym = l AND nxt = r AND (l <> r OR off % 2 = 0)) "
            f"AS strt FROM y{k})"
        )
        parts.append(
            f"v{k} AS (SELECT *, COALESCE(LAG(strt) OVER (PARTITION BY word "
            f"ORDER BY pos), FALSE) AS consumed FROM z{k})"
        )
        parts.append(
            f"""s{k} AS (
      SELECT word, freq,
             CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS INTEGER) AS pos,
             CASE WHEN strt THEN sym || r ELSE sym END AS sym
      FROM v{k} WHERE NOT consumed)"""
        )
    union = "\n    UNION ALL ".join(
        f"SELECT CAST({k} AS INTEGER) AS merge_rank, l AS left_sym, "
        f"r AS right_sym, CAST(cnt AS BIGINT) AS pair_count FROM b{k}"
        for k in range(1, num_merges + 1)
    )
    return "WITH " + ",\n    ".join(parts) + "\n    " + union


def _bpe_segment_oracle(num_merges: int) -> str:
    # same unrolled loop, but the result is the FINAL segmentation: the
    # post-merge symbol sequence per vocabulary word, joined to a string
    # (DuckDB list ordering inside string_agg is pinned by ORDER BY pos)
    body = _bpe_oracle(num_merges)
    union_start = body.rindex("SELECT CAST(1 AS INTEGER)")
    return (
        body[:union_start]
        + f"""SELECT word, CAST(freq AS BIGINT) AS freq,
           string_agg(sym, ' ' ORDER BY pos) AS pieces
    FROM s{num_merges} GROUP BY word, freq"""
    )


@q("text_bpe_segment", _bpe_segment_oracle(6))
def text_bpe_segment(spark):
    """Subword segmentation after the first 6 learned BPE merges
    (operators/bpe.segment_words): every vocabulary word with its piece
    sequence — applied once per DISTINCT word, never per corpus row,
    which is the 100 TB contract (segment the vocab, broadcast-join the
    pieces back to the corpus)."""
    from muninn_avro_to_parquet_spark.operators import bpe

    _, seg = bpe.learn_and_segment(spark.table("documents"), num_merges=6)
    return seg.select(
        "word",
        "freq",
        F.array_join(F.col("pieces"), " ").alias("pieces"),
    )


def _bpe_token_counts_oracle(num_merges: int) -> str:
    # BPE unroll → pieces-per-word from the final symbol relation →
    # join back onto the corpus token stream → per-doc piece totals
    body = _bpe_oracle(num_merges)
    union_start = body.rindex("SELECT CAST(1 AS INTEGER)")
    return (
        body[:union_start]
        + f""", wp AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS n_pieces_word
      FROM s{num_merges} GROUP BY word
    ),
    tok AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS word FROM documents
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(n_pieces_word) AS BIGINT) AS n_pieces
    FROM tok JOIN wp USING (word)
    GROUP BY doc_id"""
    )


@q("text_bpe_token_counts", _bpe_token_counts_oracle(6))
def text_bpe_token_counts(spark):
    """Per-document token budget under the LEARNED tokenizer: apply the
    first 6 BPE merges to the vocabulary once, then join the per-word
    piece counts back onto the corpus token stream (vocabulary-sized
    relation broadcast onto the corpus — words are never re-segmented
    per occurrence). The count a sequence-packing or pricing step would
    consume; composes learn_and_segment with one corpus aggregate."""
    from muninn_avro_to_parquet_spark.operators import bpe

    d = spark.table("documents")
    _, seg = bpe.learn_and_segment(d, num_merges=6)
    wp = seg.select("word", F.size("pieces").cast("long").alias("n_pieces_word"))
    tok = d.select("doc_id", F.explode(text.tokens(F.col("text"))).alias("word"))
    return (
        tok.join(F.broadcast(wp), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_pieces_word").cast("long").alias("n_pieces"),
        )
    )


def _bpe_batched_oracle(rounds: int, batch_size: int, slice_factor: int) -> str:
    # the BATCHED trainer unrolled: each round is pair-count → top-slice
    # rank → conservative disjoint selection (both symbols first appear at
    # the pair's own rank) → one-pass batch apply via join instead of the
    # sequential argmax literal. Same generation discipline as _bpe_oracle
    # so oracle and operator agree on EVERY round.
    slice_n = batch_size * slice_factor
    parts = [
        f"w AS (SELECT word, COUNT(*) AS freq FROM "
        f"(SELECT unnest({_SQL_TOKENS}) AS word FROM documents) GROUP BY 1)",
        "s0 AS (SELECT word, freq, CAST(pos AS INTEGER) AS pos, "
        "substr(word, CAST(pos AS INTEGER), 1) AS sym FROM "
        "(SELECT word, freq, unnest(range(1, length(word) + 1)) AS pos FROM w))",
    ]
    for k in range(1, rounds + 1):
        p = k - 1
        parts.append(
            f"""p{k} AS (
      SELECT sym AS l, nxt AS r, SUM(freq) AS cnt FROM (
        SELECT word, freq, sym,
               LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
        FROM s{p}) WHERE nxt IS NOT NULL GROUP BY 1, 2)"""
        )
        parts.append(
            f"t{k} AS (SELECT l, r, cnt FROM p{k} ORDER BY cnt DESC, l, r LIMIT {slice_n})"
        )
        parts.append(
            f"rk{k} AS (SELECT l, r, cnt, ROW_NUMBER() OVER "
            f"(ORDER BY cnt DESC, l, r) AS rk FROM t{k})"
        )
        parts.append(
            f"""fa{k} AS (
      SELECT s, MIN(rk) AS frk FROM (
        SELECT l AS s, rk FROM rk{k} UNION ALL SELECT r AS s, rk FROM rk{k})
      GROUP BY 1)"""
        )
        parts.append(
            f"""c{k} AS (
      SELECT * FROM (
        SELECT l, r, cnt, rk, ROW_NUMBER() OVER (ORDER BY rk) AS sel_rk FROM (
          SELECT q.l, q.r, q.cnt, q.rk FROM rk{k} q
          JOIN fa{k} fl ON q.l = fl.s AND q.rk = fl.frk
          JOIN fa{k} fr ON q.r = fr.s AND q.rk = fr.frk))
      WHERE sel_rk <= {batch_size})"""
        )
        parts.append(
            f"""x{k} AS (
      SELECT word, freq, pos, sym,
             LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt,
             pos - ROW_NUMBER() OVER (PARTITION BY word, sym ORDER BY pos) AS grp
      FROM s{p})"""
        )
        parts.append(
            f"y{k} AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY word, sym, grp "
            f"ORDER BY pos) - 1 AS off FROM x{k})"
        )
        parts.append(
            f"""z{k} AS (
      SELECT y.word, y.freq, y.pos, y.sym, y.nxt,
             (c.l IS NOT NULL AND (c.l <> c.r OR y.off % 2 = 0)) AS strt
      FROM y{k} y LEFT JOIN c{k} c ON y.sym = c.l AND y.nxt = c.r)"""
        )
        parts.append(
            f"v{k} AS (SELECT *, COALESCE(LAG(strt) OVER (PARTITION BY word "
            f"ORDER BY pos), FALSE) AS consumed FROM z{k})"
        )
        parts.append(
            f"""s{k} AS (
      SELECT word, freq,
             CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS INTEGER) AS pos,
             CASE WHEN strt THEN sym || nxt ELSE sym END AS sym
      FROM v{k} WHERE NOT consumed)"""
        )
    union = "\n    UNION ALL ".join(
        f"SELECT {k} AS round_idx, l, r, cnt, sel_rk FROM c{k}"
        for k in range(1, rounds + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY round_idx, sel_rk) AS INTEGER) AS merge_rank,
           CAST(round_idx AS INTEGER) AS round_idx,
           l AS left_sym, r AS right_sym, CAST(cnt AS BIGINT) AS pair_count
    FROM ({union})"""
    )


@q("text_bpe_batched", _bpe_batched_oracle(3, 4, 8))
def text_bpe_batched(spark):
    """BATCHED BPE training (operators/bpe.learn_bpe_batched): 3 rounds of
    up to 4 mutually-disjoint merges, selected and applied entirely in the
    dataflow — no per-merge driver round-trip (the r5 verdict's named BPE
    scale limit). The conservative disjoint rule (both symbols first
    appear at the pair's own rank in the top slice) makes the selection
    SQL-expressible; the oracle unrolls all 3 rounds of the identical
    algebra. Per-merge wall time is sub-linear in merge count — see the
    bpe_batched_256 bench proof."""
    from muninn_avro_to_parquet_spark.operators import bpe

    return bpe.learn_bpe_batched(
        spark.table("documents"), rounds=3, batch_size=4, slice_factor=8
    )


@q("text_bpe_merges", _bpe_oracle(6))
def text_bpe_merges(spark):
    """Distributed BPE merge learning (operators/bpe.learn_bpe): the
    first 6 tokenizer merges over the documents corpus, with the
    deterministic tie-break (count DESC, then pair lexicographic). The
    loop runs on the (word, freq) VOCABULARY relation — one corpus-sized
    aggregate, then every iteration touches a relation orders of
    magnitude smaller; the greedy merge apply is window algebra, no UDF.
    The oracle unrolls all 6 iterations of the same algebra."""
    from muninn_avro_to_parquet_spark.operators import bpe

    return bpe.learn_bpe(spark.table("documents"), num_merges=6)


@q(
    "q_scd2_history",
    """
    SELECT user_id, event_id, event_type,
           epoch_us(CAST(ts AS TIMESTAMP)) AS valid_from,
           LEAD(epoch_us(CAST(ts AS TIMESTAMP))) OVER w AS valid_to,
           LEAD(ts) OVER w IS NULL AS is_current
    FROM events WHERE user_id <= 20
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """,
)
def q_scd2_history(spark):
    """Type-2 SCD history (operators/cdc.scd2_history): per-user change
    intervals with half-open validity, built in one window pass."""
    from muninn_avro_to_parquet_spark.operators import cdc

    ev = (
        spark.table("events")
        .filter(F.col("user_id") <= 20)
        .select(
            "user_id", "event_id", "event_type", F.unix_micros("ts").alias("_us")
        )
    )
    return cdc.scd2_history(
        ev,
        key_cols=["user_id"],
        order_col="_us",
        attr_cols=["event_id", "event_type"],
        tie_break_cols=["event_id"],
    ).select(
        "user_id",
        "event_id",
        "event_type",
        F.col("valid_from"),
        "valid_to",
        "is_current",
    )


# ---------------------------------------------------------------------------
# TPC-H remainder (adapted shapes — the catalog has no partsupp table, so
# the part-supplier relation is derived from lineitem; the operator shapes
# are the point: correlated min subquery (Q2), HAVING against a scalar
# subquery (Q11), CASE-bucketed join aggregate (Q12), view + MAX scalar
# subquery (Q15), NOT IN + COUNT DISTINCT (Q16), nested IN subqueries with
# conditional HAVING (Q20), and multi-EXISTS decorrelation (Q21).
# Threshold comparisons cast exact decimal sums to DOUBLE on both engines
# (identical IEEE ops → identical outcomes); output money stays on the
# ROUND(dec-sum, 2)::DOUBLE discipline used by the other TPC-H entries.
# ---------------------------------------------------------------------------


@q(
    "q2_min_cost_supplier",
    """
    WITH ps AS (
      SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS min_price
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), regional AS (
      SELECT l_partkey, min_price, s_name, s_acctbal, n_name
      FROM ps JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name, min_price
    FROM part JOIN regional ON p_partkey = l_partkey
    WHERE p_size BETWEEN 10 AND 20 AND p_type = 'STANDARD'
      AND min_price = (SELECT MIN(r2.min_price) FROM regional r2
                       WHERE r2.l_partkey = p_partkey)
    ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark):
    """TPC-H Q2 shape: cheapest regional supplier per part, expressed as a
    correlated scalar MIN subquery in the oracle and decorrelated on the
    Spark side into a per-part min aggregate + equi-join (the rewrite
    Catalyst itself applies to correlated scalar subqueries). The
    part-supplier "catalog" is derived once from lineitem (groupBy
    partkey/suppkey MIN price — exact double selection, no arithmetic);
    region and the filtered part relation broadcast. ``regional`` is
    cached: it feeds both the probe side and the per-part min, and
    without the cache the lineitem aggregate runs twice (AQE does not
    reuse the identical subtrees — each sits under a different join).
    The cached relation is (partkey × regional suppkey)-sized — orders
    of magnitude smaller than lineitem."""
    from muninn_avro_to_parquet_spark.operators.cacheutil import cache_scoped

    ps = (
        spark.table("lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("l_extendedprice").alias("min_price"))
    )
    r = spark.table("region").filter(F.col("r_name") == "EUROPE")
    regional = cache_scoped(
        ps.join(spark.table("supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(spark.table("nation"), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("l_partkey", "min_price", "s_name", "s_acctbal", "n_name"),
        "q2_regional",
    )
    p = spark.table("part").filter(
        F.col("p_size").between(10, 20) & (F.col("p_type") == "STANDARD")
    )
    best = regional.groupBy("l_partkey").agg(F.min("min_price").alias("best_price"))
    return (
        regional.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(best, "l_partkey")
        .filter(F.col("min_price") == F.col("best_price"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "min_price")
        .orderBy(
            F.col("s_acctbal").desc(),
            F.col("n_name").asc(),
            F.col("s_name").asc(),
            F.col("p_partkey").asc(),
        )
        .limit(100)
    )


@q(
    "q11_important_parts",
    """
    WITH val AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (1 - CAST(l_discount AS DECIMAL(8,6)))) AS value_dec
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                    JOIN nation ON s_nationkey = n_nationkey
                    JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
      GROUP BY l_partkey
    )
    SELECT l_partkey AS p_partkey,
           CAST(ROUND(value_dec, 2) AS DOUBLE) AS part_value
    FROM val
    WHERE CAST(value_dec AS DOUBLE)
          > (SELECT CAST(SUM(value_dec) AS DOUBLE) FROM val) * 0.0005
    """,
)
def q11_important_parts(spark):
    """TPC-H Q11 shape: per-part value share with a HAVING threshold
    against a scalar subquery over the same relation (total regional
    value). Spark side computes the grouped relation ONCE into a scoped
    cache — it feeds both the one-row total and the final filter, and
    AQE does not reuse the identical aggregate subtrees (measured: two
    full lineitem passes uncached). The cache is one row per partkey."""
    from muninn_avro_to_parquet_spark.operators.cacheutil import cache_scoped

    rev = _dec("l_extendedprice", MONEY) * (F.lit(1) - _dec("l_discount", RATE))
    r = spark.table("region").filter(F.col("r_name") == "ASIA")
    val = cache_scoped(
        spark.table("lineitem")
        .join(spark.table("supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(spark.table("nation"), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("l_partkey")
        .agg(F.sum(rev).alias("value_dec")),
        "q11_val",
    )
    total = F.broadcast(
        val.agg(F.sum("value_dec").cast("double").alias("total_value"))
    )
    return (
        val.join(total, F.col("value_dec").cast("double") > F.col("total_value") * 0.0005)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.round("value_dec", 2).cast("double").alias("part_value"),
        )
    )


@q(
    "q12_priority_class",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
      AND l_shipdate >= o_orderdate
    GROUP BY l_returnflag
    """,
)
def q12_priority_class(spark):
    """TPC-H Q12 shape (catalog has no l_shipmode; l_returnflag is the
    grouping attribute): orders-lineitem join with CASE-bucketed priority
    counts. The date filters push into the lineitem scan; the join
    shuffles both sides on orderkey with map-side partial counts after."""
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li = spark.table("lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01 00:00:00").cast("timestamp"))
    )
    return (
        spark.table("orders")
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


@q(
    "q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                            * (1 - CAST(l_discount AS DECIMAL(8,6)))), 2)
                  AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, s_acctbal, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark):
    """TPC-H Q15 shape: quarterly revenue view + MAX scalar subquery over
    the view (returns every supplier tied at the max). The revenue
    aggregate is computed once; the one-row max broadcasts into the
    equality filter; the supplier dimension broadcasts into the final
    join. Exact-decimal accumulation rounds to 2dp before the double
    conversion so the equality compare is over identical values. The
    one-row-per-supplier view is cached: it feeds both the MAX and the
    equality probe (AQE does not reuse the identical subtrees)."""
    from muninn_avro_to_parquet_spark.operators.cacheutil import cache_scoped

    rev = _dec("l_extendedprice", MONEY) * (F.lit(1) - _dec("l_discount", RATE))
    revenue = cache_scoped(
        spark.table("lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.round(F.sum(rev), 2).cast("double").alias("total_revenue")),
        "q15_revenue",
    )
    best = F.broadcast(revenue.agg(F.max("total_revenue").alias("max_revenue")))
    return (
        revenue.join(best, F.col("total_revenue") == F.col("max_revenue"))
        .join(
            F.broadcast(spark.table("supplier")),
            F.col("s_suppkey") == F.col("supplier_no"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "total_revenue")
    )


@q(
    "q16_supplier_count",
    """
    SELECT p_brand, p_size, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
    GROUP BY p_brand, p_size
    """,
)
def q16_supplier_count(spark):
    """TPC-H Q16 shape: distinct-supplier counts per (brand, size) with a
    NOT IN exclusion subquery. s_suppkey is non-null, so NOT IN is exactly
    a left ANTI join (the null-poisoning NOT IN edge case can't fire); the
    (tiny) exclusion set broadcasts, as does the filtered part dimension.
    COUNT(DISTINCT) runs as the standard two-phase partial-distinct
    aggregate — no driver funnel."""
    p = spark.table("part").filter(
        (F.col("p_brand") != "Brand#45")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    bad = spark.table("supplier").filter(F.col("s_acctbal") < 0.0).select("s_suppkey")
    return (
        spark.table("lineitem")
        .join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


@q(
    "q20_heavy_shippers",
    """
    SELECT s_name, s_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'AMERICA'
      AND s_suppkey IN (
        SELECT l_suppkey FROM (
          SELECT l_suppkey,
                 SUM(CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
                          THEN CAST(l_quantity AS DECIMAL(12,2))
                          ELSE CAST(0 AS DECIMAL(12,2)) END) AS recent_qty,
                 SUM(CAST(l_quantity AS DECIMAL(12,2))) AS total_qty
          FROM lineitem
          WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%gear%')
          GROUP BY l_suppkey, l_partkey
        ) per_part
        WHERE CAST(recent_qty AS DOUBLE) * 2.0 > CAST(total_qty AS DOUBLE)
      )
    """,
)
def q20_heavy_shippers(spark):
    """TPC-H Q20 shape: nested IN subqueries — suppliers (in a region) who
    shipped more than half of their all-time quantity of some 'gear' part
    since 1998. Both IN subqueries become broadcast LEFT SEMI joins on the
    Spark side: the part filter semi-joins into lineitem before the
    grouped conditional-decimal sums, and the qualifying supplier set
    semi-joins into the supplier dimension. The threshold compares exact
    decimal sums cast to double (identical IEEE both engines)."""
    gear = spark.table("part").filter(F.col("p_name").like("%gear%")).select("p_partkey")
    recent = F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp")
    qty = _dec("l_quantity", QTY)
    zero = F.lit(0).cast(QTY)
    per_part = (
        spark.table("lineitem")
        .join(F.broadcast(gear), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(recent, qty).otherwise(zero)).alias("recent_qty"),
            F.sum(qty).alias("total_qty"),
        )
        .filter(
            F.col("recent_qty").cast("double") * 2.0 > F.col("total_qty").cast("double")
        )
        .select("l_suppkey")
    )
    r = spark.table("region").filter(F.col("r_name") == "AMERICA")
    return (
        spark.table("supplier")
        .join(spark.table("nation"), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(per_part, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
    )


@q(
    "q21_waiting_suppliers",
    """
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier, lineitem l1, orders
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name ASC
    LIMIT 20
    """,
)
def q21_waiting_suppliers(spark):
    """TPC-H Q21 shape ("late" = shipped >60 days after the order date —
    the catalog has no commit/receipt dates): suppliers who were the SOLE
    late shipper on a multi-supplier finalized order. The correlated
    EXISTS / NOT EXISTS pair decorrelates into ONE per-order aggregate:
    EXISTS(other supplier) ⇔ countDistinct(suppkey) ≥ 2, and
    NOT EXISTS(other late supplier) ⇔ countDistinct(late suppkey) = 1
    (the probe line itself is late, so it is that one) — a single extra
    shuffle on orderkey instead of two correlated self-joins over
    lineitem, which is the rewrite that matters when lineitem is the
    100 TB relation."""
    lo = (
        spark.table("lineitem")
        .join(
            spark.table("orders").filter(F.col("o_orderstatus") == "F"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .withColumn(
            "_late",
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL '60' DAY"),
        )
        .select("l_orderkey", "l_suppkey", "_late")
    )
    ord_stats = (
        lo.groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("_n_supp"),
            F.countDistinct(F.when(F.col("_late"), F.col("l_suppkey"))).alias(
                "_n_late_supp"
            ),
        )
        .filter((F.col("_n_supp") >= 2) & (F.col("_n_late_supp") == 1))
        .select(F.col("l_orderkey").alias("_ok"))
    )
    return (
        lo.filter(F.col("_late"))
        .join(ord_stats, F.col("l_orderkey") == F.col("_ok"), "left_semi")
        .join(
            F.broadcast(spark.table("supplier")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count("*").cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# LLM-pipeline additions (round 5): Gopher rule filter, corpus-relative
# unigram rarity, SemDeDup-style semantic dedup
# ---------------------------------------------------------------------------


@q(
    "text_gopher_rules",
    """
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9一-鿿 ]', ' ', 'g'), ' +'), x -> x <> '') AS toks,
             list_filter(string_split_regex(text, '[ \t\n\r]+'), x -> x <> '') AS raw,
             string_split(text, chr(10)) AS lines,
             text
      FROM documents
    ),
    feat AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CASE WHEN len(toks) > 0
                  THEN CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
                       / CAST(len(toks) AS DOUBLE)
                  ELSE 0.0 END AS mean_word_len,
             CAST(len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS DOUBLE)
               / CAST(greatest(len(toks), 1) AS DOUBLE) AS symbol_ratio,
             CAST(len(list_filter(lines, l -> regexp_matches(l, '^[ \t]*[-*•]'))) AS DOUBLE)
               / CAST(greatest(len(lines), 1) AS DOUBLE) AS bullet_ratio,
             CAST(len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)[ \t]*$'))) AS DOUBLE)
               / CAST(greatest(len(lines), 1) AS DOUBLE) AS ellipsis_ratio,
             CAST(len(list_filter(raw, w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
               / CAST(greatest(len(raw), 1) AS DOUBLE) AS alpha_ratio,
             CAST(len([s for s in ['the','be','to','of','and','that','have','with']
                       IF list_contains(toks, s)]) AS INTEGER) AS stop_hits
      FROM base
    )
    SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_ratio,
           ellipsis_ratio, alpha_ratio, stop_hits,
           (n_words >= 50 AND n_words <= 100000) AS ok_word_count,
           (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS ok_word_len,
           (symbol_ratio < 0.1) AS ok_symbols,
           (bullet_ratio < 0.9) AS ok_bullets,
           (ellipsis_ratio < 0.3) AS ok_ellipses,
           (alpha_ratio > 0.8) AS ok_alpha,
           (stop_hits >= 1) AS ok_stopwords,
           ((n_words >= 50 AND n_words <= 100000)
            AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
            AND symbol_ratio < 0.1 AND bullet_ratio < 0.9
            AND ellipsis_ratio < 0.3 AND alpha_ratio > 0.8
            AND stop_hits >= 1) AS passes_gopher
    FROM feat
    """,
)
def text_gopher_rules(spark):
    """Gopher rule-suite quality filter (operators/text.gopher_features):
    word-count / word-length / symbol / bullet / ellipsis / alpha /
    stopword rules with per-rule flags and the conjunctive verdict. One
    scan, zero shuffles, whole-stage codegen."""
    # min_stop_hits=1: the synthetic corpus vocabulary contains only one
    # of the 8 Gopher stopwords, so the paper's >=2 would zero the verdict
    return text.gopher_features(spark.table("documents"), min_stop_hits=1).select(
        "doc_id",
        F.col("n_words").cast("long"),
        "mean_word_len",
        "symbol_ratio",
        "bullet_ratio",
        "ellipsis_ratio",
        "alpha_ratio",
        "stop_hits",
        "ok_word_count",
        "ok_word_len",
        "ok_symbols",
        "ok_bullets",
        "ok_ellipses",
        "ok_alpha",
        "ok_stopwords",
        "passes_gopher",
    )


@q(
    "text_unigram_rarity",
    """
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9一-鿿 ]', ' ', 'g'), ' +'), x -> x <> '')) AS token
      FROM documents
    ),
    cnt AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY token)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_token_freq,
           CAST(SUM(CASE WHEN c <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS rare_ratio
    FROM tok JOIN cnt USING (token)
    GROUP BY doc_id
    """,
)
def text_unigram_rarity(spark):
    """Corpus-relative unigram rarity (operators/text.unigram_rarity) —
    the deterministic unigram-LM quality proxy: global token counts
    (one shuffle) re-joined onto the exploded corpus and re-aggregated
    per document."""
    return text.unigram_rarity(spark.table("documents"), "doc_id")


def _semantic_dedup_oracle() -> str:
    # mirrors similarity.semantic_dedup: seeded centroids, nearest-list
    # assignment, within-cluster smaller-id pairs above threshold
    return f"""
    WITH {_EMB_EL},
    cents AS (
      SELECT vec_id AS centroid_id FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT 16
    ),
    cel AS (SELECT centroid_id, x, i FROM el JOIN cents ON el.vec_id = cents.centroid_id),
    cnorms AS (SELECT centroid_id, sqrt(CAST(SUM(x * x) AS DOUBLE)) AS nrm FROM cel GROUP BY 1),
    adots AS (
      SELECT e.vec_id, c.centroid_id, CAST(SUM(e.x * c.x) AS DOUBLE) AS dot
      FROM el e JOIN cel c ON e.i = c.i GROUP BY 1, 2
    ),
    csim AS (
      SELECT a.vec_id, a.centroid_id,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY a.dot / (nv.nrm * nc.nrm) DESC, a.centroid_id ASC
             ) AS r
      FROM adots a
      JOIN norms nv ON a.vec_id = nv.vec_id
      JOIN cnorms nc ON a.centroid_id = nc.centroid_id
    ),
    lists AS (SELECT vec_id, centroid_id FROM csim WHERE r = 1),
    pairs AS (
      SELECT la.vec_id AS id_a, lb.vec_id AS id_b
      FROM lists la JOIN lists lb USING (centroid_id)
      WHERE la.vec_id < lb.vec_id
    ),
    pdots AS (
      SELECT p.id_a, p.id_b, CAST(SUM(a.x * b.x) AS DOUBLE) AS dot
      FROM pairs p
      JOIN el a ON a.vec_id = p.id_a
      JOIN el b ON b.vec_id = p.id_b AND b.i = a.i
      GROUP BY 1, 2
    ),
    dups AS (
      SELECT DISTINCT id_b AS vec_id
      FROM pdots d
      JOIN norms na ON d.id_a = na.vec_id
      JOIN norms nb ON d.id_b = nb.vec_id
      WHERE d.dot / (na.nrm * nb.nrm) > 0.3
    )
    SELECT l.vec_id, l.centroid_id, (d.vec_id IS NOT NULL) AS is_dup
    FROM lists l LEFT JOIN dups d ON l.vec_id = d.vec_id
    """


@q("semantic_dedup", _semantic_dedup_oracle())
def semantic_dedup(spark):
    """SemDeDup-style semantic dedup (operators/similarity.semantic_dedup):
    seeded clustering, within-cluster exact-integer cosine, smaller-id
    greedy keep. Pair generation is an equi-join on centroid_id — cost
    Σ|cluster|², never corpus²."""
    return similarity.semantic_dedup(
        spark.table("embeddings"), num_clusters=16, threshold=0.3
    )


def _minhash_verified_oracle(
    num_hashes: int = 8, bands: int = 4, max_bucket: int = 64, threshold: float = 0.1
) -> str:
    rows = num_hashes // bands
    band_selects = []
    for b in range(bands):
        cols = " || '|' || ".join(f"mh{b * rows + r:02d}" for r in range(rows))
        band_selects.append(
            f"SELECT doc_id, {b} AS band_idx, md5({cols}) AS band_hash FROM sig"
        )
    bands_sql = "\n      UNION ALL\n      ".join(band_selects)
    return f"""
    WITH {_SQL_TOK_CTE},
    sig AS (
      SELECT doc_id,
             {",".join(f"MIN(md5('{i}:' || token)) AS mh{i:02d}" for i in range(num_hashes))}
      FROM tok GROUP BY doc_id
    ),
    bands AS (
      {bands_sql}
    ),
    kept AS (
      SELECT bands.* FROM bands
      JOIN (SELECT band_idx, band_hash FROM bands
            GROUP BY 1, 2 HAVING COUNT(*) <= {max_bucket}) ok
        USING (band_idx, band_hash)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM kept a JOIN kept b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    ),
    tl AS (
      SELECT doc_id, list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9一-鿿 ]', ' ', 'g'), ' +'), x -> x <> '') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, unnest(
        [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)]
      ) AS shingle
      FROM tl WHERE len(t) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS n_common
      FROM cand c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
           CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
    FROM common
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= {threshold}
    """


@q("dedup_minhash_verified", _minhash_verified_oracle(8, 4, 64, 0.1))
def dedup_minhash_verified(spark):
    """Two-stage near-dup pipeline (operators/dedup.minhash_verified_pairs):
    LSH banding proposes, exact candidate-bounded Jaccard verifies — the
    flow a 100 TB corpus dedup actually runs. Same banding parameters as
    ``dedup_minhash_lsh_pairs``, same threshold as
    ``dedup_ngram_jaccard``, so the three registry entries tell the full
    propose→verify story on identical data."""
    return dedup.minhash_verified_pairs(
        spark.table("documents"),
        "doc_id",
        "text",
        num_hashes=8,
        bands=4,
        n=3,
        threshold=0.1,
        max_bucket=64,
    )


@q(
    "corpus_curation_pipeline",
    f"""
    WITH base AS (
      SELECT doc_id, text, {_SQL_TOKENS} AS toks
      FROM documents WHERE doc_id % 50 <> 0
    ),
    feat AS (
      SELECT doc_id, text, toks,
        CAST(len([t for t in toks if t IN ('the','and','of','to','a','in','is','that','for','it')]) AS DOUBLE)
          / CAST(greatest(len(toks), 1) AS DOUBLE) AS stopword_ratio,
        CAST(length(regexp_replace(text, '[a-zA-Z0-9 \t\n\x0B\f\r]', '', 'g')) AS DOUBLE)
          / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio
      FROM base
    ),
    scored AS (
      SELECT doc_id, text, toks,
             (CASE WHEN len(toks) BETWEEN 20 AND 1000 THEN 0.5 ELSE 0.0 END
              + CASE WHEN stopword_ratio > 0.01 AND stopword_ratio < 0.6 THEN 0.3 ELSE 0.0 END
              + CASE WHEN punct_ratio < 0.2 THEN 0.2 ELSE 0.0 END) AS quality_score
      FROM feat
    ),
    qpass AS (SELECT * FROM scored WHERE quality_score >= 0.7),
    dd AS (
      SELECT doc_id,
             doc_id <> MIN(doc_id) OVER (
               PARTITION BY md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9一-鿿 ]', ' ', 'g'), ' +', ' ', 'g')))
             ) AS is_dup
      FROM qpass
    ),
    btoks AS (
      SELECT doc_id, {_SQL_TOKENS} AS t FROM documents WHERE doc_id % 50 = 0
    ),
    bench AS (
      SELECT DISTINCT unnest(
        [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)]
      ) AS shingle
      FROM btoks WHERE len(t) >= 3
    ),
    corp AS (
      SELECT DISTINCT doc_id, unnest(
        [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] for i in range(1, len(toks)-1)]
      ) AS shingle
      FROM qpass WHERE len(toks) >= 3
    ),
    hits AS (SELECT doc_id, COUNT(*) AS n FROM corp JOIN bench USING (shingle) GROUP BY 1)
    SELECT q.doc_id, q.quality_score, dd.is_dup,
           COALESCE(h.n, 0) > 0 AS contaminated,
           (NOT dd.is_dup AND COALESCE(h.n, 0) = 0) AS kept
    FROM qpass q
    JOIN dd USING (doc_id)
    LEFT JOIN hits h ON q.doc_id = h.doc_id
    """,
)
def corpus_curation_pipeline(spark):
    """The end-to-end pre-training curation flow as ONE query: C4-style
    quality gate → normalized dedup among survivors → benchmark
    decontamination of the remainder, emitting a per-document audit row
    (score + every drop reason + the final ``kept`` verdict).

    Composition, not re-implementation: quality_features + filter_once
    (single tokenizer evaluation), normalized_dedup (one md5-window
    shuffle), decontaminate (benchmark shingles broadcast, hits relation
    deliberately shuffled). The quality-surviving relation is scope-
    cached — it feeds the dedup window, the shingle explode, and the
    final join, and each stage would otherwise re-run the quality scan.
    Every stage inherits its operator's 100 TB shape; stage order
    (filter BEFORE dedup/decontamination) keeps the expensive shingle
    work on the smallest surviving corpus."""
    from muninn_avro_to_parquet_spark.operators.cacheutil import cache_scoped

    docs = spark.table("documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    scored = text.quality_features(corpus)
    qpass = cache_scoped(
        text.filter_once(
            scored,
            F.col("quality_score") >= 0.7,
            ["doc_id", "text", "quality_score"],
        ),
        "curation_qpass",
    )
    dd = text.normalized_dedup(qpass, "doc_id")
    dec = dedup.decontaminate(qpass, bench, "doc_id")
    return (
        qpass.select("doc_id", "quality_score")
        .join(dd.select("doc_id", "is_dup"), "doc_id")
        .join(dec.select("doc_id", "contaminated"), "doc_id")
        .select(
            "doc_id",
            "quality_score",
            "is_dup",
            "contaminated",
            ((~F.col("is_dup")) & (~F.col("contaminated"))).alias("kept"),
        )
    )


@q(
    "corpus_curation_report",
    f"""
    WITH base AS (
      SELECT doc_id, lang, source, text, {_SQL_TOKENS} AS toks
      FROM documents WHERE doc_id % 50 <> 0
    ),
    feat AS (
      SELECT doc_id, lang, source, text, toks,
        CAST(len([t for t in toks if t IN ('the','and','of','to','a','in','is','that','for','it')]) AS DOUBLE)
          / CAST(greatest(len(toks), 1) AS DOUBLE) AS stopword_ratio,
        CAST(length(regexp_replace(text, '[a-zA-Z0-9 \t\n\x0B\f\r]', '', 'g')) AS DOUBLE)
          / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio
      FROM base
    ),
    scored AS (
      SELECT doc_id, lang, source, text, toks,
             (CASE WHEN len(toks) BETWEEN 20 AND 1000 THEN 0.5 ELSE 0.0 END
              + CASE WHEN stopword_ratio > 0.01 AND stopword_ratio < 0.6 THEN 0.3 ELSE 0.0 END
              + CASE WHEN punct_ratio < 0.2 THEN 0.2 ELSE 0.0 END) AS quality_score
      FROM feat
    ),
    qpass AS (SELECT * FROM scored WHERE quality_score >= 0.7),
    dd AS (
      SELECT doc_id,
             doc_id <> MIN(doc_id) OVER (
               PARTITION BY md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9一-鿿 ]', ' ', 'g'), ' +', ' ', 'g')))
             ) AS is_dup
      FROM qpass
    ),
    btoks AS (
      SELECT doc_id, {_SQL_TOKENS} AS t FROM documents WHERE doc_id % 50 = 0
    ),
    bench AS (
      SELECT DISTINCT unnest(
        [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)]
      ) AS shingle
      FROM btoks WHERE len(t) >= 3
    ),
    corp AS (
      SELECT DISTINCT doc_id, unnest(
        [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] for i in range(1, len(toks)-1)]
      ) AS shingle
      FROM qpass WHERE len(toks) >= 3
    ),
    hits AS (SELECT doc_id, COUNT(*) AS n FROM corp JOIN bench USING (shingle) GROUP BY 1),
    verdicts AS (
      SELECT q.lang, q.source, q.quality_score, dd.is_dup,
             COALESCE(h.n, 0) > 0 AS contaminated
      FROM qpass q JOIN dd USING (doc_id) LEFT JOIN hits h ON q.doc_id = h.doc_id
    ),
    totals AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS docs_scanned
      FROM base GROUP BY lang, source
    )
    SELECT t.lang, t.source, t.docs_scanned,
           CAST(COALESCE(COUNT(v.quality_score), 0) AS BIGINT) AS quality_pass,
           CAST(COALESCE(SUM(CASE WHEN v.is_dup THEN 1 ELSE 0 END), 0) AS BIGINT) AS dups,
           CAST(COALESCE(SUM(CASE WHEN v.contaminated THEN 1 ELSE 0 END), 0) AS BIGINT) AS contaminated,
           CAST(COALESCE(SUM(CASE WHEN NOT v.is_dup AND NOT v.contaminated THEN 1 ELSE 0 END), 0) AS BIGINT) AS kept,
           CAST(COALESCE(SUM(CAST(v.quality_score AS DECIMAL(3,1))), 0) AS DOUBLE) AS quality_sum
    FROM totals t
    LEFT JOIN verdicts v ON t.lang = v.lang AND t.source = v.source
    GROUP BY t.lang, t.source, t.docs_scanned
    """,
)
def corpus_curation_report(spark):
    """The curation pipeline's OBSERVABILITY rollup: per (lang, source),
    documents scanned, quality passes, dup and contamination counts, kept
    count, and summed quality score. The score sum accumulates in
    DECIMAL(3,1): the scores {0.2, 0.3, 0.7, 0.8} are not binary-exact
    doubles, so a plain double SUM would be partition-order-dependent
    and could hash-diverge between engines — every score is exactly one
    decimal digit, so the decimal sum is exact and order-free.
    The per-document verdict relation is the same plan as
    ``corpus_curation_pipeline`` (shared scoped caches); the report adds
    one grouped aggregate plus a broadcast-sized totals join — the shape
    a 100 TB curation run logs every batch."""
    from muninn_avro_to_parquet_spark.operators.cacheutil import cache_scoped

    docs = spark.table("documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    scored = text.quality_features(corpus)
    qpass = cache_scoped(
        text.filter_once(
            scored,
            F.col("quality_score") >= 0.7,
            ["doc_id", "lang", "source", "text", "quality_score"],
        ),
        "curation_report_qpass",
    )
    dd = text.normalized_dedup(qpass, "doc_id")
    dec = dedup.decontaminate(qpass, bench, "doc_id")
    verdicts = (
        qpass.select("doc_id", "lang", "source", "quality_score")
        .join(dd.select("doc_id", "is_dup"), "doc_id")
        .join(dec.select("doc_id", "contaminated"), "doc_id")
    )
    totals = corpus.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("docs_scanned")
    )
    agg = verdicts.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("quality_pass"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).cast("long").alias("dups"),
        F.sum(F.when(F.col("contaminated"), 1).otherwise(0))
        .cast("long")
        .alias("contaminated"),
        F.sum(
            F.when(~F.col("is_dup") & ~F.col("contaminated"), 1).otherwise(0)
        )
        .cast("long")
        .alias("kept"),
        F.sum(F.col("quality_score").cast("decimal(3,1)")).cast("double").alias("quality_sum"),
    )
    return (
        totals.join(agg, ["lang", "source"], "left")
        .select(
            "lang",
            "source",
            "docs_scanned",
            F.coalesce(F.col("quality_pass"), F.lit(0)).cast("long").alias("quality_pass"),
            F.coalesce(F.col("dups"), F.lit(0)).cast("long").alias("dups"),
            F.coalesce(F.col("contaminated"), F.lit(0)).cast("long").alias("contaminated"),
            F.coalesce(F.col("kept"), F.lit(0)).cast("long").alias("kept"),
            F.coalesce(F.col("quality_sum"), F.lit(0.0)).cast("double").alias("quality_sum"),
        )
    )


@q(
    "q_lateral_topk",
    """
    SELECT n_name, t.c_name, t.c_acctbal
    FROM nation,
    LATERAL (
      SELECT c_name, c_acctbal FROM customer
      WHERE c_nationkey = n_nationkey
      ORDER BY c_acctbal DESC, c_name ASC LIMIT 2
    ) t
    """,
)
def q_lateral_topk(spark):
    """Correlated LATERAL subquery driven through the engine's SQL FRONT
    DOOR (``spark.sql`` — every other registry entry builds DataFrames;
    this one proves the ANSI surface end-to-end, same string shape as the
    oracle). Catalyst decorrelates the per-nation top-2 into a window
    rank over the customer side — the same plan q_topk_per_group gets
    from the DataFrame API, not a per-nation re-execution."""
    return spark.sql(
        """
        SELECT n_name, t.c_name, t.c_acctbal
        FROM nation,
        LATERAL (
          SELECT c_name, c_acctbal FROM customer
          WHERE c_nationkey = n_nationkey
          ORDER BY c_acctbal DESC, c_name ASC LIMIT 2
        ) t
        """
    )


@q(
    "q_arg_extremes",
    """
    SELECT c_mktsegment,
           (MAX(struct_pack(a := c_acctbal, k := c_custkey, n := c_name))).n AS richest,
           (MIN(struct_pack(a := c_acctbal, k := c_custkey, n := c_name))).n AS poorest,
           CAST((MAX(struct_pack(a := c_acctbal, k := c_custkey))).a AS DOUBLE) AS top_balance
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def q_arg_extremes(spark):
    """Deterministic arg-max/arg-min via lexicographic struct MIN/MAX —
    the tie-safe form of ``max_by``: bare ``max_by(name, acctbal)`` is
    nondeterministic when two customers share a balance (sf0.1 has such
    ties), while (acctbal, custkey, name) is a total order, so both
    engines must pick the identical row. One map-side-combinable
    aggregate, no window, no join."""
    rich = F.struct(
        F.col("c_acctbal").alias("a"),
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("n"),
    )
    return (
        spark.table("customer")
        .groupBy("c_mktsegment")
        .agg(
            F.max(rich)["n"].alias("richest"),
            F.min(rich)["n"].alias("poorest"),
            F.max(F.struct(F.col("c_acctbal").alias("a"), F.col("c_custkey").alias("k")))["a"]
            .cast("double")
            .alias("top_balance"),
        )
    )


@q(
    "sample_quality_weighted",
    f"""
    WITH base AS (
      SELECT doc_id, text, {_SQL_TOKENS} AS toks FROM documents
    ),
    feat AS (
      SELECT doc_id,
        CAST(len([t for t in toks if t IN ('the','and','of','to','a','in','is','that','for','it')]) AS DOUBLE)
          / CAST(greatest(len(toks), 1) AS DOUBLE) AS stopword_ratio,
        CAST(length(regexp_replace(text, '[a-zA-Z0-9 \t\n\x0B\f\r]', '', 'g')) AS DOUBLE)
          / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
        len(toks) AS n_tokens
      FROM base
    ),
    scored AS (
      SELECT doc_id,
             (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 0.5 ELSE 0.0 END
              + CASE WHEN stopword_ratio > 0.01 AND stopword_ratio < 0.6 THEN 0.3 ELSE 0.0 END
              + CASE WHEN punct_ratio < 0.2 THEN 0.2 ELSE 0.0 END) AS quality_score
      FROM feat
    )
    SELECT doc_id, quality_score
    FROM scored
    WHERE CAST(round(least(greatest(quality_score, 0.0), 1.0) * 65536) AS BIGINT) >= 65536
       OR substring(md5('w:' || CAST(doc_id AS VARCHAR)), 1, 4)
          < printf('%04x', CAST(round(least(greatest(quality_score, 0.0), 1.0) * 65536) AS BIGINT))
    """,
)
def sample_quality_weighted(spark):
    """Quality-weighted deterministic sampling
    (operators/pipeline.sample_weighted): each document kept with
    probability equal to its quality score — md5-bucket vs per-row hex
    threshold, no RNG, engine-reproducible. Pure filter over the scored
    relation: one scan, no shuffle."""
    scored = text.quality_features(spark.table("documents"))
    return pipeline.sample_weighted(scored, "doc_id", "quality_score").select(
        "doc_id", "quality_score"
    )


@q(
    "q_event_funnel",
    """
    WITH w AS (
      SELECT user_id, event_type, ts,
             MIN(CASE WHEN event_type = 'signup' THEN ts END)
               OVER (PARTITION BY user_id) AS first_signup
      FROM events
    ),
    w2 AS (
      SELECT user_id, event_type, ts, first_signup,
             MIN(CASE WHEN event_type = 'view' AND ts > first_signup
                        AND ts <= first_signup + INTERVAL 3 DAY THEN ts END)
               OVER (PARTITION BY user_id) AS first_view
      FROM w
    ),
    per_user AS (
      SELECT user_id,
             MAX(first_signup) AS s1,
             MAX(first_view) AS s2,
             MIN(CASE WHEN event_type = 'purchase' AND ts > first_view THEN ts END) AS s3
      FROM w2 GROUP BY user_id
    )
    SELECT CAST(COUNT(s1) AS BIGINT) AS n_signup,
           CAST(COUNT(s2) AS BIGINT) AS n_viewed_after,
           CAST(COUNT(CASE WHEN s3 IS NOT NULL
                           AND s3 <= s1 + INTERVAL 5 DAY THEN 1 END) AS BIGINT)
             AS n_purchased_within_5d,
           CAST(COUNT(s2) AS DOUBLE) / greatest(COUNT(s1), 1) AS view_rate,
           CAST(COUNT(CASE WHEN s3 IS NOT NULL
                           AND s3 <= s1 + INTERVAL 5 DAY THEN 1 END) AS DOUBLE)
             / greatest(COUNT(s2), 1) AS purchase_rate
    FROM per_user
    """,
)
def q_event_funnel(spark):
    """Ordered funnel analysis (signup → view within 3 days →
    purchase within 5 days of signup): the product-analytics shape that needs
    SEQUENCED milestones, not mere event counts. Both sequencing steps
    are windows over the SAME user partitioning — one shuffle on
    user_id, the second window reuses the exchange — then one global
    aggregate; no self-joins over the event log (the naive form is
    two event-log joins that each reshuffle the 100 TB relation)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id")
    ev = spark.table("events")
    staged = ev.withColumn(
        "first_signup",
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w),
    ).withColumn(
        "first_view",
        F.min(
            F.when(
                (F.col("event_type") == "view")
                & (F.col("ts") > F.col("first_signup"))
                & (F.col("ts") <= F.col("first_signup") + F.expr("INTERVAL '3' DAY")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("first_signup").alias("s1"),
        F.max("first_view").alias("s2"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("first_view")),
                F.col("ts"),
            )
        ).alias("s3"),
    )
    purchased = F.col("s3").isNotNull() & (
        F.col("s3") <= F.col("s1") + F.expr("INTERVAL '5' DAY")
    )
    return per_user.agg(
        F.count("s1").cast("long").alias("n_signup"),
        F.count("s2").cast("long").alias("n_viewed_after"),
        F.sum(F.when(purchased, 1).otherwise(0)).cast("long").alias(
            "n_purchased_within_5d"
        ),
        (F.count("s2").cast("double") / F.greatest(F.count("s1"), F.lit(1))).alias(
            "view_rate"
        ),
        (
            F.sum(F.when(purchased, 1).otherwise(0)).cast("double")
            / F.greatest(F.count("s2"), F.lit(1))
        ).alias("purchase_rate"),
    )


@q(
    "q_stream_dedup_mirror",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def q_stream_dedup_mirror(spark):
    """Batch mirror of streaming.windows.dedup_within_watermark — the
    same function body the streaming path runs (streaming:
    dropDuplicatesWithinWatermark with state bounded by the watermark
    horizon; batch: dropDuplicates). Projected to the key columns so the
    oracle compare is deterministic (dropDuplicates keeps an arbitrary
    survivor row; its key set is exact). The true readStream form is
    exercised in tests/test_streaming.py."""
    from muninn_avro_to_parquet_spark.streaming import windows

    return windows.dedup_within_watermark(
        spark.table("events"), ["user_id", "event_type"]
    ).select("user_id", "event_type")


def _pagerank_oracle(iterations: int = 3) -> str:
    # unrolled fixed-point iterations mirroring dedup.candidate_pagerank:
    # integer micro-unit ranks, floor division throughout — bit-exact in
    # any engine, no float summation order anywhere
    its = []
    prev = "r0"
    for k in range(1, iterations + 1):
        its.append(
            f"""it{k} AS (
      SELECT e.dst AS node,
             CAST(150000 + (85 * SUM({prev}.rank_micro // d._deg)) // 100 AS BIGINT) AS rank_micro
      FROM edges e
      JOIN {prev} ON e.src = {prev}.node
      JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    )"""
        )
        prev = f"it{k}"
    its_sql = ",\n    ".join(its)
    return f"""
    WITH pairs AS ({_minhash_pairs_oracle(8, 4, 64)}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS _deg FROM edges GROUP BY src),
    r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rank_micro FROM deg),
    {its_sql}
    SELECT node AS doc_id, rank_micro FROM {prev}
    """


@q("dedup_graph_pagerank", _pagerank_oracle(3))
def dedup_graph_pagerank(spark):
    """Integer fixed-point PageRank over the LSH candidate graph
    (operators/dedup.candidate_pagerank): the centrality signal for
    canonical-document selection and boilerplate-hub detection. Ranks are
    exact BIGINT micro-units (floor-division damping), so an ITERATIVE
    graph algorithm is value-hash-verifiable across engines — float
    PageRank can never be (partition-order summation). Same banding
    parameters as dedup_minhash_lsh_pairs; 3 unrolled iterations, one
    shuffle each."""
    pairs = dedup.minhash_candidate_pairs(
        spark.table("documents"), "doc_id", "text", num_hashes=8, bands=4, max_bucket=64
    )
    return dedup.candidate_pagerank(pairs, iterations=3).select(
        F.col("node").alias("doc_id"), "rank_micro"
    )


def _ivf_refined_oracle() -> str:
    # mirrors similarity.ivf_centroids_refined(rounds=1) + ivf_assign:
    # round-0 seeded assignment, integer floor-mean centroid update
    # (means stay in quantized space — the Spark side's double round-trip
    # m/1e7*1e7 recovers the identical integers), round-1 reassignment
    return f"""
    WITH {_EMB_EL},
    cents AS (
      SELECT vec_id AS centroid_id FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT 16
    ),
    cel AS (SELECT centroid_id, x, i FROM el JOIN cents ON el.vec_id = cents.centroid_id),
    cnorms AS (SELECT centroid_id, sqrt(CAST(SUM(x * x) AS DOUBLE)) AS nrm FROM cel GROUP BY 1),
    adots AS (
      SELECT e.vec_id, c.centroid_id, CAST(SUM(e.x * c.x) AS DOUBLE) AS dot
      FROM el e JOIN cel c ON e.i = c.i GROUP BY 1, 2
    ),
    csim AS (
      SELECT a.vec_id, a.centroid_id,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY a.dot / (nv.nrm * nc.nrm) DESC, a.centroid_id ASC
             ) AS r
      FROM adots a
      JOIN norms nv ON a.vec_id = nv.vec_id
      JOIN cnorms nc ON a.centroid_id = nc.centroid_id
    ),
    lists AS (SELECT vec_id, centroid_id FROM csim WHERE r = 1),
    means AS (
      SELECT l.centroid_id, e.i, SUM(e.x) // COUNT(*) AS x
      FROM lists l JOIN el e ON l.vec_id = e.vec_id
      GROUP BY 1, 2
    ),
    mnorms AS (SELECT centroid_id, sqrt(CAST(SUM(x * x) AS DOUBLE)) AS nrm FROM means GROUP BY 1),
    adots2 AS (
      SELECT e.vec_id, m.centroid_id, CAST(SUM(e.x * m.x) AS DOUBLE) AS dot
      FROM el e JOIN means m ON e.i = m.i GROUP BY 1, 2
    ),
    csim2 AS (
      SELECT a.vec_id, a.centroid_id,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY a.dot / (nv.nrm * mn.nrm) DESC, a.centroid_id ASC
             ) AS r
      FROM adots2 a
      JOIN norms nv ON a.vec_id = nv.vec_id
      JOIN mnorms mn ON a.centroid_id = mn.centroid_id
    )
    SELECT vec_id, centroid_id FROM csim2 WHERE r = 1
    """


@q("ann_ivf_refined_lists", _ivf_refined_oracle())
def ann_ivf_refined_lists(spark):
    """IVF inverted lists after ONE deterministic Lloyd round
    (operators/similarity.ivf_centroids_refined): integer floor-mean
    centroid updates keep an iterative clustering algorithm bit-exact
    across engines — the k-means quality upgrade without giving up the
    oracle. Output: each vector's refined list assignment."""
    emb = spark.table("embeddings")
    cents = similarity.ivf_centroids_refined(emb, 16, rounds=1)
    return similarity.ivf_assign(emb, cents, nprobe=1).select("vec_id", "centroid_id")


def _canonical_docs_oracle() -> str:
    # components (recursive CTE) + fixed-point pagerank (unrolled) over the
    # SAME pairs relation, then per-component canonical = max rank with
    # min-id tiebreak via lexicographic struct MIN
    its = []
    prev = "r0"
    for k in (1, 2, 3):
        its.append(
            f"""it{k} AS (
      SELECT e.dst AS node,
             CAST(150000 + (85 * SUM({prev}.rank_micro // d._deg)) // 100 AS BIGINT) AS rank_micro
      FROM dedges e
      JOIN {prev} ON e.src = {prev}.node
      JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    )"""
        )
        prev = f"it{k}"
    its_sql = ",\n    ".join(its)
    return f"""
    WITH RECURSIVE pairs AS ({_minhash_pairs_oracle(8, 4, 64)}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    walk(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node
    ),
    comp AS (SELECT node, MIN(label) AS component_id FROM walk GROUP BY node),
    dedges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS _deg FROM dedges GROUP BY src),
    r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rank_micro FROM deg),
    {its_sql},
    ranked AS (
      SELECT c.node, c.component_id, p.rank_micro
      FROM comp c JOIN {prev} p ON c.node = p.node
    ),
    canon AS (
      SELECT component_id,
             (MIN(struct_pack(nr := -rank_micro, n := node))).n AS canonical_id
      FROM ranked GROUP BY component_id
    )
    SELECT r.node AS doc_id, r.component_id, r.rank_micro,
           c.canonical_id, r.node = c.canonical_id AS is_canonical
    FROM ranked r JOIN canon c USING (component_id)
    """


@q("dedup_canonical_docs", _canonical_docs_oracle())
def dedup_canonical_docs(spark):
    """The dedup END-GAME: which document survives each duplicate
    cluster. Composes connected components (cluster membership) with
    integer fixed-point PageRank (centrality) over the SAME candidate
    graph: the canonical document is the cluster member with the highest
    rank, smallest-id tiebreak (lexicographic struct MIN over
    (-rank, id) — tie-safe, engine-exact). Downstream keeps
    ``is_canonical`` rows — preferring the most CENTRAL member over the
    arbitrary smallest id means the survivor is the version most similar
    to the rest of its cluster, not whichever crawled first. The fused
    ``dedup.canonical_documents`` operator materializes the shared
    bidirectional edge relation ONCE and runs components, pagerank, and
    the canon selection under one edge-count-sized shuffle scope (the
    separate-operator composition paid two edge caches + two sizing
    counts and ran every tiny stage at session parallelism: ~7.3 s →
    ~3.5 s at sf0.1); at corpus scale the pair join is the expensive
    stage and materializing it once is the right call."""
    pairs = dedup.minhash_candidate_pairs(
        spark.table("documents"),
        "doc_id",
        "text",
        num_hashes=8,
        bands=4,
        max_bucket=64,
    )
    return dedup.canonical_documents(pairs, iterations=3)


# ---------------------------------------------------------------------------
# round-5 late additions: z-order layout keys, int8 embedding quantization
# ---------------------------------------------------------------------------


def _zorder_oracle() -> str:
    from muninn_avro_to_parquet_spark.plans.layout import zorder_sql_expr

    zexpr = zorder_sql_expr(["xs", "ys"], bits=16)
    return f"""
    WITH base AS (
      SELECT CAST(o_custkey AS BIGINT) AS x,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS y
      FROM orders
    ),
    st AS (SELECT MIN(x) AS mnx, MAX(x) AS mxx, MIN(y) AS mny, MAX(y) AS mxy
           FROM base),
    sc AS (
      SELECT CASE WHEN mxx > mnx THEN CAST(floor(
               (CAST(x AS DOUBLE) - CAST(mnx AS DOUBLE)) * 65535.0
               / (CAST(mxx AS DOUBLE) - CAST(mnx AS DOUBLE))) AS BIGINT)
             ELSE 0 END AS xs,
             CASE WHEN mxy > mny THEN CAST(floor(
               (CAST(y AS DOUBLE) - CAST(mny AS DOUBLE)) * 65535.0
               / (CAST(mxy AS DOUBLE) - CAST(mny AS DOUBLE))) AS BIGINT)
             ELSE 0 END AS ys
      FROM base, st
    ),
    z AS (SELECT xs, ys, ({zexpr}) AS zkey FROM sc)
    SELECT zkey >> 24 AS zbucket, COUNT(*) AS n_rows,
           MIN(xs) AS x_min, MAX(xs) AS x_max,
           MIN(ys) AS y_min, MAX(ys) AS y_max
    FROM z GROUP BY 1
    """


@q("q_zorder_layout", _zorder_oracle())
def q_zorder_layout(spark):
    """Z-order (Morton) clustering keys over (customer, order-date) —
    the multi-dimensional layout behind Delta/Iceberg OPTIMIZE ZORDER
    (plans/layout.py). The output groups rows by the key's top 8 bits
    and reports each bucket's (x, y) bounding box: the locality proof
    that parquet footer min/max stats would prune scans on EITHER
    dimension after ``write_zordered``. Pure integer expression work
    (one broadcast 1-row min/max relation, a 32-term shift/AND/OR tree,
    one hash agg) — whole-stage codegen end to end, and the DuckDB
    oracle runs the *same generated* bit arithmetic
    (``zorder_sql_expr``), so the interleave itself is parity-checked.
    Beyond-reference scope: the reference writes date-partitioned
    parquet only (main.py partition derivation); this is the §2.3
    data-layout surface."""
    from muninn_avro_to_parquet_spark.plans.layout import scale_to_bits, zorder_key

    o = spark.table("orders").select(
        F.col("o_custkey").cast("long").alias("x"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.to_date(F.lit("1970-01-01"))
        ).cast("long").alias("y"),
    )
    stats = o.agg(
        F.min("x").alias("mnx"), F.max("x").alias("mxx"),
        F.min("y").alias("mny"), F.max("y").alias("mxy"),
    )
    j = o.crossJoin(F.broadcast(stats))
    xs = scale_to_bits(F.col("x"), F.col("mnx"), F.col("mxx"), 16)
    ys = scale_to_bits(F.col("y"), F.col("mny"), F.col("mxy"), 16)
    keyed = j.select(xs.alias("xs"), ys.alias("ys")).withColumn(
        "zkey", zorder_key([F.col("xs"), F.col("ys")], 16)
    )
    return (
        keyed.groupBy(F.shiftright("zkey", 24).alias("zbucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("xs").alias("x_min"), F.max("xs").alias("x_max"),
            F.min("ys").alias("y_min"), F.max("ys").alias("y_max"),
        )
    )


@q(
    "embedding_quantize_int8",
    """
    WITH el AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    st AS (SELECT pos, MIN(v) AS mn, MAX(v) AS mx FROM el GROUP BY pos),
    qv AS (
      SELECT vec_id,
             CASE WHEN mx > mn
                  THEN CAST(floor((v - mn) * 255.0 / (mx - mn) + 0.5) AS INT) - 128
                  ELSE 0 END AS q
      FROM el JOIN st USING (pos)
    )
    SELECT vec_id,
           CAST(SUM(q) AS BIGINT) AS q_sum,
           CAST(SUM(abs(q)) AS BIGINT) AS q_l1,
           MIN(q) AS q_min, MAX(q) AS q_max,
           CAST(COUNT(*) AS INT) AS n_dims
    FROM qv GROUP BY vec_id
    """,
)
def embedding_quantize_int8(spark):
    """Min/max-calibrated int8 scalar quantization of the embedding
    corpus (operators/similarity.py quantize_int8): the 4×-shrink that
    makes 100 TB ANN shuffles move bytes, not float32s. One (dim →
    min,max) aggregate broadcast back as a 1-row calibration relation;
    the quantize is a codegen'd array ``transform``. Output is the
    per-vector integer checksum surface (sum, L1, min, max, n_dims) —
    every code is engine-exact (double arithmetic in fixed operand
    order + exact floor), so the hash check covers all 64 codes per
    vector, not a sample."""
    qdf = similarity.quantize_int8(spark.table("embeddings"))
    return qdf.select(
        "vec_id",
        F.expr("aggregate(q, 0L, (a, x) -> a + x)").alias("q_sum"),
        F.expr("aggregate(q, 0L, (a, x) -> a + abs(x))").alias("q_l1"),
        F.array_min("q").alias("q_min"),
        F.array_max("q").alias("q_max"),
        "n_dims",
    )


_INT8_QV = """
    el AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    st AS (SELECT pos, MIN(v) AS mn, MAX(v) AS mx FROM el GROUP BY pos),
    qv AS (
      SELECT vec_id,
             pos,
             CASE WHEN mx > mn
                  THEN CAST(floor((v - mn) * 255.0 / (mx - mn) + 0.5) AS INT) - 128
                  ELSE 0 END AS q
      FROM el JOIN st USING (pos)
    )
"""


@q(
    "ann_topk_int8",
    f"""
    WITH {_INT8_QV},
    norms AS (
      SELECT vec_id, sqrt(CAST(SUM(CAST(q AS BIGINT) * q) AS DOUBLE)) AS nrm
      FROM qv GROUP BY 1
    ),
    dots AS (
      SELECT a.vec_id AS query_id, b.vec_id,
             CAST(SUM(CAST(a.q AS BIGINT) * b.q) AS DOUBLE) AS dot
      FROM qv a JOIN qv b ON a.pos = b.pos
      WHERE a.vec_id < 5 AND a.vec_id <> b.vec_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT query_id, d.vec_id, dot / (nq.nrm * nc.nrm) AS cosine_sim
      FROM dots d
      JOIN norms nq ON d.query_id = nq.vec_id
      JOIN norms nc ON d.vec_id = nc.vec_id
    )
    SELECT * FROM (
      SELECT query_id, vec_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def ann_topk_int8(spark):
    """Brute-force cosine top-k over int8 codes (similarity.py
    cosine_topk_int8 over quantize_int8): the quantized scan moves 1
    byte/dim instead of 4 — at 100 TB of embeddings the brute-force
    baseline is bandwidth-bound, so this is a ~4× scan win before any
    index. Exact-integer code products keep the scores
    engine-deterministic (the oracle recomputes the same codes), and
    the recall-vs-float property is asserted separately in
    tests/test_layout.py."""
    codes = similarity.quantize_int8(spark.table("embeddings"))
    return similarity.cosine_topk_int8(codes, codes.filter(F.col("vec_id") < 5), k=10)


# shared PQ oracle pipeline: int8 codes → seeded codebook → subspace
# distances → argmin encoding → ADC totals for queries (vec_id < 5).
# Parameterized on the codebook size so the same replay covers both the
# oracle-friendly k=16 config and the measured production default k=256
# (r12 verdict #3).
def _pq_ctes(k: int = 16) -> str:
    return f"""{_INT8_QV},
    dims AS (SELECT CAST(MAX(pos) AS INTEGER) AS d FROM qv),
    picked AS (
      SELECT vec_id AS cb_vec,
             ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC,
                                vec_id ASC) - 1 AS code_id
      FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT {k}
    ),
    cb AS (
      SELECT p.code_id, CAST((q.pos - 1) AS INTEGER) // (d // 8) AS sub,
             q.pos, q.q AS cq
      FROM picked p JOIN qv q ON q.vec_id = p.cb_vec CROSS JOIN dims
    ),
    dist AS (
      SELECT v.vec_id, c.sub, c.code_id,
             SUM(CAST(v.q - c.cq AS BIGINT) * (v.q - c.cq)) AS dist
      FROM qv v JOIN cb c ON v.pos = c.pos
      GROUP BY 1, 2, 3
    ),
    enc AS (
      SELECT vec_id, sub, code_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                     ORDER BY dist ASC, code_id ASC) AS r
        FROM dist
      ) WHERE r = 1
    ),
    adc AS (
      SELECT d.vec_id AS query_id, e.vec_id,
             CAST(SUM(d.dist) AS BIGINT) AS approx_sqdist
      FROM dist d JOIN enc e ON d.sub = e.sub AND d.code_id = e.code_id
      WHERE d.vec_id < 5 AND e.vec_id <> d.vec_id
      GROUP BY 1, 2
    )"""


_PQ_CTES = _pq_ctes(16)


@q(
    "ann_topk_pq",
    f"""
    WITH {_PQ_CTES}
    SELECT query_id, vec_id, approx_sqdist, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY approx_sqdist ASC, vec_id ASC) AS rank
      FROM adc
    ) WHERE rank <= 10
    """,
)
def ann_topk_pq(spark):
    """Product-quantization ANN (similarity.pq_model + ann_topk_pq):
    8 subspaces × 16 seeded codes over the int8-coded embeddings — the
    index at rest is 4 BYTES per 64-dim vector (64× below float32),
    which is the 100 TB vector-search answer. ADC scoring joins each
    query's integer distance table onto the corpus code assignments on
    (sub, code_id) and sums; every distance is an exact integer, so the
    oracle reproduces codebook, encoding, and ranking bit-for-bit."""
    codes = similarity.quantize_int8(spark.table("embeddings"))
    return similarity.ann_topk_pq(codes, F.col("vec_id") < 5, m=8, k=16, top_k=10)


@q(
    "ann_topk_pq_refined",
    f"""
    WITH {_PQ_CTES},
    means AS (
      SELECT e.sub, e.code_id, v.pos,
             CAST(SUM(v.q) // COUNT(*) AS BIGINT) AS cq
      FROM enc e
      JOIN qv v ON v.vec_id = e.vec_id CROSS JOIN dims
      WHERE CAST((v.pos - 1) AS INTEGER) // (d // 8) = e.sub
      GROUP BY 1, 2, 3
    ),
    dist1 AS (
      SELECT v.vec_id, c.sub, c.code_id,
             SUM(CAST(v.q - c.cq AS BIGINT) * (v.q - c.cq)) AS dist
      FROM qv v JOIN means c ON v.pos = c.pos
      GROUP BY 1, 2, 3
    ),
    enc1 AS (
      SELECT vec_id, sub, code_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                     ORDER BY dist ASC, code_id ASC) AS r
        FROM dist1
      ) WHERE r = 1
    ),
    adc1 AS (
      SELECT d.vec_id AS query_id, e.vec_id,
             CAST(SUM(d.dist) AS BIGINT) AS approx_sqdist
      FROM dist1 d JOIN enc1 e ON d.sub = e.sub AND d.code_id = e.code_id
      WHERE d.vec_id < 5 AND e.vec_id <> d.vec_id
      GROUP BY 1, 2
    )
    SELECT query_id, vec_id, approx_sqdist, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY approx_sqdist ASC, vec_id ASC) AS rank
      FROM adc1
    ) WHERE rank <= 10
    """,
)
def ann_topk_pq_refined(spark):
    """PQ with one deterministic Lloyd refinement round
    (similarity.pq_model_refined): each (subspace, code) cell moves to
    the integer floor-mean of its members' int8 subvectors and the
    corpus re-encodes — the same oracle-hashable k-means upgrade
    `ann_ivf_refined_lists` applies to the coarse quantizer, applied to
    the product codebooks. Tighter cells, identical ADC plan shape."""
    codes = similarity.quantize_int8(spark.table("embeddings"))
    return similarity.ann_topk_pq(
        codes, F.col("vec_id") < 5, m=8, k=16, top_k=10, refine_rounds=1
    )


@q(
    "ann_topk_pq_rerank",
    f"""
    WITH {_PQ_CTES},
    cand AS (
      SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY approx_sqdist ASC, vec_id ASC) AS r
        FROM adc
      ) WHERE r <= 50
    ),
    qn AS (
      SELECT vec_id, sqrt(CAST(SUM(CAST(q AS BIGINT) * q) AS DOUBLE)) AS nrm
      FROM qv GROUP BY 1
    ),
    dots AS (
      SELECT c.query_id, c.vec_id,
             CAST(SUM(CAST(a.q AS BIGINT) * b.q) AS DOUBLE) AS dot
      FROM cand c
      JOIN qv a ON a.vec_id = c.query_id
      JOIN qv b ON b.vec_id = c.vec_id AND b.pos = a.pos
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.query_id, d.vec_id, dot / (na.nrm * nb.nrm) AS cosine_sim
      FROM dots d
      JOIN qn na ON d.query_id = na.vec_id
      JOIN qn nb ON d.vec_id = nb.vec_id
    )
    SELECT query_id, vec_id, cosine_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def ann_topk_pq_rerank(spark):
    """Two-stage PQ search (similarity.ann_topk_pq_rerank): ADC over
    4-byte codes shortlists 50 candidates per query, then EXACT int8
    cosine re-ranks only the shortlist — full vectors are touched for
    ~shortlist/corpus of the data, which is the production FAISS-style
    pattern that recovers the recall PQ's lossy codes give up. Both
    stages are integer-exact, so the oracle reproduces shortlist and
    final ranking bit-for-bit."""
    codes = similarity.quantize_int8(spark.table("embeddings"))
    return similarity.ann_topk_pq_rerank(
        codes, F.col("vec_id") < 5, m=8, k=16, shortlist=50, top_k=10
    )


@q(
    "ann_topk_pq_rerank_exact",
    f"""
    WITH {_PQ_CTES},
    fel AS (
      SELECT vec_id,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000000) AS BIGINT) AS x,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings
    ),
    fnorms AS (SELECT vec_id, sqrt(CAST(SUM(x * x) AS DOUBLE)) AS nrm FROM fel GROUP BY 1),
    cand AS (
      SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY approx_sqdist ASC, vec_id ASC) AS r
        FROM adc
      ) WHERE r <= 400
    ),
    dots AS (
      SELECT c.query_id, c.vec_id, CAST(SUM(a.x * b.x) AS DOUBLE) AS dot
      FROM cand c
      JOIN fel a ON a.vec_id = c.query_id
      JOIN fel b ON b.vec_id = c.vec_id AND b.i = a.i
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT d.query_id, d.vec_id, dot / (na.nrm * nb.nrm) AS cosine_sim
      FROM dots d
      JOIN fnorms na ON d.query_id = na.vec_id
      JOIN fnorms nb ON d.vec_id = nb.vec_id
    )
    SELECT query_id, vec_id, cosine_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def ann_topk_pq_rerank_exact(spark):
    """The full two-stage production retrieve
    (similarity.ann_topk_pq_rerank_exact): ADC over 4-byte PQ codes
    shortlists 400 candidates per query, the shortlist joins back to the
    STORED full-precision vectors, and the final scores are the same
    quantized-exact cosine cosine_topk computes. Unlike the int8 rerank
    (whose quantization ceiling caps recall at ~0.74 here), this
    variant's recall is bounded only by shortlist containment — at 400
    the ADC shortlist contains the complete exact top-10 on this corpus,
    so the result EQUALS brute force while scanning codes + 6% of full
    vectors per query."""
    return similarity.ann_topk_pq_rerank_exact(
        spark.table("embeddings"), F.col("vec_id") < 5,
        m=8, k=16, shortlist=400, top_k=10,
    )


def _ivfpq_oracle(
    nprobe: int, rerank: bool = True, refined: bool = False, k: int = 16
) -> str:
    """Full IVF-PQ oracle: _pq_ctes(k) codebook/encoding (optionally one
    Lloyd refinement round — the floor-mean means/dist1/enc1 CTEs of
    ann_topk_pq_refined), coarse IVF lists, probed-candidate ADC, and
    (default) the stored-vector exact rerank of the ADC shortlist.
    ``k=256, refined=True`` replays the measured production default
    build of ``ivfpq_index`` (r12 verdict #3)."""
    refine_ctes = """,
    means AS (
      SELECT e.sub, e.code_id, v.pos,
             CAST(SUM(v.q) // COUNT(*) AS BIGINT) AS cq
      FROM enc e
      JOIN qv v ON v.vec_id = e.vec_id CROSS JOIN dims
      WHERE CAST((v.pos - 1) AS INTEGER) // (d // 8) = e.sub
      GROUP BY 1, 2, 3
    ),
    dist1 AS (
      SELECT v.vec_id, c.sub, c.code_id,
             SUM(CAST(v.q - c.cq AS BIGINT) * (v.q - c.cq)) AS dist
      FROM qv v JOIN means c ON v.pos = c.pos
      GROUP BY 1, 2, 3
    ),
    enc1 AS (
      SELECT vec_id, sub, code_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                     ORDER BY dist ASC, code_id ASC) AS r
        FROM dist1
      ) WHERE r = 1
    )"""
    dist_cte, enc_cte = ("dist1", "enc1") if refined else ("dist", "enc")
    adc_head = f"""
    SELECT query_id, vec_id, approx_sqdist, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY approx_sqdist ASC, vec_id ASC) AS rank
      FROM iadc
    ) WHERE rank <= 10"""
    rerank_tail = """,
    shortl AS (
      SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY approx_sqdist ASC, vec_id ASC) AS r
        FROM iadc
      ) WHERE r <= 400
    ),
    rdots AS (
      SELECT c.query_id, c.vec_id, CAST(SUM(a.x * b.x) AS DOUBLE) AS dot
      FROM shortl c
      JOIN fel a ON a.vec_id = c.query_id
      JOIN fel b ON b.vec_id = c.vec_id AND b.i = a.i
      GROUP BY 1, 2
    ),
    rscored AS (
      SELECT d.query_id, d.vec_id, dot / (na.nrm * nb.nrm) AS cosine_sim
      FROM rdots d
      JOIN fnorms na ON d.query_id = na.vec_id
      JOIN fnorms nb ON d.vec_id = nb.vec_id
    )
    SELECT query_id, vec_id, cosine_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, vec_id ASC) AS rank
      FROM rscored
    ) WHERE rank <= 10"""
    return f"""
    WITH {_pq_ctes(k)}{refine_ctes if refined else ""},
    fel AS (
      SELECT vec_id,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000000) AS BIGINT) AS x,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings
    ),
    fnorms AS (SELECT vec_id, sqrt(CAST(SUM(x * x) AS DOUBLE)) AS nrm FROM fel GROUP BY 1),
    icents AS (
      SELECT vec_id AS centroid_id FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT 16
    ),
    icel AS (SELECT centroid_id, x, i FROM fel JOIN icents ON fel.vec_id = icents.centroid_id),
    icnorms AS (SELECT centroid_id, sqrt(CAST(SUM(x * x) AS DOUBLE)) AS nrm FROM icel GROUP BY 1),
    iadots AS (
      SELECT e.vec_id, c.centroid_id, CAST(SUM(e.x * c.x) AS DOUBLE) AS dot
      FROM fel e JOIN icel c ON e.i = c.i GROUP BY 1, 2
    ),
    icsim AS (
      SELECT a.vec_id, a.centroid_id,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY a.dot / (nv.nrm * nc.nrm) DESC, a.centroid_id ASC
             ) AS r
      FROM iadots a
      JOIN fnorms nv ON a.vec_id = nv.vec_id
      JOIN icnorms nc ON a.centroid_id = nc.centroid_id
    ),
    corpus_lists AS (SELECT vec_id, centroid_id FROM icsim WHERE r = 1),
    q_lists AS (
      SELECT vec_id AS query_id, centroid_id FROM icsim WHERE vec_id < 5 AND r <= {nprobe}
    ),
    cand AS (
      SELECT DISTINCT q.query_id, c.vec_id
      FROM q_lists q JOIN corpus_lists c USING (centroid_id)
      WHERE c.vec_id <> q.query_id
    ),
    iadc AS (
      SELECT c.query_id, c.vec_id, CAST(SUM(d.dist) AS BIGINT) AS approx_sqdist
      FROM cand c
      JOIN {enc_cte} e ON e.vec_id = c.vec_id
      JOIN {dist_cte} d ON d.vec_id = c.query_id AND d.sub = e.sub AND d.code_id = e.code_id
      GROUP BY 1, 2
    ){rerank_tail if rerank else adc_head}
    """


@q("ann_topk_ivfpq", _ivfpq_oracle(nprobe=2, rerank=True, refined=True, k=256))
def ann_topk_ivfpq(spark):
    """IVF-PQ (similarity.ann_topk_ivfpq): the FAISS-style composition —
    coarse IVF lists prune WHICH vectors each query scores (nprobe=2 of
    16 lists, ~1/8 of the corpus read), PQ codes decide HOW the probed
    lists are scanned (integer ADC over compressed codes, no vector
    movement), and the ADC shortlist re-ranks against the STORED
    full-precision vectors (r11 verdict #1: compressed ADC ranks are
    shortlist material, not answers — rerank is now the DEFAULT search
    path, and the oracle replays shortlist + exact rerank bit-for-bit).
    Since r13 the build runs at the API DEFAULTS — k=256 codebook, one
    Lloyd refinement round, auto-numpy encoder, the measured production
    configuration (r12 verdict #3) — so the config a user gets by not
    choosing one is exactly what the driver oracle-checks here. The
    100 TB vector-search architecture in one plan: partition pruning ×
    compressed scanning × shortlist-bounded exact scoring."""
    emb = spark.table("embeddings")
    return similarity.ann_topk_ivfpq(
        emb, F.col("vec_id") < 5, n_centroids=16, nprobe=2, top_k=10
    )


@q(
    "ann_ivfpq_index_search",
    _ivfpq_oracle(nprobe=4, rerank=True, refined=True, k=256),
)
def ann_ivfpq_index_search(spark):
    """Build-once / query-many IVF-PQ (similarity.ivfpq_index +
    ivfpq_search, r11): the index relations (coarse lists + quantized
    codes + codebook) are built and cached ONCE, then the search turns
    the nprobe dial (4 of 16 lists here) with zero index work — the
    production deployment shape the one-shot ann_topk_ivfpq collapses.
    Since r12 the default search path re-ranks the ADC shortlist
    against the stored vectors (verdict #1); the oracle replays the
    identical integer pipeline — lists, ADC shortlist, exact rerank —
    at nprobe=4, so the decomposed API is held to the same bit-exact
    contract as the one-shot path. Since r13 the build takes the API
    defaults (k=256, refine_rounds=1, auto-numpy — the measured
    production config, r12 verdict #3) and the oracle replays them."""
    emb = spark.table("embeddings")
    idx = similarity.ivfpq_index(emb, n_centroids=16)
    return similarity.ivfpq_search(
        idx, emb, F.col("vec_id") < 5, nprobe=4, top_k=10
    )


@q("ann_ivfpq_refined_search", _ivfpq_oracle(nprobe=4, rerank=False, refined=True))
def ann_ivfpq_refined_search(spark):
    """IVF-PQ over a Lloyd-REFINED codebook encoded by the numpy
    engine (r12): ivfpq_index(refine_rounds=1, encoder="numpy") runs
    the refinement partial-sums and the code assignment in single
    Arrow passes — the scale path that avoids the corpus × m × k
    Catalyst fanout at production k. Searched with rerank=False ON
    PURPOSE: the raw ADC output exposes the refined distances
    directly, so the oracle (DuckDB's independent floor-mean
    refinement + re-encode + ADC) pins the numpy encoder's exact
    integer arithmetic — with the rerank on, a wrong codebook could
    hide behind a forgiving shortlist."""
    emb = spark.table("embeddings")
    idx = similarity.ivfpq_index(
        emb, n_centroids=16, m=8, k=16, refine_rounds=1, encoder="numpy"
    )
    return similarity.ivfpq_search(
        idx, emb, F.col("vec_id") < 5, nprobe=4, top_k=10, rerank=False
    )


@q(
    "q_incremental_rollup",
    """
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders GROUP BY 1
    """,
)
def q_incremental_rollup(spark):
    """Incremental materialized-aggregate maintenance (operators/cdc.py
    rollup_partial + merge_rollup): the monthly revenue rollup is built
    as BASE partials (90% of orders) merged with a DELTA batch's
    partials (the other 10%) — never re-scanning base rows — and the
    oracle recomputes the whole aggregate from scratch, proving
    merge(partial(A), partial(B)) == partial(A ∪ B) value-exact. Sums
    are quantized to BIGINT cents (floor(x*100+0.5)) so they are
    order-independent and engine-exact. At 100 TB the maintained rollup
    is key-cardinality-sized; each load shuffles only aggregate rows."""
    from muninn_avro_to_parquet_spark.operators import cdc

    o = spark.table("orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long").alias("cents"),
        F.col("o_orderkey"),
    )
    sums = {"revenue_cents": F.col("cents")}
    base = cdc.rollup_partial(
        o.filter(F.col("o_orderkey") % 10 != 0).drop("o_orderkey"), ["month"], sums
    )
    delta = cdc.rollup_partial(
        o.filter(F.col("o_orderkey") % 10 == 0).drop("o_orderkey"), ["month"], sums
    )
    return cdc.merge_rollup(base, delta, ["month"])


def _repeated_spans_oracle(k: int = 8, min_run: int = 16, cap: int = 64) -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(regexp_replace(lower(text),
                         '[^a-z0-9一-鿿 ]', ' ', 'g'), ' +'), x -> x <> '') AS toks
      FROM documents
    ),
    grams AS (
      SELECT doc_id, CAST(u.i AS INT) - 1 AS pos,
             md5(array_to_string(list_slice(toks, CAST(u.i AS INT),
                                            CAST(u.i AS INT) + {k - 1}), ' ')) AS h
      FROM toks, unnest(range(1, len(toks) - {k} + 2)) AS u(i)
      WHERE len(toks) >= {k}
    ),
    hot AS (
      SELECT h FROM grams GROUP BY h
      HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {cap}
    ),
    g2 AS (SELECT g.* FROM grams g JOIN hot USING (h)),
    m AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.pos AS pos_a, a.pos - b.pos AS diag
      FROM g2 a JOIN g2 b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    isl AS (
      SELECT id_a, id_b, diag, pos_a,
             pos_a - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, diag
                                        ORDER BY pos_a) AS island
      FROM m
    ),
    agg AS (
      SELECT id_a, id_b, diag, island,
             MIN(pos_a) AS a_start,
             CAST(COUNT(*) + {k} - 1 AS BIGINT) AS run_tokens
      FROM isl GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b, a_start, a_start - diag AS b_start, run_tokens
    FROM agg WHERE run_tokens >= {min_run}
    """


def _span_removal_oracle(k: int = 8, min_run: int = 16, cap: int = 64) -> str:
    # same CTE chain as _repeated_spans_oracle, then cut the found runs
    # out of the higher-id document and re-assemble the token stream
    spans_select = _repeated_spans_oracle(k, min_run, cap)
    # turn the standalone spans query into a CTE by splitting off its WITH
    body = spans_select.strip()
    assert body.startswith("WITH")
    ctes, final = body.rsplit("SELECT id_a, id_b", 1)
    return f"""
    {ctes.strip()},
    spans AS (SELECT id_a, id_b{final}),
    cuts AS (SELECT id_b AS doc_id, b_start, run_tokens FROM spans),
    tokpos AS (
      SELECT doc_id, CAST(u.i AS INT) - 1 AS pos, toks[u.i] AS token
      FROM toks, unnest(range(1, len(toks) + 1)) AS u(i)
    ),
    kept AS (
      SELECT t.doc_id, t.pos, t.token FROM tokpos t
      WHERE NOT EXISTS (
        SELECT 1 FROM cuts c
        WHERE c.doc_id = t.doc_id
          AND t.pos >= c.b_start AND t.pos < c.b_start + c.run_tokens)
    ),
    keptagg AS (
      SELECT doc_id, string_agg(token, ' ' ORDER BY pos) AS clean_text,
             COUNT(*) AS n_kept
      FROM kept GROUP BY doc_id
    ),
    counts AS (SELECT doc_id, len(toks) AS n_toks FROM toks)
    SELECT c.doc_id, COALESCE(kk.clean_text, '') AS clean_text,
           CAST(c.n_toks - COALESCE(kk.n_kept, 0) AS INT) AS n_removed
    FROM counts c LEFT JOIN keptagg kk USING (doc_id)
    """


@q("dedup_repeated_spans", _repeated_spans_oracle())
def dedup_repeated_spans(spark):
    """Exact repeated-substring runs (operators/dedup.py repeated_spans):
    Lee-et-al-style span dedup via overlapping k-gram anchors →
    boilerplate-capped anchor join → gaps-and-islands per
    (pair, diagonal). Finds every maximal shared run of >= 16 tokens
    exactly — the verbatim-repeat remover document-level MinHash cannot
    express. At 100 TB this runs within near-dup clusters (the anchor
    join stays cluster-local); the registry query runs it corpus-wide at
    test scale, which is the same code path."""
    return dedup.repeated_spans(
        spark.table("documents"), "doc_id", "text", k=8, min_run=16, max_anchor_docs=64
    )


@q("dedup_span_removal", _span_removal_oracle())
def dedup_span_removal(spark):
    """The APPLY step of exact span dedup (operators/dedup.py
    remove_repeated_spans): every run found by ``repeated_spans`` is cut
    from the higher-id document (first occurrence survives), and the
    cleaned token stream comes back for EVERY document — untouched docs
    pass through with n_removed = 0. The cut is a codegen'd indexed-array
    ``filter`` against the doc's cut-interval array; no UDFs, no explode
    of unaffected documents. The oracle rebuilds the identical spans via
    the shared CTE chain, then anti-filters token positions relationally
    — proving the whole find→apply pipeline value-exact, clean text
    included."""
    return dedup.remove_repeated_spans(
        spark.table("documents"), "doc_id", "text", k=8, min_run=16, max_anchor_docs=64
    )


# ---------------------------------------------------------------------------
# round-5 session-2 additions: leakage-safe splits, target-mixture
# resampling, blocked fuzzy join
# ---------------------------------------------------------------------------


def _leakage_split_oracle() -> str:
    # CC walk (same CTE as _components_oracle) -> split key = component
    # representative, own id for singletons -> the standard hash-cutoff
    # split CASE over that key
    key = "COALESCE(c.component_id, d.doc_id)"
    pfx = f"substr(md5('split:' || CAST({key} AS VARCHAR)), 1, 4)"
    return f"""
    WITH RECURSIVE pairs AS ({_minhash_pairs_oracle(8, 4, 64)}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    walk(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node
    ),
    comp AS (SELECT node, MIN(label) AS component_id FROM walk GROUP BY node)
    SELECT d.doc_id, {key} AS split_key,
           CASE WHEN {pfx} < '{_SPLIT_CUT_TRAIN}' THEN 'train'
                WHEN {pfx} < '{_SPLIT_CUT_VAL}' THEN 'val'
                ELSE 'test' END AS split
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    """


@q("split_leakage_safe", _leakage_split_oracle())
def split_leakage_safe(spark):
    """Near-dup-aware train/val/test split (operators/pipeline.py
    assign_split_leakage_safe): the split key is the connected-component
    representative of the MinHash-LSH candidate graph, so every member
    of a duplicate cluster lands in the SAME split — a near-copy of a
    training document can never contaminate the eval set, the leak a
    plain per-document hash split cannot prevent. Singletons keep their
    own id as the key, making the assignment identical to
    ``split_train_val_test`` wherever no duplicate exists."""
    docs = spark.table("documents")
    pairs = dedup.minhash_candidate_pairs(
        docs, "doc_id", "text", num_hashes=8, bands=4, max_bucket=64,
        distinct=False,  # min-label CC is duplicate-insensitive
    )
    return pipeline.assign_split_leakage_safe(
        docs, "doc_id", pairs, _SPLIT_WEIGHTS
    ).select("doc_id", "split_key", "split")


_MIXTURE_TARGETS = {"src1": 50, "src2": 30, "src3": 20}


def _target_mixture_oracle() -> str:
    vals = ", ".join(f"('{s}', {w})" for s, w in sorted(_MIXTURE_TARGETS.items()))
    srcs = ", ".join(f"'{s}'" for s in sorted(_MIXTURE_TARGETS))
    return f"""
    WITH t(source, w) AS (VALUES {vals}),
    counts AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents WHERE source IN ({srcs}) GROUP BY source
    ),
    j AS (SELECT c.source, c.n, CAST(t.w AS BIGINT) AS w FROM counts c JOIN t USING (source)),
    b AS (
      SELECT n AS nb, w AS wb FROM j
      ORDER BY (n * 1000000) // w ASC, source ASC LIMIT 1
    )
    SELECT d.doc_id, d.source, d.lang
    FROM documents d JOIN j USING (source) CROSS JOIN b
    WHERE CAST(CAST(('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 4)) AS BIGINT) AS HUGEINT)
          * CAST(b.wb AS HUGEINT) * CAST(j.n AS HUGEINT)
          < CAST(65536 AS HUGEINT) * CAST(j.w AS HUGEINT) * CAST(b.nb AS HUGEINT)
    """


@q("sample_target_mixture", _target_mixture_oracle())
def sample_target_mixture(spark):
    """Resample the corpus DOWN to a target source mixture
    (operators/pipeline.py sample_to_target_mixture): keep the largest
    corpus achievable at exactly 50/30/20 across src1/src2/src3 — the
    binding source is kept whole, every other source is hash-thinned to
    match, all other sources are dropped. The keep decision is an
    all-integer cross-multiplication (no float fraction ever exists), so
    the sampled set is bit-identical in any engine."""
    return pipeline.sample_to_target_mixture(
        spark.table("documents"), "doc_id", "source", _MIXTURE_TARGETS
    ).select("doc_id", "source", "lang")


@q(
    "q_record_linkage",
    """
    WITH rel AS (
      SELECT c_custkey AS id, c_nationkey AS blk, c_name AS name,
             c_mktsegment AS segment,
             CAST(floor(CAST(c_acctbal AS DOUBLE) / 1000.0) AS BIGINT) AS acct_band
      FROM customer WHERE c_custkey < 3000
    ),
    scored AS (
      SELECT a.id AS id_a, b.id AS id_b,
             COALESCE(levenshtein(a.name, b.name) <= 2, FALSE) AS name_agree,
             (a.segment IS NOT DISTINCT FROM b.segment) AS segment_agree,
             (a.acct_band IS NOT DISTINCT FROM b.acct_band) AS acct_band_agree,
             CAST(CASE WHEN levenshtein(a.name, b.name) <= 2
                       THEN 2000000 ELSE -500000 END
                + CASE WHEN a.segment IS NOT DISTINCT FROM b.segment
                       THEN 300000 ELSE -300000 END
                + CASE WHEN a.acct_band IS NOT DISTINCT FROM b.acct_band
                       THEN 400000 ELSE -400000 END AS BIGINT) AS score_micro
      FROM rel a JOIN rel b ON a.blk = b.blk AND a.id < b.id
    )
    SELECT id_a, id_b, name_agree, segment_agree, acct_band_agree, score_micro,
           CASE WHEN score_micro >= 2400000 THEN 'link'
                WHEN score_micro <= -700000 THEN 'non-link'
                ELSE 'possible' END AS decision
    FROM scored
    """,
)
def q_record_linkage(spark):
    """Fellegi–Sunter record-linkage scoring (operators/linkage.py):
    nation-blocked customer pairs scored across three fields — fuzzy
    name (Levenshtein ≤ 2), exact market segment, exact account-balance
    band — with integer micro-log-odds weights summed per pair and split
    into link / possible / non-link by two thresholds. One equi-join on
    the blocking key, per-field codegen CASEs, integer score — the
    oracle reproduces every score and decision exactly. The registry
    instance scores a fixed 3000-customer id window so the nation-blocked
    pair count stays bounded at any scale factor (production use blocks
    finer — e.g. nation x acct band — instead of windowing)."""
    from muninn_avro_to_parquet_spark.operators import linkage

    c = spark.table("customer").filter(F.col("c_custkey") < 3000).select(
        "c_custkey",
        F.col("c_nationkey"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal").cast("double") / F.lit(1000.0))
        .cast("long")
        .alias("acct_band"),
    )
    rules = [
        linkage.FieldRule("name", 2_000_000, -500_000, kind="fuzzy", max_distance=2),
        linkage.FieldRule("segment", 300_000, -300_000),
        linkage.FieldRule("acct_band", 400_000, -400_000),
    ]
    return linkage.pair_scores(
        c,
        "c_custkey",
        F.col("c_nationkey"),
        rules,
        link_micro=2_400_000,
        nonlink_micro=-700_000,
    )


def _linkage_entities_oracle() -> str:
    # the record-linkage scoring CTEs, link-decision pairs only, then the
    # recursive min-label walk the components oracle uses: every customer
    # in a link-connected group maps to the group's minimum id
    return """
    WITH RECURSIVE rel AS (
      SELECT c_custkey AS id, c_nationkey AS blk, c_name AS name,
             c_mktsegment AS segment,
             CAST(floor(CAST(c_acctbal AS DOUBLE) / 1000.0) AS BIGINT) AS acct_band
      FROM customer WHERE c_custkey < 3000
    ),
    scored AS (
      SELECT a.id AS id_a, b.id AS id_b,
             CAST(CASE WHEN levenshtein(a.name, b.name) <= 2
                       THEN 2000000 ELSE -500000 END
                + CASE WHEN a.segment IS NOT DISTINCT FROM b.segment
                       THEN 300000 ELSE -300000 END
                + CASE WHEN a.acct_band IS NOT DISTINCT FROM b.acct_band
                       THEN 400000 ELSE -400000 END AS BIGINT) AS score_micro
      FROM rel a JOIN rel b ON a.blk = b.blk AND a.id < b.id
    ),
    links AS (SELECT id_a, id_b FROM scored WHERE score_micro >= 2400000),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM links
      UNION
      SELECT id_b AS src, id_a AS dst FROM links
    ),
    walk(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node
    )
    SELECT node AS c_custkey, MIN(label) AS entity_id FROM walk GROUP BY node
    """


@q("q_linkage_entities", _linkage_entities_oracle())
def q_linkage_entities(spark):
    """Entity resolution end-to-end: Fellegi-Sunter scoring →
    link-decision pairs → connected components → one entity id per
    linked customer (the group's minimum id). The full production ER
    flow — block, score, threshold, cluster — in one composition;
    the component loop reuses the dedup machinery, so its scale
    behavior (pointer jumping, edge-sized shuffles) is already proven."""
    from muninn_avro_to_parquet_spark.operators import linkage

    c = spark.table("customer").filter(F.col("c_custkey") < 3000).select(
        "c_custkey",
        F.col("c_nationkey"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal").cast("double") / F.lit(1000.0))
        .cast("long")
        .alias("acct_band"),
    )
    rules = [
        linkage.FieldRule("name", 2_000_000, -500_000, kind="fuzzy", max_distance=2),
        linkage.FieldRule("segment", 300_000, -300_000),
        linkage.FieldRule("acct_band", 400_000, -400_000),
    ]
    links = (
        linkage.pair_scores(
            c, "c_custkey", F.col("c_nationkey"), rules,
            link_micro=2_400_000, nonlink_micro=-700_000,
        )
        .filter(F.col("decision") == "link")
        .select("id_a", "id_b")
    )
    return dedup.connected_components(links).select(
        F.col("node").alias("c_custkey"), F.col("component_id").alias("entity_id")
    )


@q(
    "q_fuzzy_join_parts",
    """
    WITH rel AS (
      SELECT p_partkey AS id, p_name AS txt,
             lower(split_part(p_name, ' ', 1)) AS blk
      FROM part
    )
    SELECT a.id AS id_a, b.id AS id_b, a.txt AS text_a, b.txt AS text_b,
           CAST(levenshtein(a.txt, b.txt) AS BIGINT) AS distance
    FROM rel a JOIN rel b ON a.blk = b.blk AND a.id < b.id
    WHERE levenshtein(a.txt, b.txt) <= 2
    """,
)
def q_fuzzy_join_parts(spark):
    """Blocked fuzzy self-join (operators/dedup.py fuzzy_pairs_blocked):
    record-linkage near-matches on part names — equi-join on the
    blocking key (lowercased first token), JVM-side levenshtein on the
    block-local pairs only, never corpus-wide. The entity-resolution
    primitive the relational surface otherwise lacks."""
    out = dedup.fuzzy_pairs_blocked(
        spark.table("part"), "p_partkey", "p_name", max_distance=2
    )
    return out.select(
        "id_a", "id_b", "text_a", "text_b", F.col("distance").cast("long").alias("distance")
    )


@q(
    "q_shard_assignment",
    """
    SELECT doc_id,
           CAST(CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 8 AS INT) AS shard
    FROM documents
    """,
)
def q_shard_assignment(spark):
    """The training-shard writer's assignment function under the hash
    gate (operators/pipeline.py shard_assignment): 16-bit md5 bucket mod
    n_shards, proven bit-identical to the reference SQL — the property
    that lets any engine (or a resumed rebuild) place every document in
    the same shard the original writer did."""
    return spark.table("documents").select(
        "doc_id", pipeline.shard_assignment(F.col("doc_id"), 8).alias("shard")
    )


@q(
    "dedup_incremental_delta",
    f"""
    WITH pairs AS ({_minhash_pairs_oracle(8, 4, 64)}),
    delta AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0)
    SELECT d.doc_id,
           EXISTS(SELECT 1 FROM pairs p
                  WHERE (p.id_a = d.doc_id AND p.id_b % 10 <> 0)
                     OR (p.id_b = d.doc_id AND p.id_a % 10 <> 0)) AS dup_vs_corpus,
           EXISTS(SELECT 1 FROM pairs p
                  WHERE p.id_b = d.doc_id AND p.id_a % 10 = 0) AS dup_in_delta,
           (EXISTS(SELECT 1 FROM pairs p
                   WHERE (p.id_a = d.doc_id AND p.id_b % 10 <> 0)
                      OR (p.id_b = d.doc_id AND p.id_a % 10 <> 0))
            OR EXISTS(SELECT 1 FROM pairs p
                      WHERE p.id_b = d.doc_id AND p.id_a % 10 = 0)) AS is_dup
    FROM delta d
    """,
)
def dedup_incremental_delta(spark):
    """Incremental dedup of a new batch against an existing corpus
    (operators/dedup.py incremental_dedup_flags): the corpus's band
    relation is PRECOMPUTED (persist 4 narrow rows per doc; the corpus
    text is never re-read per increment) and the batch only sketches
    itself. The combined boilerplate cap makes the incremental run
    reproduce a from-scratch run over the union exactly — which is what
    the oracle checks: it derives the same flags from the FULL-corpus
    pair relation, proving incremental ≡ batch."""
    docs = spark.table("documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    corpus_bands = dedup.minhash_bands(
        dedup.minhash_signature(corpus, "doc_id", "text", 8), "doc_id", 8, 4
    )
    return dedup.incremental_dedup_flags(
        delta, corpus_bands, "doc_id", "text",
        num_hashes=8, bands=4, max_bucket=64,
    )


@q(
    "q_fuzzy_join_multipass",
    """
    WITH rel AS (
      SELECT p_partkey AS id, p_name AS txt,
             lower(split_part(p_name, ' ', 1)) AS b1,
             lower((string_split(p_name, ' '))[-1]) AS b2
      FROM part
    ),
    p1 AS (
      SELECT a.id AS id_a, b.id AS id_b, a.txt AS text_a, b.txt AS text_b
      FROM rel a JOIN rel b ON a.b1 = b.b1 AND a.id < b.id
    ),
    p2 AS (
      SELECT a.id AS id_a, b.id AS id_b, a.txt AS text_a, b.txt AS text_b
      FROM rel a JOIN rel b ON a.b2 = b.b2 AND a.id < b.id
    ),
    u AS (SELECT * FROM p1 UNION SELECT * FROM p2)
    SELECT id_a, id_b, text_a, text_b,
           CAST(levenshtein(text_a, text_b) AS BIGINT) AS distance
    FROM u WHERE levenshtein(text_a, text_b) <= 2
    """,
)
def q_fuzzy_join_multipass(spark):
    """Two-pass blocked fuzzy join (operators/dedup.py
    fuzzy_pairs_multipass): first-token AND last-token blocking unioned,
    so a near-match whose typo sits in one block key is still recovered
    by the other pass — the recall pattern production record linkage
    actually runs. Cost is additive per pass (each pass the same
    equi-join shape), never a cross product."""
    out = dedup.fuzzy_pairs_multipass(
        spark.table("part"), "p_partkey", "p_name", max_distance=2
    )
    return out.select(
        "id_a", "id_b", "text_a", "text_b",
        F.col("distance").cast("long").alias("distance"),
    )


@q(
    "corpus_overlap_matrix",
    f"""
    WITH toks AS (SELECT source, {_SQL_TOKENS} AS t FROM documents),
    sh AS (
      SELECT DISTINCT source, unnest(
        [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t)-1)]
      ) AS shingle
      FROM toks WHERE len(t) >= 3
    ),
    sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY source),
    shared AS (
      SELECT a.source AS stratum_a, b.source AS stratum_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT s.stratum_a, s.stratum_b, s.n_shared, x.n_sh AS n_a, y.n_sh AS n_b,
           CAST(s.n_shared AS DOUBLE) / CAST(x.n_sh + y.n_sh - s.n_shared AS DOUBLE) AS jaccard
    FROM shared s
    JOIN sizes x ON s.stratum_a = x.source
    JOIN sizes y ON s.stratum_b = y.source
    """,
)
def corpus_overlap_matrix(spark):
    """Cross-source shingle-overlap matrix (operators/dedup.py
    source_overlap_matrix): per source pair, shared distinct 3-gram
    count and shingle-set Jaccard — the before-training observability
    view that catches two crawls being substantially the same corpus or
    a held-out source leaking into the mix. The self-join fans out per
    shingle by the number of STRATA it appears in (bounded by the
    stratum count, tens), never by document count."""
    return dedup.source_overlap_matrix(spark.table("documents"), "source")


@q(
    "doc_quality_top_fraction",
    f"""
    WITH base AS (
      SELECT doc_id, source, text, {_SQL_TOKENS} AS toks FROM documents
    ),
    feat AS (
      SELECT doc_id, source,
        len(toks) AS n_tokens,
        CAST(len([t for t in toks if t IN ('the','and','of','to','a','in','is','that','for','it')]) AS DOUBLE)
          / CAST(greatest(len(toks), 1) AS DOUBLE) AS stopword_ratio,
        CAST(length(regexp_replace(text, '[a-zA-Z0-9 \t\n\x0B\f\r]', '', 'g')) AS DOUBLE)
          / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio
      FROM base
    ),
    scored AS (
      SELECT doc_id, source,
             (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 0.5 ELSE 0.0 END
              + CASE WHEN stopword_ratio > 0.01 AND stopword_ratio < 0.6 THEN 0.3 ELSE 0.0 END
              + CASE WHEN punct_ratio < 0.2 THEN 0.2 ELSE 0.0 END) AS quality_score
      FROM feat
    ),
    ranked AS (
      SELECT doc_id, source, quality_score,
             ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY quality_score DESC, doc_id ASC
             ) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM scored
    )
    SELECT doc_id, source, quality_score
    FROM ranked WHERE rn <= (n * 300000 + 999999) // 1000000
    """,
)
def doc_quality_top_fraction(spark):
    """Per-source relative quality cut (operators/pipeline.py
    filter_top_fraction): keep the best 30% of EVERY source by quality
    score — the stratified alternative to a global threshold, which
    either guts the clean source or keeps the noisy one whole. Kept
    count per stratum is the all-integer ceil(n·ppm/1e6); ranking is
    (score DESC, doc_id ASC) so engines and re-runs agree row-for-row."""
    scored = text.quality_features(spark.table("documents"))
    return pipeline.filter_top_fraction(
        scored, "quality_score", "source", 300_000, "doc_id"
    ).select("doc_id", "source", "quality_score")


# ---------------------------------------------------------------------------
# in-DataFrame ML (operators/ml.py)
# ---------------------------------------------------------------------------

_LOGREG_FEATURES_SQL = """
      SELECT (length(t) - length(replace(t, 'a', '')))
               - (length(t) - length(replace(t, 'e', ''))) AS x1,
             (length(t) - length(replace(t, ' ', ''))) // 8 AS x2,
             (length(t) - length(replace(t, 'o', ''))) // 8 AS x3,
             CAST((length(t) - length(replace(t, 'a', '')))
                    > (length(t) - length(replace(t, 'e', ''))) AS INT) AS label
      FROM (SELECT coalesce(text, '') AS t FROM documents)
"""


def _logreg_oracle_sql(iterations: int, lr_num: int, lr_den: int, scale: int) -> str:
    """Unroll ``ml.logreg_fit`` into pure DuckDB SQL (the BPE-oracle
    pattern): one margin/residual/aggregate/weight-update CTE chain per
    iteration, then score with the final weights. Every cross-row sum is
    an integer (HUGEINT in DuckDB mirrors the engine's DECIMAL(38,0)
    accumulators); the per-row sigmoid is the same all-rational
    0.5 + m/(2(1+|m|)) in IEEE double, so the hash must match bit-for-bit.
    """
    d = 3
    xs = [f"x{i}" for i in range(1, d + 1)]

    def tdiv(a: str, b: str) -> str:
        # truncation toward zero — matches python _tdiv / Spark `div`
        return f"(CASE WHEN ({a}) >= 0 THEN abs({a}) // ({b}) ELSE -(abs({a}) // ({b})) END)"

    ctes = [f"f AS ({_LOGREG_FEATURES_SQL})"]
    prev = None
    for it in range(1, iterations + 1):
        if prev is None:
            m_body = f"SELECT {', '.join(xs)}, label, CAST(0 AS DOUBLE) AS m FROM f"
        else:
            margin = " + ".join(
                ["w.w0"] + [f"w.w{i + 1}*f.{c}" for i, c in enumerate(xs)]
            )
            m_body = (
                f"SELECT {', '.join('f.' + c for c in xs)}, f.label, "
                f"CAST({margin} AS DOUBLE)/{scale}.0 AS m FROM f, {prev} w"
            )
        ctes.append(f"m{it} AS ({m_body})")
        ctes.append(
            f"r{it} AS (SELECT {', '.join(xs)}, "
            f"CAST(round((0.5 + m/(2.0*(1.0+abs(m))))*{scale}) AS BIGINT) "
            f"- label*{scale} AS r FROM m{it})"
        )
        sums = ", ".join(
            ["SUM(r) AS g0"] + [f"SUM(r*{c}) AS g{i + 1}" for i, c in enumerate(xs)]
        )
        ctes.append(f"a{it} AS (SELECT COUNT(*) AS n, {sums} FROM r{it})")
        upd = ", ".join(
            (
                f"{'w.w%d' % i if prev else '0'} - "
                f"{tdiv(f'{lr_num}*a.g{i}', f'{lr_den}*a.n')} AS w{i}"
            )
            for i in range(d + 1)
        )
        src = f"a{it} a, {prev} w" if prev else f"a{it} a"
        ctes.append(f"w{it} AS (SELECT a.n, {upd} FROM {src})")
        prev = f"w{it}"
    margin = " + ".join(["w.w0"] + [f"w.w{i + 1}*f.{c}" for i, c in enumerate(xs)])
    ctes.append(
        "score AS (SELECT COUNT(*) AS n_rows, "
        f"SUM(CASE WHEN CAST(({margin}) > 0 AS INT) = f.label THEN 1 ELSE 0 END) AS n_correct "
        f"FROM f, {prev} w)"
    )
    weight_rows = "\n      UNION ALL ".join(
        f"SELECT 'w{i}' AS name, CAST(w{i} AS BIGINT) AS value FROM {prev}"
        for i in range(d + 1)
    )
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    {weight_rows}
      UNION ALL SELECT 'n_rows', CAST(n_rows AS BIGINT) FROM score
      UNION ALL SELECT 'n_correct', CAST(n_correct AS BIGINT) FROM score
    ORDER BY name
    """


@q("q_logreg_report", _logreg_oracle_sql(3, 1, 1, 1_000_000))
def q_logreg_report(spark):
    """Full-batch integer-exact logistic regression (operators/ml.py) as
    a relation: 3 GD iterations over letter-count features of documents,
    label = ('a'-count > 'e'-count) — a genuinely learnable linear signal
    (accuracy climbs 452 → 500/500 on sf0.01 across the iterations), so
    the report proves the learner moves weights in the right direction,
    not just that the arithmetic hashes. One scan + one map-side-combined
    aggregate per iteration; weights travel as plan literals, so the
    shape is cluster-safe at any row count (sums are DECIMAL(38,0))."""
    from muninn_avro_to_parquet_spark.operators import ml

    feats = (
        spark.table("documents")
        .selectExpr("coalesce(text, '') AS t")
        .selectExpr(
            "(length(t) - length(replace(t, 'a', ''))) "
            "- (length(t) - length(replace(t, 'e', ''))) AS x1",
            "(length(t) - length(replace(t, ' ', ''))) div 8 AS x2",
            "(length(t) - length(replace(t, 'o', ''))) div 8 AS x3",
            "cast((length(t) - length(replace(t, 'a', ''))) "
            "> (length(t) - length(replace(t, 'e', ''))) as int) AS label",
        )
    )
    return ml.logreg_training_report(
        feats, ["x1", "x2", "x3"], "label", iterations=3, lr_num=1, lr_den=1
    ).orderBy("name")


def _linreg_oracle_sql(scale: int) -> str:
    """Mirror ``ml.linreg_fit`` for d=2 in pure DuckDB SQL: the Gram /
    moment sums in HUGEINT, the 3x3 normal-equations solve as exact
    Cramer determinants (first-row cofactor expansion), weights as the
    same trunc-toward-zero scale*det_i/det, then the exact integer
    abs-error sum with the scaled weights. Every value is an integer
    end-to-end, so the hash must match digit-for-digit."""

    def tdiv(a: str, b: str) -> str:
        return (
            f"(CASE WHEN (({a}) >= 0) = (({b}) > 0) "
            f"THEN abs({a}) // abs({b}) ELSE -(abs({a}) // abs({b})) END)"
        )

    return f"""
    WITH f AS (
      SELECT length(t) // 16 AS x1,
             (length(t) - length(replace(t, ' ', ''))) // 4 AS x2,
             (length(t) - length(replace(t, 'e', ''))) AS y
      FROM (SELECT coalesce(text, '') AS t FROM documents)
    ),
    s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                 CAST(SUM(x1) AS HUGEINT) AS s1, CAST(SUM(x2) AS HUGEINT) AS s2,
                 CAST(SUM(x1*x1) AS HUGEINT) AS s11,
                 CAST(SUM(x1*x2) AS HUGEINT) AS s12,
                 CAST(SUM(x2*x2) AS HUGEINT) AS s22,
                 CAST(SUM(y) AS HUGEINT) AS sy,
                 CAST(SUM(x1*y) AS HUGEINT) AS s1y,
                 CAST(SUM(x2*y) AS HUGEINT) AS s2y
          FROM f),
    d AS (SELECT n,
            n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2) AS det,
            sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y) AS det0,
            n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2) AS det1,
            n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2) AS det2
          FROM s),
    w AS (SELECT n,
                 {tdiv(f"{scale}*det0", "det")} AS w0,
                 {tdiv(f"{scale}*det1", "det")} AS w1,
                 {tdiv(f"{scale}*det2", "det")} AS w2
          FROM d),
    e AS (SELECT SUM(ABS(CAST(f.y AS HUGEINT)*{scale}
                         - (w.w0 + w.w1*f.x1 + w.w2*f.x2))) AS err
          FROM f, w)
    SELECT 'abs_err_scaled_sum' AS name, CAST(err AS BIGINT) AS value FROM e
    UNION ALL SELECT 'n_rows', CAST(n AS BIGINT) FROM w
    UNION ALL SELECT 'w0', CAST(w0 AS BIGINT) FROM w
    UNION ALL SELECT 'w1', CAST(w1 AS BIGINT) FROM w
    UNION ALL SELECT 'w2', CAST(w2 AS BIGINT) FROM w
    ORDER BY name
    """


@q("q_linreg_report", _linreg_oracle_sql(10_000))
def q_linreg_report(spark):
    """Closed-form OLS (operators/ml.linreg_fit) as a relation: predict a
    document's 'e'-count from its length/16 and space-count/4 — a real
    linear signal, so the exact-rational normal-equations solve has to
    land near the true coefficients, not just hash. Zero iterations: one
    scan + one (d+1)(d+4)/2-column DECIMAL(38,0) aggregate; the 3x3
    solve is driver-side Fraction arithmetic over nine integers; weights
    re-enter the abs-error pass as plan literals. The DuckDB oracle
    solves the SAME system via Cramer determinants in HUGEINT with the
    shared trunc-toward-zero contract."""
    from muninn_avro_to_parquet_spark.operators import ml

    feats = (
        spark.table("documents")
        .selectExpr("coalesce(text, '') AS t")
        .selectExpr(
            "length(t) div 16 AS x1",
            "(length(t) - length(replace(t, ' ', ''))) div 4 AS x2",
            "length(t) - length(replace(t, 'e', '')) AS y",
        )
    )
    return ml.linreg_training_report(feats, ["x1", "x2"], "y", scale=10_000).orderBy(
        "name"
    )


def _kmeans_oracle_sql(k: int, iterations: int) -> str:
    """Unroll ``ml.kmeans_fit`` (d=2 document features) into DuckDB SQL:
    lexicographic-smallest distinct init, per-iteration argmin assignment
    (ties to the lowest centroid index via ORDER BY dist, j), integer
    trunc-toward-zero centroid updates with the empty-cluster keep rule,
    exact integer inertia under the final centroids."""

    def tdiv(a: str, b: str) -> str:
        return (
            f"(CASE WHEN (({a}) >= 0) = (({b}) > 0) "
            f"THEN abs({a}) // abs({b}) ELSE -(abs({a}) // abs({b})) END)"
        )

    dist = "((f.x1 - c.cx1)*(f.x1 - c.cx1) + (f.x2 - c.cx2)*(f.x2 - c.cx2))"
    ctes = [
        """f AS (
      SELECT row_number() OVER () AS rid,
             length(t) // 16 AS x1,
             (length(t) - length(replace(t, ' ', ''))) // 4 AS x2
      FROM (SELECT coalesce(text, '') AS t FROM documents)
    )""",
        f"""c0 AS (
      SELECT row_number() OVER (ORDER BY x1, x2) - 1 AS j,
             x1 AS cx1, x2 AS cx2
      FROM (SELECT DISTINCT x1, x2 FROM f ORDER BY x1, x2 LIMIT {k})
    )""",
    ]
    prev = "c0"
    for it in range(1, iterations + 1):
        ctes.append(
            f"""a{it} AS (
      SELECT rid, x1, x2, j FROM (
        SELECT f.rid, f.x1, f.x2, c.j,
               row_number() OVER (PARTITION BY f.rid ORDER BY {dist}, c.j) AS rn
        FROM f, {prev} c
      ) WHERE rn = 1
    )"""
        )
        ctes.append(
            f"""g{it} AS (
      SELECT j, COUNT(*) AS n, SUM(x1) AS s1, SUM(x2) AS s2 FROM a{it} GROUP BY j
    )"""
        )
        ctes.append(
            f"""c{it} AS (
      SELECT p.j,
             CASE WHEN g.n IS NULL THEN p.cx1 ELSE {tdiv('g.s1', 'g.n')} END AS cx1,
             CASE WHEN g.n IS NULL THEN p.cx2 ELSE {tdiv('g.s2', 'g.n')} END AS cx2
      FROM {prev} p LEFT JOIN g{it} g USING (j)
    )"""
        )
        prev = f"c{it}"
    ctes.append(
        f"""inert AS (
      SELECT SUM(md) AS inertia, COUNT(*) AS n_rows FROM (
        SELECT MIN({dist}) AS md FROM f, {prev} c GROUP BY f.rid
      )
    )"""
    )
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT concat('c', CAST(j AS VARCHAR), '_x1') AS name, CAST(cx1 AS BIGINT) AS value FROM {prev}
    UNION ALL SELECT concat('c', CAST(j AS VARCHAR), '_x2'), CAST(cx2 AS BIGINT) FROM {prev}
    UNION ALL SELECT 'inertia', CAST(inertia AS BIGINT) FROM inert
    UNION ALL SELECT 'n_rows', CAST(n_rows AS BIGINT) FROM inert
    ORDER BY name
    """


@q("q_kmeans_report", _kmeans_oracle_sql(3, 2))
def q_kmeans_report(spark):
    """Lloyd's k-means (operators/ml.kmeans_fit) as a relation: cluster
    documents by (length/16, spaces/4) — k=3, 2 iterations, everything
    exact integers so the DuckDB oracle (unrolled assignment/update CTE
    chain, the BPE-oracle pattern) hash-matches digit-for-digit. Init is
    the k lexicographically-smallest distinct feature tuples (no RNG);
    ties go to the lowest centroid index; updates are trunc-toward-zero
    means with the empty-cluster keep rule. One scan + one map-side
    aggregate per iteration, centroids as plan literals — the same
    cluster-safe shape as logreg/linreg."""
    from muninn_avro_to_parquet_spark.operators import ml

    feats = (
        spark.table("documents")
        .selectExpr("coalesce(text, '') AS t")
        .selectExpr(
            "length(t) div 16 AS x1",
            "(length(t) - length(replace(t, ' ', ''))) div 4 AS x2",
        )
    )
    return ml.kmeans_training_report(feats, ["x1", "x2"], k=3, iterations=2).orderBy(
        "name"
    )


@q(
    "q_xml_roundtrip",
    """
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation ORDER BY n_nationkey
    """,
)
def q_xml_roundtrip(spark):
    """Spark 4 native XML source/sink (sources/formats.read_xml): the
    nation table writes as rowTag XML to a scratch dir and reads back
    with a pinned schema — the oracle is the table itself, so the hash
    proves the XML round-trip is lossless (types included)."""
    import tempfile

    from pyspark.sql import types as T

    from muninn_avro_to_parquet_spark.sources import formats

    src = spark.table("nation").select("n_nationkey", "n_name", "n_regionkey")
    out = tempfile.mkdtemp(prefix="muninn_xmlrt_") + "/nation_xml"
    formats.write(src, out, fmt="xml", mode="overwrite", rowTag="row", rootTag="rows")
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.LongType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.LongType()),
        ]
    )
    back = formats.read_xml(spark, out, schema).drop("_corrupt_record")
    return back.orderBy("n_nationkey")


# (file_name, n_bytes, md5, width, height, round(mean_luma, 6)) for the
# committed GIF fixtures: gimg_00 = own encoder (variable-width LZW,
# 31x19 non-power dims); gimg_01 = INTERLACED stream (pass-ordered rows,
# interlace flag set); gimg_02 = encoded by the JVM's javax.imageio
# (independent encoder). Regenerate with the block in git history.
_GIF_GROUND_TRUTH = [
    ("gimg_00.gif", 1402, "5152e210298191f7d1dfca26ca3ff9e5", 31, 19, 0.391651),
    ("gimg_01.gif", 1217, "c76fc452827ab9e6d3c192d9583e82c2", 24, 15, 0.426356),
    ("gimg_02.gif", 443, "600cf9a33e9763409d1d651192d2b67b", 20, 14, 0.389699),
]


def _gif_ingest_oracle() -> str:
    vals = ",".join(
        f"('{n}',{s},'{m}',{w},{h},CAST({l} AS DOUBLE))"
        for n, s, m, w, h, l in _GIF_GROUND_TRUTH
    )
    return f"""
    WITH expected(file_name, n_bytes, content_md5, width, height, mean_luma)
      AS (VALUES {vals}),
    blobs AS (
      SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
             CAST(size AS BIGINT) AS n_bytes
      FROM read_blob('{_BINARY_FIXTURE_DIR}/*.gif')
    )
    SELECT file_name, n_bytes, content_md5, width, height, mean_luma
    FROM expected JOIN blobs USING (file_name, n_bytes)
    """


@q("multimodal_gif_ingest", _gif_ingest_oracle())
def multimodal_gif_ingest(spark):
    """binaryFile ingest → REAL GIF decode with the engine's own stdlib
    codec (operators/gif — variable-width LSB-first LZW, color tables,
    interlace, ImageIO-cross-validated EXACT both directions): one row
    per .gif fixture with exact bytes/hash and decoded
    (width, height, mean_luma). The fixture set mixes our encoder's
    output, a hand-built interlaced stream, and an independently encoded
    javax.imageio file, so the oracle pins all three decode paths."""
    from muninn_avro_to_parquet_spark.sources import formats

    raw = formats.read_binary_dir(spark, _BINARY_FIXTURE_DIR, glob_filter="*.gif")
    meta = raw.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.col("length").cast("long").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
        F.col("content"),
    )
    feats = multimodal.decode_images(meta, id_col="file_name", media_col="content")
    return (
        meta.drop("content")
        .join(feats, "file_name")
        .select(
            "file_name",
            "n_bytes",
            "content_md5",
            "width",
            "height",
            F.round(F.col("mean_luma"), 6).alias("mean_luma"),
        )
    )


# ---------------------------------------------------------------------------
# HTML → main-content extraction (operators/html): the curation stage a raw
# crawl hits before any text operator can run. Ground truth for the committed
# fixtures: (file_name, n_bytes, html_md5, n_blocks, n_kept, n_chars,
# main_md5), pinned after hand-verifying the extractions (hdoc_00 = article
# page with nav/aside/share-bar/footer chrome; hdoc_01 = malformed legacy
# page with unclosed <p>, entities, inline script, a link row; hdoc_02 =
# link farm where only one prose paragraph survives). Regenerate with:
#   python -c "from muninn_avro_to_parquet_spark.operators.html import
#     extract_main_text; ..."  (block in git history)
_HTML_FIXTURE_DIR = os.path.join(os.path.dirname(__file__), "fixtures", "html")
_HTML_GROUND_TRUTH = [
    ("hdoc_00.html", 2409, "cd54fb3cb464acdd533f3d8482a9bbab", 9, 8, 1226,
     "4b1c1a31b7b1307a3d4dc79d39cb4063"),
    ("hdoc_01.html", 1399, "889b14d1f68e740d6dc32348973fb45e", 15, 7, 822,
     "065c7799284e9e2d6f2f32f7ed83b5f7"),
    ("hdoc_02.html", 1431, "66a9930a807e2a470fadb07cd528c6b9", 10, 1, 201,
     "4549ce3838b7c98321d35d955382590a"),
]


def _html_extract_oracle() -> str:
    vals = ",".join(
        f"('{n}',{s},'{hm}',{nb},{nk},{nc},'{mm}')"
        for n, s, hm, nb, nk, nc, mm in _HTML_GROUND_TRUTH
    )
    return f"""
    WITH expected(file_name, n_bytes, html_md5, n_blocks, n_kept, n_chars,
                  main_md5)
      AS (VALUES {vals}),
    blobs AS (
      SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
             CAST(size AS BIGINT) AS n_bytes,
             md5(decode(content)) AS html_md5
      FROM read_blob('{_HTML_FIXTURE_DIR}/*.html')
    )
    SELECT file_name, n_bytes, html_md5, n_blocks, n_kept, n_chars, main_md5
    FROM expected JOIN blobs USING (file_name, n_bytes, html_md5)
    """


@q("text_html_extract", _html_extract_oracle())
def text_html_extract(spark):
    """binaryFile ingest → REAL boilerplate removal with the engine's own
    stdlib extractor (operators/html: chrome-subtree stripping +
    link-density/length block classification, jusText-style): one row per
    committed .html fixture with the input bytes pinned (size + md5,
    independently verified by DuckDB's read_blob) and the extraction
    pinned (block counts, extracted length, md5 of the extracted text).
    The fixtures cover the three crawl archetypes — clean article page,
    malformed legacy page, link farm."""
    from muninn_avro_to_parquet_spark.operators import html as html_ops
    from muninn_avro_to_parquet_spark.sources import formats

    raw = formats.read_binary_dir(spark, _HTML_FIXTURE_DIR, glob_filter="*.html")
    meta = raw.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.col("length").cast("long").alias("n_bytes"),
        F.md5(F.col("content")).alias("html_md5"),
        F.col("content"),
    )
    ext = html_ops.html_extract(meta, id_col="file_name", html_col="content")
    return (
        meta.drop("content")
        .join(ext, "file_name")
        .select(
            "file_name",
            "n_bytes",
            "html_md5",
            "n_blocks",
            "n_kept",
            "n_chars",
            F.md5(F.col("main_text")).alias("main_md5"),
        )
        .orderBy("file_name")
    )


@q(
    "text_html_curation",
    f"""
    WITH feat AS (
      SELECT doc_id, text, {_SQL_TOKENS} AS toks FROM documents
    ),
    scored AS (
      SELECT doc_id, 2 AS n_blocks, 1 AS n_kept,
             length(text) AS n_chars, md5(text) AS main_md5,
        CAST(len([t for t in toks if t IN ('the','and','of','to','a','in','is','that','for','it')]) AS DOUBLE)
          / CAST(greatest(len(toks), 1) AS DOUBLE) AS swr,
        CAST(length(regexp_replace(text, '[a-zA-Z0-9 \t\n\x0B\f\r]', '', 'g')) AS DOUBLE)
          / CAST(greatest(length(text), 1) AS DOUBLE) AS pr,
        len(toks) AS n_toks
      FROM feat
    )
    SELECT doc_id, n_blocks, n_kept, n_chars, main_md5,
           (CASE WHEN n_toks BETWEEN 20 AND 1000 THEN 0.5 ELSE 0.0 END
            + CASE WHEN swr > 0.01 AND swr < 0.6 THEN 0.3 ELSE 0.0 END
            + CASE WHEN pr < 0.2 THEN 0.2 ELSE 0.0 END) AS quality_score,
           (CASE WHEN n_toks BETWEEN 20 AND 1000 THEN 0.5 ELSE 0.0 END
            + CASE WHEN swr > 0.01 AND swr < 0.6 THEN 0.3 ELSE 0.0 END
            + CASE WHEN pr < 0.2 THEN 0.2 ELSE 0.0 END) >= 0.7 AS q_kept
    FROM scored
    """,
)
def text_html_curation(spark):
    """The raw-crawl head of the curation pipeline: every document is
    wrapped into a synthetic page (nav chrome + a link-dense promo block
    + the document as the content paragraph + footer chrome) with pure
    Catalyst concat, ``html_extract`` strips it back down, and the
    standard quality gate scores the EXTRACTED text. The oracle pins the
    full round trip per document — block counts the template implies
    (2 blocks seen, 1 kept), byte-exact recovery of the original text
    (md5), and the quality score computed on what the extractor
    returned — so a regression in chrome stripping, link-density
    classification, entity handling, or whitespace normalization flips
    hashes on 500 rows. Upstream-of-the-quality-gate composition is the
    point: filter-before-score on a crawl corpus keeps the expensive
    tokenizer off boilerplate bytes at 100 TB."""
    from muninn_avro_to_parquet_spark.operators import html as html_ops

    docs = spark.table("documents")
    page = docs.select(
        "doc_id",
        F.concat(
            F.lit(
                '<html><head><title>doc</title><script>track();</script>'
                '</head><body><nav><a href="/">Home</a> <a href="/b">Blog'
                '</a> <a href="/c">Contact</a></nav><div class="promo">'
                '<a href="/d1">Deal one</a> <a href="/d2">Deal two</a>'
                "</div><p>"
            ),
            F.col("text"),
            F.lit(
                '</p><footer><a href="/t">Terms</a> Copyright 2026'
                "</footer></body></html>"
            ),
        ).alias("html"),
    )
    ext = html_ops.html_extract(page, id_col="doc_id", html_col="html")
    scored = text.quality_features(ext, text_col="main_text")
    return scored.select(
        "doc_id",
        "n_blocks",
        "n_kept",
        "n_chars",
        F.md5(F.col("main_text")).alias("main_md5"),
        "quality_score",
        (F.col("quality_score") >= 0.7).alias("q_kept"),
    )


def _pagerank_oracle(edges_sql: str, iterations: int = 3, weighted: bool = False) -> str:
    """Unrolled integer fixed-point PageRank (the BPE/k-means oracle
    pattern) over ``edges_sql`` (a SELECT producing src, dst):
    iteration i = a dangling-mass scalar, a contribution aggregate, and
    the update — all in HUGEINT-safe floor division, cast back to
    BIGINT at the end."""
    scale = 10**12
    ctes = [
        """
    edges AS ({edges_sql}),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    outdeg AS (SELECT src, {deg_expr} AS deg FROM edges GROUP BY 1),
    params AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (
      SELECT node, CAST({scale} // p.n AS BIGINT) AS rank_fp
      FROM nodes CROSS JOIN params p
    )""".format(
            scale=scale,
            edges_sql=edges_sql,
            deg_expr="SUM(w)" if weighted else "COUNT(*)",
        )
    ]
    contrib = (
        "SUM((CAST(r.rank_fp AS HUGEINT) * e.w) // o.deg)"
        if weighted
        else "SUM(r.rank_fp // o.deg)"
    )
    for i in range(iterations):
        ctes.append(
            """
    d{i} AS (
      SELECT COALESCE(SUM(r.rank_fp), 0) AS dang
      FROM r{i} r LEFT JOIN outdeg o ON r.node = o.src WHERE o.src IS NULL
    ),
    c{i} AS (
      SELECT e.dst AS node, {contrib} AS infl
      FROM edges e JOIN outdeg o ON e.src = o.src JOIN r{i} r ON e.src = r.node
      GROUP BY 1
    ),
    r{j} AS (
      SELECT n.node,
             CAST((15 * ({scale} // p.n)
                   + 85 * (COALESCE(c.infl, 0) + d.dang // p.n)) // 100
                  AS BIGINT) AS rank_fp
      FROM nodes n CROSS JOIN params p CROSS JOIN d{i} d
      LEFT JOIN c{i} c ON n.node = c.node
    )""".format(i=i, j=i + 1, scale=scale, contrib=contrib)
        )
    return "WITH" + ",".join(ctes) + f"\n    SELECT node, rank_fp FROM r{iterations}"


_PURCHASE_EDGES_SQL = """
      SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    """


@q("graph_pagerank", _pagerank_oracle(_PURCHASE_EDGES_SQL))
def graph_pagerank(spark):
    """Integer fixed-point PageRank (operators/graph) over the
    customer→supplier purchase graph (orders ⋈ lineitem, distinct
    edges) — a bipartite graph where EVERY supplier node is dangling,
    so the dangling-mass redistribution path is exercised on thousands
    of nodes, not an edge case. 3 iterations, damping 85/100, ranks in
    parts-per-10^12; truncating integer arithmetic makes the ranks
    bit-identical across engines, and the oracle unrolls the iterations
    CTE-by-CTE. Scale shape: edge cache partitioned on src reused by
    every iteration's contribution join; one map-side-combined shuffle
    per iteration; dangling mass rides a 1-row broadcast."""
    from muninn_avro_to_parquet_spark.operators import graph

    o = spark.table("orders")
    li = spark.table("lineitem")
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + F.lit(1000000)).alias("dst"),
        )
        .distinct()
    )
    return graph.pagerank(edges, iterations=3)


# pinned ground truth for the fixture outlinks: (file_name, seq, href,
# anchor) — hand-checked against the pages; regenerate by running
# operators.html.extract_links over the fixtures (block in git history)
_HTML_LINKS_GROUND_TRUTH = [
    ("hdoc_00.html", 0, "/", "Home"),
    ("hdoc_00.html", 1, "/world", "World"),
    ("hdoc_00.html", 2, "/tech", "Tech"),
    ("hdoc_00.html", 3, "/sport", "Sport"),
    ("hdoc_00.html", 4, "/opinion", "Opinion"),
    ("hdoc_00.html", 5, "/datasets", "seven public datasets"),
    ("hdoc_00.html", 6, "/a/1", "Markets rally for a third day"),
    ("hdoc_00.html", 7, "/a/2", "Interview: the mayor on transit"),
    ("hdoc_00.html", 8, "/a/3", "Recipe: one-pan weeknight noodles"),
    ("hdoc_00.html", 9, "#tw", "Tweet"),
    ("hdoc_00.html", 10, "#fb", "Share"),
    ("hdoc_00.html", 11, "#ln", "Post"),
    ("hdoc_00.html", 12, "/terms", "Terms"),
    ("hdoc_00.html", 13, "/privacy", "Privacy"),
    ("hdoc_01.html", 0, "guestbook.htm", "Sign the guestbook!"),
    ("hdoc_01.html", 1, "links.htm", "Links"),
    ("hdoc_01.html", 2, "rings.htm", "Webring"),
    ("hdoc_02.html", 0, "/cat/electronics", "Electronics"),
    ("hdoc_02.html", 1, "/cat/garden", "Garden"),
    ("hdoc_02.html", 2, "/cat/toys", "Toys"),
    ("hdoc_02.html", 3, "/cat/auto", "Auto"),
    ("hdoc_02.html", 4, "/cat/books", "Books"),
    ("hdoc_02.html", 5, "/cat/home", "Home"),
    ("hdoc_02.html", 6, "/deal/1001", "Wireless earbuds 40% off"),
    ("hdoc_02.html", 7, "/deal/1002", "Garden hose reel clearance"),
    ("hdoc_02.html", 8, "/deal/1003", "Robot vacuum flash sale"),
    ("hdoc_02.html", 9, "/deal/1004", "Cordless drill bundle"),
    ("hdoc_02.html", 10, "/deal/1005", "Air fryer doorbuster"),
    ("hdoc_02.html", 11, "/deal/1006", "Standing desk markdown"),
    ("hdoc_02.html", 12, "/t/cheap", "cheap"),
    ("hdoc_02.html", 13, "/t/sale", "sale"),
    ("hdoc_02.html", 14, "/t/clearance", "clearance"),
    ("hdoc_02.html", 15, "/t/refurb", "refurb"),
    ("hdoc_02.html", 16, "/t/openbox", "open box"),
    ("hdoc_02.html", 17, "/t/coupon", "coupon"),
    ("hdoc_02.html", 18, "/t/bogo", "bogo"),
    ("hdoc_02.html", 19, "/t/daily", "daily deal"),
    ("hdoc_02.html", 20, "/about", "About"),
    ("hdoc_02.html", 21, "/contact", "Contact"),
    ("hdoc_02.html", 22, "/affiliates", "Affiliate disclosure"),
]


def _html_links_oracle() -> str:
    vals = ",".join(
        "('{}',{},'{}','{}')".format(n, s, h, a.replace("'", "''"))
        for n, s, h, a in _HTML_LINKS_GROUND_TRUTH
    )
    return f"""
    WITH expected(file_name, seq, href, anchor) AS (VALUES {vals}),
    blobs AS (
      SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name
      FROM read_blob('{_HTML_FIXTURE_DIR}/*.html')
    )
    SELECT file_name, seq, href, anchor
    FROM expected JOIN blobs USING (file_name)
    """


@q("text_html_links", _html_links_oracle())
def text_html_links(spark):
    """Outlink extraction over the committed fixtures: one row per
    (document, seq, href, anchor text), document order pinned — the edge
    relation a crawl pipeline feeds into ``graph.pagerank`` and
    URL-level dedup. Includes chrome links (nav/footer) deliberately:
    the link GRAPH wants every outedge even where the text extractor
    drops the surrounding block."""
    from muninn_avro_to_parquet_spark.operators import html as html_ops
    from muninn_avro_to_parquet_spark.sources import formats

    raw = formats.read_binary_dir(spark, _HTML_FIXTURE_DIR, glob_filter="*.html")
    meta = raw.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.col("content"),
    )
    return html_ops.html_links(meta, id_col="file_name", html_col="content")


_CRAWL_EDGES_SQL = """
      SELECT DISTINCT d.doc_id AS src, t.dst
      FROM documents d
      CROSS JOIN (SELECT COUNT(*) AS n FROM documents) p
      CROSS JOIN LATERAL (VALUES ((d.doc_id * 7 + 1) % p.n),
                                 ((d.doc_id * 13 + 5) % p.n),
                                 ((d.doc_id * 31 + 17) % p.n)) AS t(dst)
    """


def _crawl_edges_df(spark, distinct: bool = False):
    """Spark-side twin of ``_CRAWL_EDGES_SQL``: the synthesized doc link
    graph (three arithmetic outlinks per doc) shared by the link-analysis
    queries — ONE place to keep the multipliers in lockstep with the
    oracle macro (r12 review: three verbatim copies had grown)."""
    docs = spark.table("documents")
    n = docs.agg(F.count("*").alias("n"))
    base = docs.crossJoin(F.broadcast(n))
    edges = None
    for mult, add in ((7, 1), (13, 5), (31, 17)):
        leg = base.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * mult + add) % F.col("n")).alias("dst"),
        )
        edges = leg if edges is None else edges.unionByName(leg)
    return edges.distinct() if distinct else edges


@q("crawl_rank_pipeline", _pagerank_oracle(_CRAWL_EDGES_SQL))
def crawl_rank_pipeline(spark):
    """The crawl-analytics flow END-TO-END: every document becomes a
    synthetic page whose body carries three deterministic outlinks
    (``/doc/<(id*k+c) mod N>`` — pure Catalyst concat) plus chrome
    links; ``html_links`` re-extracts them from the markup; the edge
    relation keeps only ``/doc/`` hrefs (chrome filtered out); and
    ``graph.pagerank`` ranks the documents. The oracle NEVER sees the
    HTML — it derives the same edges arithmetically and unrolls the
    same fixed-point iterations, so a regression anywhere in the chain
    (href mangling in the link parser, a lost edge, a rank-arithmetic
    drift) flips the final 500-row hash. This is the real pipeline
    shape at crawl scale: extract (narrow Arrow map) → distinct edges
    (one shuffle) → iterative rank (edge cache + one shuffle/round)."""
    from muninn_avro_to_parquet_spark.operators import graph
    from muninn_avro_to_parquet_spark.operators import html as html_ops

    docs = spark.table("documents")
    n = docs.count()

    def t(mult, add):
        return ((F.col("doc_id") * mult + add) % n).cast("string")

    page = docs.select(
        "doc_id",
        F.concat(
            F.lit('<html><body><nav><a href="/about">About</a></nav><p>'),
            F.col("text"),
            F.lit('</p><ul><li><a href="/doc/'),
            t(7, 1),
            F.lit('">next</a></li><li><a href="/doc/'),
            t(13, 5),
            F.lit('">related</a></li><li><a href="/doc/'),
            t(31, 17),
            F.lit('">more</a></li></ul><footer><a href="/terms">Terms'
                  "</a></footer></body></html>"),
        ).alias("html"),
    )
    links = html_ops.html_links(page, id_col="doc_id", html_col="html")
    edges = (
        links.filter(F.col("href").startswith("/doc/"))
        .select(
            F.col("doc_id").alias("src"),
            F.substring("href", 6, 20).cast("long").alias("dst"),
        )
        .distinct()
    )
    return graph.pagerank(edges, iterations=3)


@q(
    "text_url_canonical",
    """
    SELECT doc_id,
      CASE doc_id % 8
        WHEN 0 THEN 'http://EXAMPLE.com/doc/' || doc_id
        WHEN 1 THEN 'HTTP://example.COM:80/doc/' || (doc_id - 1) || '#frag'
        WHEN 2 THEN 'https://Sub.Example.com:443/doc/' || doc_id || '?q=' || (doc_id % 5)
        WHEN 3 THEN 'https://example.com:8443/Doc/' || doc_id
        WHEN 4 THEN 'http://Example.com'
        WHEN 5 THEN '/relative/path/' || doc_id
        WHEN 7 THEN 'https://Ab:Cd@Example.COM/doc/' || doc_id
        ELSE 'https://example.com/doc/' || doc_id || '?'
      END AS url,
      CASE doc_id % 8
        WHEN 0 THEN 'http://example.com/doc/' || doc_id
        WHEN 1 THEN 'http://example.com/doc/' || (doc_id - 1)
        WHEN 2 THEN 'https://sub.example.com/doc/' || doc_id || '?q=' || (doc_id % 5)
        WHEN 3 THEN 'https://example.com:8443/Doc/' || doc_id
        WHEN 4 THEN 'http://example.com/'
        WHEN 5 THEN '/relative/path/' || doc_id
        WHEN 7 THEN 'https://Ab:Cd@example.com/doc/' || doc_id
        ELSE 'https://example.com/doc/' || doc_id
      END AS canonical_url,
      CASE doc_id % 8
        WHEN 2 THEN 'sub.example.com'
        WHEN 5 THEN ''
        ELSE 'example.com'
      END AS host,
      (doc_id % 8 = 1) OR (doc_id % 8 = 4 AND doc_id <> 4) AS is_dup
    FROM documents
    """,
)
def text_url_canonical(spark):
    """URL canonicalization + URL-level dedup (operators/urls): messy
    crawl variants are SYNTHESIZED per document (scheme/host case noise,
    default and non-default ports, fragments, empty queries, userinfo-
    free empty paths, relative passthrough — one archetype per
    ``doc_id % 7``, with every case-1 row a disguised duplicate of its
    predecessor's case-0 URL, and case 7 a MIXED-CASE USERINFO row —
    RFC 3986 keeps userinfo verbatim while the host lowercases), then
    canonicalized by the pure-Catalyst expressions. The oracle does NOT
    port the canonicalizer — it states the expected canonical form,
    host, and dup flag from first principles per archetype, so an
    implementation drift (a port surviving, a path case-folded, a
    fragment leaking, credentials case-mangled) flips the hash.
    Whole plan is codegen + one window shuffle on the canonical key."""
    from muninn_avro_to_parquet_spark.operators import urls

    docs = spark.table("documents")
    m = F.col("doc_id") % 8
    sid = F.col("doc_id").cast("string")
    prev = (F.col("doc_id") - 1).cast("string")
    q5 = (F.col("doc_id") % 5).cast("string")
    url = (
        F.when(m == 0, F.concat(F.lit("http://EXAMPLE.com/doc/"), sid))
        .when(m == 1, F.concat(F.lit("HTTP://example.COM:80/doc/"), prev, F.lit("#frag")))
        .when(m == 2, F.concat(F.lit("https://Sub.Example.com:443/doc/"), sid, F.lit("?q="), q5))
        .when(m == 3, F.concat(F.lit("https://example.com:8443/Doc/"), sid))
        .when(m == 4, F.lit("http://Example.com"))
        .when(m == 5, F.concat(F.lit("/relative/path/"), sid))
        .when(m == 7, F.concat(F.lit("https://Ab:Cd@Example.COM/doc/"), sid))
        .otherwise(F.concat(F.lit("https://example.com/doc/"), sid, F.lit("?")))
    )
    seed = docs.select("doc_id", url.alias("url"))
    return urls.dedup_by_canonical_url(seed, "doc_id", "url").select(
        "doc_id", "url", "canonical_url", "host", "is_dup"
    )


# committed PNG fixtures: pimg_00 = hand-built writer exercising all five
# scanline filters (8-bit RGB); pimg_01 = javax.imageio ADAM7-INTERLACED
# RGB (independent encoder, odd dims → partial passes); pimg_02 =
# javax.imageio 16-BIT grayscale, also interlaced. Regenerate with the
# block in the fixtures' git history.
_PNG_GROUND_TRUTH = [
    ("pimg_00.png", 324, "f0c96e011f873c6c6392a897cc15d307", 21, 13, 0.501376),
    ("pimg_01.png", 628, "abe485eaf3d06eead40750a5af9329fe", 19, 11, 0.437471),
    ("pimg_02.png", 428, "d7ff206e8786258a8f5bfb14816e48eb", 17, 10, 0.498871),
    # sub-byte depths (r11): pimg_03 = javax.imageio 1-BIT bilevel gray;
    # pimg_04 = javax.imageio 4-BIT 16-color palette; pimg_05 =
    # hand-built 2-BIT gray exercising all five scanline filters over
    # bit-packed rows. Decoded lumas agree with ImageIO's read EXACTLY
    # (tests/test_scale_ops.py sub-byte conformance).
    ("pimg_03.png", 89, "c56717305d368bc144ff2b622fb647e1", 21, 13, 0.40293),
    ("pimg_04.png", 186, "649779b2f7b706e8f62825947397d0fa", 19, 11, 0.473562),
    ("pimg_05.png", 125, "badf0b7036bdb205ba352e1bf6552772", 18, 10, 0.453704),
]


def _png_ingest_oracle() -> str:
    vals = ",".join(
        f"('{n}',{s},'{m}',{w},{h},CAST({l} AS DOUBLE))"
        for n, s, m, w, h, l in _PNG_GROUND_TRUTH
    )
    return f"""
    WITH expected(file_name, n_bytes, content_md5, width, height, mean_luma)
      AS (VALUES {vals}),
    blobs AS (
      SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
             CAST(size AS BIGINT) AS n_bytes
      FROM read_blob('{_BINARY_FIXTURE_DIR}/*.png')
    )
    SELECT file_name, n_bytes, content_md5, width, height, mean_luma
    FROM expected JOIN blobs USING (file_name, n_bytes)
    """


# (src_file, file_n_bytes, record_index, target_uri, http_status,
# n_payload, payload_md5, main_md5) for every RESPONSE record of the
# committed WARC fixtures — wdoc_00.warc.gz is the spec's gzip
# member-per-record layout (warcinfo + 2 pages + 1 request + a 404),
# wdoc_01.warc is plain. main_md5 pins the html extractor's output on
# the decoded payload; regenerate with sources/warc.encode_warc (block
# in git history).
_WARC_GROUND_TRUTH = [
    ("wdoc_00.warc.gz", 1629, 1, "http://gazette.example/river-path", 200,
     484, "22ec23e3e2b9b6700535df52d4541782", "382a0f6745534059b7a6e37d6074b326"),
    ("wdoc_00.warc.gz", 1629, 3, "http://gazette.example/bridge", 200,
     467, "598e52b1a41cceb14071f7afd1a7cc8c", "226eeeb02766a615a2ffc0921fe78cf0"),
    ("wdoc_00.warc.gz", 1629, 4, "http://gazette.example/missing", 404,
     48, "d5d3fb4d42bf99218fe9ca3d8a647ca1", "7284c2476036354f9f15afc020ca890d"),
    ("wdoc_01.warc", 861, 1, "http://library.example/hours", 200,
     387, "300e800bc4ee613b8726e6ba557ca290", "f74e3ea69d1d91ea65853457c4d16f01"),
]


def _warc_ingest_oracle() -> str:
    vals = ",".join(
        f"('{f}',{nb},{i},'{u}',{s},{np},'{pm}','{mm}')"
        for f, nb, i, u, s, np, pm, mm in _WARC_GROUND_TRUTH
    )
    return f"""
    WITH expected(src_file, file_n_bytes, record_index, target_uri,
                  http_status, n_payload, payload_md5, main_md5)
      AS (VALUES {vals}),
    blobs AS (
      SELECT regexp_extract(filename, '([^/]+)$', 1) AS src_file,
             CAST(size AS BIGINT) AS file_n_bytes
      FROM read_blob('{_BINARY_FIXTURE_DIR}/*.warc*')
    )
    SELECT src_file, record_index, target_uri, http_status, n_payload,
           payload_md5, main_md5
    FROM expected JOIN blobs USING (src_file, file_n_bytes)
    """


@q(
    "crawl_host_stats",
    f"""
    WITH seed AS (
      SELECT doc_id,
             'host' || CAST((doc_id // 2) % 5 AS VARCHAR) || '.example' AS host,
             (doc_id % 2 = 1) AS is_dup,
             len({_SQL_TOKENS}) AS n_tokens
      FROM documents
    )
    SELECT host,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN is_dup THEN 0 ELSE 1 END) AS BIGINT) AS n_unique,
           CAST(SUM(CASE WHEN is_dup THEN 0 ELSE n_tokens END) AS BIGINT)
             AS unique_tokens,
           ROUND(CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS dup_rate
    FROM seed GROUP BY host
    """,
)
def crawl_host_stats(spark):
    """Host-level crawl report (r11): the source-weighting table a
    curation pipeline derives before sampling — per host, document
    count, URL-deduped unique count, the token budget the unique docs
    contribute, and the duplicate rate. URLs are SYNTHESIZED so every
    even/odd doc pair collides on one canonical URL within its host
    (scheme-case noise on the odd member exercises the canonicalizer);
    the oracle states the expected stats arithmetically per archetype
    and never sees a URL — a drift in host extraction, canonical
    collapse, or dup attribution flips the 5-row hash. One narrow map +
    one window shuffle on the canonical key + one host aggregate."""
    from muninn_avro_to_parquet_spark.operators import urls

    docs = spark.table("documents")
    h = F.concat(
        F.lit("host"),
        ((F.col("doc_id") / 2).cast("long") % 5).cast("string"),
        F.lit(".example"),
    )
    # odd members carry case noise; canonicalization collapses the pair
    u = F.when(
        F.col("doc_id") % 2 == 1,
        F.concat(
            F.lit("HTTP://"), F.upper(h), F.lit("/doc/"),
            (F.col("doc_id") / 2).cast("long").cast("string"), F.lit("#ref"),
        ),
    ).otherwise(
        F.concat(
            F.lit("http://"), h, F.lit("/doc/"),
            (F.col("doc_id") / 2).cast("long").cast("string"),
        )
    )
    seed = docs.select("doc_id", "text", u.alias("url"))
    d = urls.dedup_by_canonical_url(seed, "doc_id")
    return (
        d.groupBy("host")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("is_dup"), 0).otherwise(1))
            .cast("long")
            .alias("n_unique"),
            F.sum(
                F.when(F.col("is_dup"), 0).otherwise(
                    text.token_count(F.col("text"))
                )
            )
            .cast("long")
            .alias("unique_tokens"),
            F.round(
                F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
                / F.count("*"),
                6,
            ).alias("dup_rate"),
        )
    )


@q(
    "crawl_robots_filter",
    """
    SELECT doc_id,
      CASE doc_id % 6
        WHEN 0 THEN 'http://h0.example/open/page'   || doc_id
        WHEN 1 THEN 'http://h0.example/private/doc' || doc_id
        WHEN 2 THEN 'http://h0.example/private/public/x' || doc_id
        WHEN 3 THEN 'http://h0.example/files/a'     || doc_id || '.zip'
        WHEN 4 THEN 'http://h1.example/docs/guide'  || doc_id
        ELSE 'http://h1.example/anything/else'      || doc_id
      END AS url,
      CASE doc_id % 6
        WHEN 1 THEN FALSE  -- Disallow: /private/
        WHEN 3 THEN FALSE  -- Disallow: /*.zip$ (wildcard + anchor)
        WHEN 5 THEN FALSE  -- muninn group: Disallow: /
        ELSE TRUE          -- 0 unmatched; 2 longer Allow wins; 4 Allow /docs/
      END AS is_allowed
    FROM documents
    """,
)
def crawl_robots_filter(spark):
    """robots.txt filtering (operators/robots, RFC 9309 — r11): two
    hosts publish REAL robots.txt text that the engine parses — h0 has
    a ``*`` group with a Disallow, a longer Allow override, and a
    ``/*.zip$`` wildcard-anchored rule; h1 has a crawler-specific
    ``muninn`` group (Disallow / with an Allow carve-out) that must win
    over its ``*`` group. One synthesized URL archetype per
    ``doc_id % 6`` exercises each decision path; the oracle states the
    expected verdicts from FIRST PRINCIPLES per archetype (the urls-
    family discipline — never port the matcher into SQL), so a drift in
    group selection, longest-match, tie-to-allow, wildcard compilation,
    or the default-allow fallback flips the hash. Plan: broadcast rule
    join + one id-keyed window; the URL relation never shuffles."""
    from muninn_avro_to_parquet_spark.operators import robots

    docs = spark.table("documents")
    m = F.col("doc_id") % 6
    sid = F.col("doc_id").cast("string")
    url = (
        F.when(m == 0, F.concat(F.lit("http://h0.example/open/page"), sid))
        .when(m == 1, F.concat(F.lit("http://h0.example/private/doc"), sid))
        .when(m == 2, F.concat(F.lit("http://h0.example/private/public/x"), sid))
        .when(m == 3, F.concat(F.lit("http://h0.example/files/a"), sid, F.lit(".zip")))
        .when(m == 4, F.concat(F.lit("http://h1.example/docs/guide"), sid))
        .otherwise(F.concat(F.lit("http://h1.example/anything/else"), sid))
    )
    seed = docs.select("doc_id", url.alias("url"))
    rules = robots.rules_df(
        spark,
        [
            (
                "h0.example",
                "# h0 policy\n"
                "User-agent: *\n"
                "Disallow: /private/\n"
                "Allow: /private/public/\n"
                "Disallow: /*.zip$\n",
            ),
            (
                "h1.example",
                "User-agent: muninn\n"
                "Disallow: /\n"
                "Allow: /docs/\n"
                "\n"
                "User-agent: *\n"
                "Disallow: /tmp/\n",
            ),
        ],
        agent="muninn",
    )
    return robots.apply_robots(seed, rules, id_col="doc_id", url_col="url")


@q(
    "text_nfc_normalize",
    """
    WITH seed AS (
      SELECT doc_id,
             text || CASE doc_id % 3
               WHEN 0 THEN ' cafe' || chr(769) || ' resume' || chr(769)
               WHEN 1 THEN ' caf' || chr(233) || ' resum' || chr(233)
               ELSE ''
             END AS raw
      FROM documents
    )
    SELECT doc_id,
           CAST(length(raw) AS BIGINT) AS n_chars_raw,
           CAST(length(nfc_normalize(raw)) AS BIGINT) AS n_chars_nfc,
           raw <> nfc_normalize(raw) AS changed,
           right(nfc_normalize(raw), 6) AS nfc_tail
    FROM seed
    """,
)
def text_nfc_normalize(spark):
    """Unicode NFC normalization (text.normalize_nfc, r11): one third of
    the corpus gets a DECOMPOSED suffix (e + combining acute), one third
    the PRECOMPOSED equivalent, one third stays ASCII — exactly the
    mixed-encoder reality of a multi-source crawl, where un-normalized
    text splits every downstream dedup/hash key. The engine normalizes
    via the Arrow-batched stdlib ``unicodedata`` crossing; the oracle is
    DuckDB's independent ``nfc_normalize`` implementation, so the two
    Unicode tables must agree on lengths, the changed flag, AND the
    exact normalized bytes of the tail."""
    docs = spark.table("documents")
    m = F.col("doc_id") % 3
    raw = F.concat(
        F.col("text"),
        # m==0: DECOMPOSED (e + U+0301); m==1: PRECOMPOSED (U+00E9) --
        # visually identical, different codepoint sequences
        F.when(m == 0, F.lit(" cafe\u0301 resume\u0301"))
        .when(m == 1, F.lit(" caf\u00e9 resum\u00e9"))
        .otherwise(F.lit("")),
    )
    nfc = text.normalize_nfc(raw)
    return docs.select(
        "doc_id",
        F.length(raw).cast("long").alias("n_chars_raw"),
        F.length(nfc).cast("long").alias("n_chars_nfc"),
        (raw != nfc).alias("changed"),
        F.substring(nfc, -6, 6).alias("nfc_tail"),
    )


@q(
    "crawl_sitemap_urls",
    """
    WITH n AS (SELECT COUNT(*) AS n FROM documents)
    SELECT doc_id, seq, url FROM (
      SELECT doc_id, 0 AS seq,
             'http://h' || CAST(doc_id % 2 AS VARCHAR) || '.example/doc/'
               || CAST((doc_id * 7 + 1) % n AS VARCHAR) AS url
      FROM documents CROSS JOIN n
      UNION ALL
      SELECT doc_id, 1,
             'http://h' || CAST(doc_id % 2 AS VARCHAR) || '.example/page/'
               || CAST((doc_id * 13 + 5) % n AS VARCHAR) || '?x=1&y=2'
      FROM documents CROSS JOIN n
      UNION ALL
      SELECT doc_id, 2,
             'http://h' || CAST(doc_id % 2 AS VARCHAR) || '.example/item?id='
               || CAST((doc_id * 3 + 2) % n AS VARCHAR) || '&ref=sitemap'
      FROM documents CROSS JOIN n
    )
    """,
)
def crawl_sitemap_urls(spark):
    """Sitemap URL discovery (urls.sitemap_locs, r11 — the third crawl
    channel next to outlinks and robots): each document synthesizes a
    real sitemaps.org XML document whose first ``<loc>`` carries
    scheme-case + default-port noise, whose second is padded with
    whitespace and carries a PROTOCOL-REQUIRED ``&amp;``-escaped
    multi-parameter query (ADVICE r11), and whose third is wrapped in
    ``<![CDATA[...]]>`` with a raw ``&``; the engine extracts the locs
    (pure Catalyst — tag extraction IS the parse for this flat schema),
    decodes the XML entities, explodes in document order, and
    canonicalizes. The oracle re-derives all three URLs per document
    arithmetically — with the DECODED ampersands — and never sees the
    XML, so a drift in extraction, entity decoding, CDATA handling,
    ordering, trimming, or canonicalization flips the hash."""
    from muninn_avro_to_parquet_spark.operators import urls

    docs = spark.table("documents")
    n = docs.count()

    def t(mult, add):
        return ((F.col("doc_id") * mult + add) % n).cast("string")

    host = F.concat(
        F.lit("h"), (F.col("doc_id") % 2).cast("string"), F.lit(".example")
    )
    xml = F.concat(
        F.lit('<?xml version="1.0"?><urlset '
              'xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
              "<url><loc>HTTP://"),
        F.upper(host), F.lit(":80/doc/"), t(7, 1),
        F.lit("</loc><lastmod>2026-01-01</lastmod><priority>0.8</priority>"
              "</url><url><loc> http://"),
        host, F.lit("/page/"), t(13, 5),
        F.lit("?x=1&amp;y=2 </loc></url><url><loc><![CDATA[http://"),
        host, F.lit("/item?id="), t(3, 2),
        F.lit("&ref=sitemap]]></loc></url></urlset>"),
    )
    return docs.select(
        "doc_id", urls.sitemap_locs(xml).alias("_locs")
    ).select(
        "doc_id",
        F.posexplode("_locs").alias("seq", "_raw"),
    ).select(
        "doc_id", "seq", urls.canonical_url(F.col("_raw")).alias("url")
    )


@q(
    "crawl_frontier_pipeline",
    """
    WITH n AS (SELECT COUNT(*) AS n FROM documents),
    links AS (
      SELECT doc_id,
             'http://h' || CAST(doc_id % 2 AS VARCHAR) || '.example/doc/'
               || CAST((doc_id * 7 + 1) % n AS VARCHAR) AS url,
             TRUE AS allowed
      FROM documents CROSS JOIN n
      UNION ALL
      SELECT doc_id,
             'http://h' || CAST(doc_id % 2 AS VARCHAR) || '.example/private/'
               || CAST((doc_id * 13 + 5) % n AS VARCHAR),
             doc_id % 2 = 1          -- h0 disallows /private/, h1 has no rules
      FROM documents CROSS JOIN n
      UNION ALL
      SELECT doc_id,
             'http://h0.example/doc/' || CAST((doc_id * 31 + 17) % n AS VARCHAR),
             TRUE                    -- absolute link, canonicalized from noisy form
      FROM documents CROSS JOIN n
    ),
    alive AS (
      SELECT l.url FROM links l CROSS JOIN n
      WHERE l.allowed
        AND NOT (l.url LIKE 'http://h0.example/doc/%'
                 AND CAST(regexp_extract(l.url, '([0-9]+)$', 1) AS BIGINT) < n // 2)
    )
    SELECT url, CAST(COUNT(*) AS BIGINT) AS n_referrers
    FROM alive GROUP BY url
    """,
)
def crawl_frontier_pipeline(spark):
    """END-TO-END frontier construction (r11) — the crawl-scheduling
    composition downstream of everything this family built: synthesize
    pages with three outlinks each (two relative, one ABSOLUTE with
    scheme-case + default-port noise), re-extract them from real markup
    (html_links), absolutize relative hrefs against the page host,
    canonicalize (urls), filter through REAL robots.txt rules (h0
    disallows /private/, h1 publishes no rules — the default-allow
    path), drop already-visited URLs (anti-join against the first half
    of h0's /doc/ space), and aggregate the surviving frontier with
    referrer counts. The oracle NEVER sees the HTML, the robots text,
    or the canonicalizer — it re-derives every link and verdict
    arithmetically, so a drift in extraction, absolutization,
    canonicalization, group selection, wildcard matching, or the
    anti-join flips the hash. Plan shape: narrow Arrow map (extract) →
    broadcast rule join + id window (robots) → broadcast anti-join
    (visited is frontier-sized) → one groupBy shuffle on the URL key."""
    from muninn_avro_to_parquet_spark.operators import html as html_ops
    from muninn_avro_to_parquet_spark.operators import robots, urls

    docs = spark.table("documents")
    n = docs.count()

    def t(mult, add):
        return ((F.col("doc_id") * mult + add) % n).cast("string")

    page = docs.select(
        "doc_id",
        F.concat(
            F.lit("<html><body><p>"),
            F.col("text"),
            F.lit('</p><ul><li><a href="/doc/'), t(7, 1),
            F.lit('">next</a></li><li><a href="/private/'), t(13, 5),
            F.lit('">draft</a></li><li><a href="HTTP://H0.example:80/doc/'),
            t(31, 17),
            F.lit('">hub</a></li></ul></body></html>'),
        ).alias("html"),
    )
    links = html_ops.html_links(page, id_col="doc_id", html_col="html")
    host = F.concat(
        F.lit("h"), (F.col("doc_id") % 2).cast("string"), F.lit(".example")
    )
    absolute = F.when(
        F.col("href").startswith("/"),
        F.concat(F.lit("http://"), host, F.col("href")),
    ).otherwise(F.col("href"))
    # deterministic row id from the (doc_id, seq) key html_links already
    # emits — monotonically_increasing_id() is evaluated independently on
    # both sides of apply_robots' winner self-join, so a task retry that
    # changes partition layout could mis-attribute verdicts (ADVICE r11)
    cand = links.select(
        "doc_id",
        urls.canonical_url(absolute).alias("url"),
        F.concat_ws(":", F.col("doc_id"), F.col("seq")).alias("_lid"),
    )
    rules = robots.rules_df(
        spark,
        [("h0.example", "User-agent: *\nDisallow: /private/\n")],
    )
    allowed = robots.apply_robots(cand, rules, id_col="_lid", url_col="url")
    visited = spark.range(n // 2).select(
        F.concat(F.lit("http://h0.example/doc/"), F.col("id").cast("string")).alias(
            "url"
        )
    )
    frontier = (
        allowed.filter(F.col("is_allowed"))
        .join(F.broadcast(visited), "url", "left_anti")
        .groupBy("url")
        .agg(F.count("*").cast("long").alias("n_referrers"))
    )
    return frontier


@q("crawl_warc_ingest", _warc_ingest_oracle())
def crawl_warc_ingest(spark):
    """WARC ingest → HTML extraction, the first stage of a real crawl
    pipeline (sources/warc, r11): the committed fixtures (one
    member-per-record .warc.gz, one plain .warc) fan out into records
    executor-side (binaryFile listing + one Arrow-batched mapInPandas),
    response records keep their HTTP status and payload, and the main
    text comes out of the engine's own boilerplate extractor. The
    oracle pins every response's URI/status/payload hash AND extracted-
    text hash against DuckDB's independent directory listing — a drift
    anywhere in gzip-member handling, header parsing, HTTP splitting,
    or extraction flips a hash."""
    from muninn_avro_to_parquet_spark.operators import html as html_ops
    from muninn_avro_to_parquet_spark.sources import warc as warc_src

    # two committed fixture archives: the file-spread repartition exists
    # for many-archive crawl inputs (warc_ingest_bigcrawl proves it) and
    # would only schedule 62 empty tasks here
    recs = warc_src.read_warc(
        spark, _BINARY_FIXTURE_DIR, glob_filter="*.warc*", spread_files=False
    )
    resp = recs.filter(F.col("warc_type") == "response").select(
        F.concat_ws(":", "src_file", F.col("record_index").cast("string")).alias(
            "rec_id"
        ),
        "src_file",
        "record_index",
        "target_uri",
        "http_status",
        F.octet_length("payload").cast("long").alias("n_payload"),
        F.md5("payload").alias("payload_md5"),
        "payload",
    )
    ext = html_ops.html_extract(resp, id_col="rec_id", html_col="payload")
    return (
        resp.drop("payload")
        .join(ext.select("rec_id", "main_text"), "rec_id")
        .select(
            "src_file",
            "record_index",
            "target_uri",
            "http_status",
            "n_payload",
            "payload_md5",
            F.md5(F.col("main_text").cast("binary")).alias("main_md5"),
        )
        .orderBy("src_file", "record_index")
    )


@q("multimodal_png_ingest", _png_ingest_oracle())
def multimodal_png_ingest(spark):
    """binaryFile ingest → REAL PNG decode with the engine's own stdlib
    codec (full unfilter set, every spec bit depth 1/2/4/8/16, Adam7
    interlace): one row per .png fixture with exact bytes/hash and
    decoded (width, height, mean_luma). The fixture set pins the decode
    paths that have independent encoders behind them: our own
    all-filters writers (8-bit RGB and bit-packed 2-bit gray), ImageIO
    interlaced RGB, ImageIO interlaced 16-bit grayscale, ImageIO 1-bit
    bilevel, and ImageIO 4-bit palette (sub-byte reads are r11)."""
    from muninn_avro_to_parquet_spark.sources import formats

    raw = formats.read_binary_dir(spark, _BINARY_FIXTURE_DIR, glob_filter="*.png")
    meta = raw.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.col("length").cast("long").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
        F.col("content"),
    )
    feats = multimodal.decode_images(meta, id_col="file_name", media_col="content")
    return (
        meta.drop("content")
        .join(feats, "file_name")
        .select(
            "file_name",
            "n_bytes",
            "content_md5",
            "width",
            "height",
            F.round(F.col("mean_luma"), 6).alias("mean_luma"),
        )
    )


@q(
    "graph_degree_stats",
    f"""
    WITH edges AS ({_PURCHASE_EDGES_SQL}),
    srcdeg AS (SELECT src AS node, COUNT(*) AS degree FROM edges GROUP BY 1),
    dstdeg AS (SELECT dst AS node, COUNT(*) AS degree FROM edges GROUP BY 1)
    SELECT 'out' AS side, degree, COUNT(*) AS n_nodes
    FROM srcdeg GROUP BY degree
    UNION ALL
    SELECT 'in' AS side, degree, COUNT(*) AS n_nodes
    FROM dstdeg GROUP BY degree
    """,
)
def graph_degree_stats(spark):
    """Degree distribution of the purchase link graph, both sides — the
    first thing anyone profiles before running an iterative graph
    algorithm (it is what decides salting, broadcast regimes, and list
    sizing). Two map-side-combined aggregates per side over the same
    distinct edge relation; output is histogram-sized (bounded by max
    degree), never node-sized."""
    o = spark.table("orders")
    li = spark.table("lineitem")
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + F.lit(1000000)).alias("dst"),
        )
        .distinct()
    )

    def hist(col, side):
        return (
            edges.groupBy(col)
            .agg(F.count("*").alias("degree"))
            .groupBy("degree")
            .agg(F.count("*").alias("n_nodes"))
            .select(F.lit(side).alias("side"), "degree", "n_nodes")
        )

    return hist("src", "out").unionAll(hist("dst", "in"))


_WEIGHTED_PURCHASE_EDGES_SQL = """
      SELECT o_custkey AS src, l_suppkey + 1000000 AS dst, COUNT(*) AS w
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1, 2
    """


@q(
    "graph_pagerank_weighted",
    _pagerank_oracle(_WEIGHTED_PURCHASE_EDGES_SQL, weighted=True),
)
def graph_pagerank_weighted(spark):
    """Weighted PageRank over the purchase graph: edge weight = lineitem
    multiplicity per (customer, supplier), so heavily-traded links carry
    proportionally more rank — the anchor-quality/link-multiplicity
    weighting a crawl ranker uses. Contribution is
    ``rank·w div Σw(u)`` computed in DECIMAL(38,0) (exact past the long
    range, floor-division contract identical to the oracle's HUGEINT
    ``//``); everything else inherits the unweighted plan — edge cache
    on src, degree folded in at seed, one combine shuffle per
    iteration, broadcast regime when the node count fits."""
    from muninn_avro_to_parquet_spark.operators import graph

    o = spark.table("orders")
    li = spark.table("lineitem")
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + F.lit(1000000)).alias("dst"),
        )
        .agg(F.count("*").alias("w"))
    )
    return graph.pagerank(edges, iterations=3, weight_col="w")


@q(
    "text_paragraph_dedup",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    paras AS (
      SELECT doc_id, i AS pos,
             array_to_string(list_slice(ts, i * 3 + 1, i * 3 + 3), ' ') AS para
      FROM toks, LATERAL (SELECT unnest(range(0, (len(ts) + 2) // 3)) AS i)
    ),
    flagged AS (
      SELECT doc_id, pos, para,
             ROW_NUMBER() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
      FROM paras
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_paragraphs,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           COALESCE(string_agg(CASE WHEN rn = 1 THEN para END,
                               chr(10) || chr(10) ORDER BY pos), '')
             AS text_kept
    FROM flagged GROUP BY doc_id
    """,
)
def text_paragraph_dedup(spark):
    """Corpus-level exact paragraph dedup (r12; C4 §2.2 / RefinedWeb
    line dedup): paragraphs are synthesized as 3-token runs joined by
    blank lines — the tiny vocabulary makes cross-document repeats
    plentiful, so the first-occurrence-wins semantics are actually
    exercised — then ``dedup.paragraph_dedup`` keeps each distinct
    paragraph's first (doc_id, pos) occurrence corpus-wide and
    reassembles documents. The oracle re-derives the same chunking and
    the same window arithmetically; the reassembled text is compared
    verbatim, so a drift in ordering, winner choice, or separator
    handling flips the hash. One narrow synthesize + one paragraph
    exchange + one doc reassembly aggregate."""
    from muninn_avro_to_parquet_spark.operators import dedup

    docs = (
        spark.table("documents")
        .select("doc_id", F.split("text", " ").alias("ts"))
        .select(
            "doc_id",
            F.expr(
                "array_join(transform(sequence(0, (size(ts) - 1) div 3), "
                "i -> array_join(slice(ts, i * 3 + 1, 3), ' ')), '\n\n')"
            ).alias("text"),
        )
    )
    return dedup.paragraph_dedup(docs, "doc_id", "text")


@q(
    "crawl_anchor_text",
    """
    WITH p AS (SELECT COUNT(*) AS n FROM documents),
    links AS (
      SELECT d.doc_id,
             '/doc/' || CAST((d.doc_id * 7 + 1) % p.n AS VARCHAR) AS href,
             string_split(d.text, ' ')[1] AS anchor
      FROM documents d CROSS JOIN p
      UNION ALL
      SELECT d.doc_id,
             '/doc/' || CAST((d.doc_id * 13 + 5) % p.n AS VARCHAR),
             string_split(d.text, ' ')[2]
      FROM documents d CROSS JOIN p
      UNION ALL
      SELECT d.doc_id,
             '/doc/' || CAST((d.doc_id * 31 + 17) % p.n AS VARCHAR),
             string_split(d.text, ' ')[3]
      FROM documents d CROSS JOIN p
    )
    SELECT href,
           CAST(COUNT(*) AS BIGINT) AS n_refs,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_src_docs,
           CAST(COUNT(DISTINCT anchor) AS BIGINT) AS n_anchors,
           MIN(anchor) AS min_anchor,
           MAX(anchor) AS max_anchor
    FROM links GROUP BY href
    """,
)
def crawl_anchor_text(spark):
    """Anchor-text aggregation (r12): the classic web-graph feature —
    for every link TARGET, collect what the linking pages call it
    (reference count, distinct sources, distinct anchor phrases,
    min/max anchor). Each document is rendered into real HTML with
    three outlinks whose targets follow the crawl_rank_pipeline edge
    arithmetic and whose anchor text is the source doc's 1st/2nd/3rd
    token; the Spark side must recover every (href, anchor) pair
    through the actual HTML parser (``html.html_links`` — the
    mapInPandas narrow map), while the oracle states the pairs
    arithmetically and never sees HTML. One narrow render+parse, one
    aggregate exchange on href."""
    from muninn_avro_to_parquet_spark.operators import html as html_ops

    docs = spark.table("documents")
    n = docs.agg(F.count("*").alias("n"))
    ts = F.split("text", " ")

    def link(mult: int, add: int, tok: int):
        return F.concat(
            F.lit('<a href="/doc/'),
            ((F.col("doc_id") * mult + add) % F.col("n")).cast("string"),
            F.lit('">'),
            F.element_at(ts, tok),
            F.lit("</a>"),
        )

    page = docs.crossJoin(F.broadcast(n)).select(
        "doc_id",
        F.concat(
            F.lit("<html><body><p>corpus page</p>"),
            link(7, 1, 1),
            link(13, 5, 2),
            link(31, 17, 3),
            F.lit("</body></html>"),
        ).alias("html"),
    )
    links = html_ops.html_links(page, id_col="doc_id", html_col="html")
    return links.groupBy("href").agg(
        F.count("*").cast("long").alias("n_refs"),
        F.countDistinct("doc_id").cast("long").alias("n_src_docs"),
        F.countDistinct("anchor").cast("long").alias("n_anchors"),
        F.min("anchor").alias("min_anchor"),
        F.max("anchor").alias("max_anchor"),
    )


@q(
    "embedding_knn_graph",
    f"""
    WITH {_EMB_EL},
    cents AS (
      SELECT vec_id AS centroid_id FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT 16
    ),
    cel AS (SELECT centroid_id, x, i
            FROM el JOIN cents ON el.vec_id = cents.centroid_id),
    cnorms AS (SELECT centroid_id, sqrt(CAST(SUM(x * x) AS DOUBLE)) AS nrm
               FROM cel GROUP BY 1),
    adots AS (
      SELECT e.vec_id, c.centroid_id, CAST(SUM(e.x * c.x) AS DOUBLE) AS dot
      FROM el e JOIN cel c ON e.i = c.i GROUP BY 1, 2
    ),
    csim AS (
      SELECT a.vec_id, a.centroid_id,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY a.dot / (nv.nrm * nc.nrm) DESC, a.centroid_id ASC
             ) AS r
      FROM adots a
      JOIN norms nv ON a.vec_id = nv.vec_id
      JOIN cnorms nc ON a.centroid_id = nc.centroid_id
    ),
    lists AS (SELECT vec_id, centroid_id FROM csim WHERE r = 1),
    cand AS (
      SELECT a.vec_id AS src_id, b.vec_id AS dst_id
      FROM lists a JOIN lists b USING (centroid_id)
      WHERE a.vec_id <> b.vec_id
    ),
    pdots AS (
      SELECT cd.src_id, cd.dst_id, CAST(SUM(a.x * b.x) AS DOUBLE) AS dot
      FROM cand cd
      JOIN el a ON a.vec_id = cd.src_id
      JOIN el b ON b.vec_id = cd.dst_id AND b.i = a.i
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT src_id, d.dst_id, dot / (ns.nrm * nd.nrm) AS cosine_sim
      FROM pdots d
      JOIN norms ns ON d.src_id = ns.vec_id
      JOIN norms nd ON d.dst_id = nd.vec_id
    )
    SELECT * FROM (
      SELECT src_id, dst_id, cosine_sim,
             ROW_NUMBER() OVER (
               PARTITION BY src_id ORDER BY cosine_sim DESC, dst_id ASC
             ) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def embedding_knn_graph(spark):
    """Corpus-wide approximate kNN graph (r12): EVERY row's 3 nearest
    neighbors within its IVF list — the all-rows shape SemDeDup
    clustering and graph dedup consume, where the ann_topk_* family
    serves a handful of query rows. Candidates come from a per-list
    self-join of the corpus partitioned once by centroid_id (no
    all-pairs cross); scoring is the same exact-integer cosine, so the
    oracle replays centroid pick, list assignment, candidate join, and
    ranking bit-for-bit."""
    return similarity.knn_graph(
        spark.table("embeddings"), k=3, num_centroids=16
    )


@q(
    "graph_label_propagation",
    f"""
    WITH de AS ({_CRAWL_EDGES_SQL}),
    e AS (SELECT src AS a, dst AS b FROM de UNION SELECT dst, src FROM de),
    l0 AS (SELECT DISTINCT a AS node, a AS label FROM e),
    c1 AS (SELECT e.b AS node, l.label AS nb, COUNT(*) AS c
           FROM e JOIN l0 l ON e.a = l.node GROUP BY 1, 2),
    w1 AS (SELECT node, nb, ROW_NUMBER() OVER (
             PARTITION BY node ORDER BY c DESC, nb ASC) AS r FROM c1),
    l1 AS (SELECT l0.node, COALESCE(w.nb, l0.label) AS label FROM l0
           LEFT JOIN (SELECT node, nb FROM w1 WHERE r = 1) w USING (node)),
    c2 AS (SELECT e.b AS node, l.label AS nb, COUNT(*) AS c
           FROM e JOIN l1 l ON e.a = l.node GROUP BY 1, 2),
    w2 AS (SELECT node, nb, ROW_NUMBER() OVER (
             PARTITION BY node ORDER BY c DESC, nb ASC) AS r FROM c2),
    l2 AS (SELECT l1.node, COALESCE(w.nb, l1.label) AS label FROM l1
           LEFT JOIN (SELECT node, nb FROM w2 WHERE r = 1) w USING (node)),
    c3 AS (SELECT e.b AS node, l.label AS nb, COUNT(*) AS c
           FROM e JOIN l2 l ON e.a = l.node GROUP BY 1, 2),
    w3 AS (SELECT node, nb, ROW_NUMBER() OVER (
             PARTITION BY node ORDER BY c DESC, nb ASC) AS r FROM c3),
    l3 AS (SELECT l2.node, COALESCE(w.nb, l2.label) AS label FROM l2
           LEFT JOIN (SELECT node, nb FROM w3 WHERE r = 1) w USING (node))
    SELECT node, label FROM l3
    """,
)
def graph_label_propagation(spark):
    """Synchronous deterministic label propagation (r12, Raghavan et
    al. 2007) over the same synthesized doc link graph as
    crawl_rank_pipeline: 3 barrier rounds of adopt-the-(count DESC,
    label ASC)-neighbor-label — the community-detection signal where
    connected components are too coarse (a bridge edge does not fuse
    two dense communities; CC would). The oracle unrolls all three
    rounds in plain SQL (the pagerank/BPE pattern); integer counts and
    the total-order tie-break make the result bit-identical."""
    from muninn_avro_to_parquet_spark.operators import graph

    return graph.label_propagation(_crawl_edges_df(spark), iterations=3)


@q(
    "sample_priority_weighted",
    """
    WITH k AS (
      SELECT doc_id, (doc_id % 7) + 1 AS weight,
             CAST('0x' || substr(md5('pri-v1:' || CAST(doc_id AS VARCHAR)),
                                 1, 15) AS BIGINT) AS u
      FROM documents
    )
    SELECT doc_id, weight, u // weight AS priority
    FROM k ORDER BY priority, u, doc_id LIMIT 100
    """,
)
def sample_priority_weighted(spark):
    """Exactly-100 weighted sample without replacement (r12): sequential
    Poisson / priority sampling over the documents table with weight
    (doc_id % 7) + 1 — inclusion ≈ proportional to weight, output size
    exact, no replacement. The priority key is one integer floor
    division of a 60-bit md5 uniform (no transcendental ``-ln(u)/w`` —
    libm isn't bit-portable), so the oracle replays the draw exactly
    and the plan is TakeOrderedAndProject, never a full sort."""
    from muninn_avro_to_parquet_spark.operators import pipeline

    docs = spark.table("documents").select(
        "doc_id", ((F.col("doc_id") % 7) + 1).alias("weight")
    )
    return pipeline.sample_priority(docs, n=100, weight_col="weight").select(
        "doc_id", "weight", "priority"
    )


@q(
    "graph_hits",
    f"""
    WITH e AS ({_CRAWL_EDGES_SQL}),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    a1r AS (SELECT e.dst AS node, CAST(COUNT(*) AS HUGEINT) * 1000000000 AS a
            FROM e GROUP BY 1),
    a1s AS (SELECT SUM(a) AS s FROM a1r),
    a1 AS (SELECT node, CAST((CAST(a AS HUGEINT) * 1000000000) // s AS BIGINT)
             AS a FROM a1r, a1s),
    h1r AS (SELECT e.src AS node, SUM(a1.a) AS h
            FROM e JOIN a1 ON e.dst = a1.node GROUP BY 1),
    h1s AS (SELECT SUM(h) AS s FROM h1r),
    h1 AS (SELECT node, CAST((CAST(h AS HUGEINT) * 1000000000) // s AS BIGINT)
             AS h FROM h1r, h1s),
    a2r AS (SELECT e.dst AS node, SUM(h1.h) AS a
            FROM e JOIN h1 ON e.src = h1.node GROUP BY 1),
    a2s AS (SELECT SUM(a) AS s FROM a2r),
    a2 AS (SELECT node, CAST((CAST(a AS HUGEINT) * 1000000000) // s AS BIGINT)
             AS a FROM a2r, a2s),
    h2r AS (SELECT e.src AS node, SUM(a2.a) AS h
            FROM e JOIN a2 ON e.dst = a2.node GROUP BY 1),
    h2s AS (SELECT SUM(h) AS s FROM h2r),
    h2 AS (SELECT node, CAST((CAST(h AS HUGEINT) * 1000000000) // s AS BIGINT)
             AS h FROM h2r, h2s)
    SELECT n.node,
           COALESCE(h2.h, 0) AS hub_fp,
           COALESCE(a2.a, 0) AS auth_fp
    FROM nodes n LEFT JOIN h2 ON n.node = h2.node
                 LEFT JOIN a2 ON n.node = a2.node
    """,
)
def graph_hits(spark):
    """Integer fixed-point HITS (r12, Kleinberg 1999) over the same
    synthesized doc link graph as crawl_rank_pipeline: two mutual-
    reinforcement rounds with L1 normalization (sqrt is not
    bit-portable; a sum is), every product through DECIMAL(38,0) /
    HUGEINT with floor division — the oracle unrolls both rounds and
    every score matches bit-for-bit. Hubs (pages that point at good
    authorities) and authorities (pages good hubs point at) are the
    link signals PageRank conflates."""
    from muninn_avro_to_parquet_spark.operators import graph

    return graph.hits(_crawl_edges_df(spark), iterations=2)


# frozen-model IVF-PQ replay for the APPEND query: calibration, PQ
# codebook seeds, and coarse centroids derive from the BASE corpus only
# (vec_id % 5 <> 4); codes, lists, and the search run over ALL rows —
# exactly what ivfpq_append produces without rebuilding. Parameterized
# on codebook size + refinement (r13: the entry builds at the API
# defaults k=256/refine_rounds=1; the Lloyd floor-mean round runs on
# BASE assignments only — the frozen model — then ALL rows re-encode
# against the refined codebook, matching ivfpq_index(base) + append).
def _ivfpq_append_oracle(k: int = 256, refined: bool = True) -> str:
    refine_ctes = """
    means AS (
      SELECT e.sub, e.code_id, v.pos,
             CAST(SUM(v.q) // COUNT(*) AS BIGINT) AS cq
      FROM enc e
      JOIN qv v ON v.vec_id = e.vec_id CROSS JOIN dims
      WHERE CAST((v.pos - 1) AS INTEGER) // (d // 8) = e.sub
        AND e.vec_id % 5 <> 4
      GROUP BY 1, 2, 3
    ),
    dist1 AS (
      SELECT v.vec_id, c.sub, c.code_id,
             SUM(CAST(v.q - c.cq AS BIGINT) * (v.q - c.cq)) AS dist
      FROM qv v JOIN means c ON v.pos = c.pos
      GROUP BY 1, 2, 3
    ),
    enc1 AS (
      SELECT vec_id, sub, code_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                     ORDER BY dist ASC, code_id ASC) AS r
        FROM dist1
      ) WHERE r = 1
    ),"""
    dist_cte, enc_cte = ("dist1", "enc1") if refined else ("dist", "enc")
    return f"""
    WITH el AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    st AS (SELECT pos, MIN(v) AS mn, MAX(v) AS mx FROM el
           WHERE vec_id % 5 <> 4 GROUP BY pos),
    qv AS (
      SELECT vec_id, pos,
             CASE WHEN mx > mn
                  THEN CAST(least(greatest(
                         floor((v - mn) * 255.0 / (mx - mn) + 0.5),
                         0.0), 255.0) AS INT) - 128
                  ELSE 0 END AS q
      FROM el JOIN st USING (pos)
    ),
    dims AS (SELECT CAST(MAX(pos) AS INTEGER) AS d FROM qv),
    picked AS (
      SELECT vec_id AS cb_vec,
             ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC,
                                vec_id ASC) - 1 AS code_id
      FROM embeddings WHERE vec_id % 5 <> 4
      ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT {k}
    ),
    cb AS (
      SELECT p.code_id, CAST((q.pos - 1) AS INTEGER) // (d // 8) AS sub,
             q.pos, q.q AS cq
      FROM picked p JOIN qv q ON q.vec_id = p.cb_vec CROSS JOIN dims
    ),
    dist AS (
      SELECT v.vec_id, c.sub, c.code_id,
             SUM(CAST(v.q - c.cq AS BIGINT) * (v.q - c.cq)) AS dist
      FROM qv v JOIN cb c ON v.pos = c.pos
      GROUP BY 1, 2, 3
    ),
    enc AS (
      SELECT vec_id, sub, code_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                     ORDER BY dist ASC, code_id ASC) AS r
        FROM dist
      ) WHERE r = 1
    ),{refine_ctes if refined else ""}
    fel AS (
      SELECT vec_id,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000000) AS BIGINT) AS x,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings
    ),
    fnorms AS (SELECT vec_id, sqrt(CAST(SUM(x * x) AS DOUBLE)) AS nrm
               FROM fel GROUP BY 1),
    icents AS (
      SELECT vec_id AS centroid_id FROM embeddings WHERE vec_id % 5 <> 4
      ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT 16
    ),
    icel AS (SELECT centroid_id, x, i
             FROM fel JOIN icents ON fel.vec_id = icents.centroid_id),
    icnorms AS (SELECT centroid_id, sqrt(CAST(SUM(x * x) AS DOUBLE)) AS nrm
                FROM icel GROUP BY 1),
    iadots AS (
      SELECT e.vec_id, c.centroid_id, CAST(SUM(e.x * c.x) AS DOUBLE) AS dot
      FROM fel e JOIN icel c ON e.i = c.i GROUP BY 1, 2
    ),
    icsim AS (
      SELECT a.vec_id, a.centroid_id,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY a.dot / (nv.nrm * nc.nrm) DESC, a.centroid_id ASC
             ) AS r
      FROM iadots a
      JOIN fnorms nv ON a.vec_id = nv.vec_id
      JOIN icnorms nc ON a.centroid_id = nc.centroid_id
    ),
    corpus_lists AS (SELECT vec_id, centroid_id FROM icsim WHERE r = 1),
    q_lists AS (
      SELECT vec_id AS query_id, centroid_id FROM icsim
      WHERE vec_id < 5 AND r <= 4
    ),
    cand AS (
      SELECT DISTINCT q.query_id, c.vec_id
      FROM q_lists q JOIN corpus_lists c USING (centroid_id)
      WHERE c.vec_id <> q.query_id
    ),
    iadc AS (
      SELECT c.query_id, c.vec_id, CAST(SUM(d.dist) AS BIGINT) AS approx_sqdist
      FROM cand c
      JOIN {enc_cte} e ON e.vec_id = c.vec_id
      JOIN {dist_cte} d ON d.vec_id = c.query_id AND d.sub = e.sub
                 AND d.code_id = e.code_id
      GROUP BY 1, 2
    ),
    shortl AS (
      SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY approx_sqdist ASC, vec_id ASC) AS r
        FROM iadc
      ) WHERE r <= 400
    ),
    rdots AS (
      SELECT c.query_id, c.vec_id, CAST(SUM(a.x * b.x) AS DOUBLE) AS dot
      FROM shortl c
      JOIN fel a ON a.vec_id = c.query_id
      JOIN fel b ON b.vec_id = c.vec_id AND b.i = a.i
      GROUP BY 1, 2
    ),
    rscored AS (
      SELECT d.query_id, d.vec_id, dot / (na.nrm * nb.nrm) AS cosine_sim
      FROM rdots d
      JOIN fnorms na ON d.query_id = na.vec_id
      JOIN fnorms nb ON d.vec_id = nb.vec_id
    )
    SELECT query_id, vec_id, cosine_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, vec_id ASC) AS rank
      FROM rscored
    ) WHERE rank <= 10
    """


@q("ann_ivfpq_append_search", _ivfpq_append_oracle())
def ann_ivfpq_append_search(spark):
    """Incremental IVF-PQ index maintenance (r12): build on the base
    80% of the embeddings table, ivfpq_append the remaining 20% with
    the model FROZEN (stored centroids, codebook, int8 calibration —
    the FAISS add-vs-retrain contract and the incremental-dedup ledger
    discipline applied to the vector index), then run the default
    reranked search over the union. The oracle replays the whole
    frozen-model pipeline — calibration/seeds/centroids from base only,
    codes and lists over all rows — so a drift anywhere in the append
    path (a recalibration, a re-pick, a dropped row) flips the hash.
    Since r13 the base build takes the API defaults (k=256 codebook,
    one Lloyd round over BASE assignments, auto-numpy — the measured
    production config, r12 verdict #3); the oracle replays the
    base-only refinement and the all-rows re-encode exactly."""
    emb = spark.table("embeddings")
    base = emb.filter(F.col("vec_id") % 5 != 4)
    delta = emb.filter(F.col("vec_id") % 5 == 4)
    idx = similarity.ivfpq_index(base, n_centroids=16)
    idx2 = similarity.ivfpq_append(idx, delta)
    return similarity.ivfpq_search(idx2, emb, F.col("vec_id") < 5, nprobe=4, top_k=10)


def _ppr_round(k: int) -> str:
    return f"""i{k} AS (
      SELECT e.dst AS node, SUM(r{k - 1}.r // d.dg) AS infl
      FROM e JOIN r{k - 1} ON e.src = r{k - 1}.node
             JOIN deg d ON e.src = d.src
      GROUP BY 1
    ),
    r{k} AS (
      SELECT n.node,
             CAST(((CASE WHEN n.node % 10 = 0
                         THEN 15 * (1000000000000 // s.c) ELSE 0 END)
                   + 85 * COALESCE(i{k}.infl, 0)) // 100 AS BIGINT) AS r
      FROM nodes n CROSS JOIN s LEFT JOIN i{k} ON n.node = i{k}.node
    )"""


@q(
    "graph_pagerank_personalized",
    f"""
    WITH e AS ({_CRAWL_EDGES_SQL}),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS dg FROM e GROUP BY 1),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM nodes WHERE node % 10 = 0),
    r0 AS (SELECT node, CASE WHEN node % 10 = 0
                             THEN 1000000000000 // s.c
                             ELSE CAST(0 AS BIGINT) END AS r
           FROM nodes, s),
    {_ppr_round(1)},
    {_ppr_round(2)},
    {_ppr_round(3)}
    SELECT node, r AS rank_fp FROM r3
    """,
)
def graph_pagerank_personalized(spark):
    """Personalized PageRank / random walk with restart (r12) over the
    synthesized doc link graph: the walk restarts only at the seed set
    (every 10th doc), so scores mean "importance relative to my trusted
    pages" — the crawl-frontier prioritization signal plain PageRank
    can't give. Same integer fixed-point loop (teleport and dangling
    mass return to seeds, scale div S each); the oracle unrolls all
    three rounds with the seed CASE inline. Every doc in this graph has
    out-edges, so the dangling term is identically zero on both sides."""
    from muninn_avro_to_parquet_spark.operators import graph

    docs = spark.table("documents")
    seeds = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("node")
    )
    return graph.pagerank(
        _crawl_edges_df(spark, distinct=True), iterations=3, seeds=seeds
    )


@q(
    "ml_naive_bayes",
    f"""
    WITH tk AS (
      SELECT doc_id, lang, unnest({_SQL_TOKENS}) AS token FROM documents
    ),
    tr AS (SELECT * FROM tk WHERE doc_id % 5 <> 0),
    n_ct AS (SELECT lang, token, COUNT(*) AS n_ct FROM tr GROUP BY 1, 2),
    n_c AS (SELECT lang, COUNT(*) AS n_c FROM tr GROUP BY 1),
    v AS (SELECT COUNT(DISTINCT token) AS v FROM tr),
    d_c AS (SELECT lang, COUNT(*) AS d_c FROM documents
            WHERE doc_id % 5 <> 0 GROUP BY 1),
    d_all AS (SELECT COUNT(*) AS d_all FROM documents WHERE doc_id % 5 <> 0),
    classes AS (
      SELECT n_c.lang AS cls,
             CAST(round(ln(CAST(d_c.d_c AS DOUBLE) / d_all.d_all) * 1e6)
                  AS BIGINT) AS prior_micro,
             CAST(round(ln(1.0 / (n_c.n_c + v.v)) * 1e6) AS BIGINT)
               AS default_micro,
             (n_c.n_c + v.v) AS den
      FROM n_c JOIN d_c USING (lang) CROSS JOIN v CROSS JOIN d_all
    ),
    weights AS (
      SELECT c.cls, t.token,
             CAST(round(ln((t.n_ct + 1.0) / c.den) * 1e6) AS BIGINT) AS w
      FROM n_ct t JOIN classes c ON t.lang = c.cls
    ),
    dt AS (
      SELECT doc_id, token, COUNT(*) AS cnt FROM tk
      WHERE doc_id % 5 = 0 GROUP BY 1, 2
    ),
    scored AS (
      SELECT dt.doc_id, c.cls,
             CAST(MAX(c.prior_micro)
                  + SUM(dt.cnt * COALESCE(w.w, c.default_micro)) AS BIGINT)
               AS score_micro
      FROM dt CROSS JOIN classes c
      LEFT JOIN weights w ON w.cls = c.cls AND w.token = dt.token
      GROUP BY 1, 2
    ),
    pred AS (
      SELECT doc_id, cls, score_micro FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY score_micro DESC, cls ASC) AS r
        FROM scored
      ) WHERE r = 1
    ),
    best_prior AS (
      SELECT cls, prior_micro FROM classes
      ORDER BY prior_micro DESC, cls ASC LIMIT 1
    )
    -- LEFT JOIN from the held-out DOCUMENT set (not from pred): a
    -- token-less held-out doc has no dt/pred rows but the operator
    -- still emits its prior-only fallback row (ADVICE r12) — the
    -- oracle replays the same cardinality contract
    SELECT d.doc_id, d.lang,
           COALESCE(p.cls, bp.cls) AS predicted,
           CAST(COALESCE(p.score_micro, bp.prior_micro) AS BIGINT)
             AS score_micro
    FROM documents d
    LEFT JOIN pred p USING (doc_id)
    CROSS JOIN best_prior bp
    WHERE d.doc_id % 5 = 0
    """,
)
def ml_naive_bayes(spark):
    """Multinomial Naive Bayes lang classifier (r12): train on the 80%
    doc_id %% 5 != 0 split, classify the held-out 20% — the
    deterministic stand-in for the fastText-style curation classifiers
    (DCLM/CCNet). Every log term is quantized to integer micro-nats
    before summation (the lm_perplexity discipline), so per-class
    scores are exact integer sums and the oracle replays training AND
    inference bit-for-bit — priors, Laplace weights, unseen-token
    defaults, and the (score DESC, class ASC) argmax."""
    from muninn_avro_to_parquet_spark.operators import ml

    return ml.naive_bayes_classify(
        spark.table("documents"), F.col("doc_id") % 5 != 0
    )


@q(
    "q_exact_quantiles",
    """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           quantile_cont(CAST(n_chars AS DOUBLE), 0.25) AS p25,
           quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS p50,
           quantile_cont(CAST(n_chars AS DOUBLE), 0.75) AS p75,
           quantile_cont(CAST(n_chars AS DOUBLE), 0.9) AS p90
    FROM documents GROUP BY lang
    """,
)
def q_exact_quantiles(spark):
    """EXACT interpolated quantiles per group (r12): the doc-length
    distribution report a curation run reads before setting Gopher-style
    cutoffs — p25/p50/p75/p90 of n_chars per language via Spark's exact
    ``percentile`` (NOT approx_percentile: the sketch is
    implementation-defined and would never hash-match an independent
    engine). Both engines use the standard (n-1)·p linear interpolation
    over sorted doubles, so the values agree bit-for-bit. Plan: one
    group-aggregate; exact percentile buffers each group's values — fine
    for group-sized data, the documented trade vs the sketch."""
    return (
        spark.table("documents")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.expr("percentile(cast(n_chars as double), 0.25D)").alias("p25"),
            F.expr("percentile(cast(n_chars as double), 0.5D)").alias("p50"),
            F.expr("percentile(cast(n_chars as double), 0.75D)").alias("p75"),
            F.expr("percentile(cast(n_chars as double), 0.9D)").alias("p90"),
        )
    )


# pinned pHash ground truth for the committed image fixtures
# (file_name, n_bytes, width, height, phash): the tiny img_* BMPs
# exercise decode robustness (flat images hash to the DC-only pattern —
# img_02/img_03 legitimately collide), the phimg_* PPMs are the
# scale-invariance scene: phimg_01 IS phimg_00 nearest-neighbor
# downsampled 2x (hamming 6 of 64), phimg_02 a different scene
# (hamming 30+). Regenerate with operators.multimodal.phash64 (scene
# generators in git history).
_PHASH_GROUND_TRUTH = [
    ("img_00.bmp", 90, 4, 3, 72339069031416265),
    ("img_01.bmp", 174, 7, 5, 6149055795228747945),
    ("img_02.bmp", 58, 1, 1, 1),
    ("img_03.bmp", 150, 16, 2, 1),
    ("img_04.bmp", 182, 5, 8, -792364149957921291),
    ("phimg_00.ppm", 9229, 64, 48, -922284525216816089),
    ("phimg_01.ppm", 2317, 32, 24, -2074167815969135577),
    ("phimg_02.ppm", 9229, 64, 48, 6256534440486134933),
]


def _phash_oracle() -> str:
    vals = ",".join(
        f"('{n}',{nb},{w},{h},CAST({p} AS BIGINT))"
        for n, nb, w, h, p in _PHASH_GROUND_TRUTH
    )
    # hashes are PINNED; the nearest-neighbor ranking is REPLAYED in SQL
    # (xor + bit_count), so a drift in the pairing logic is caught
    # independently of the hash values
    return f"""
    WITH expected(file_name, n_bytes, width, height, phash)
      AS (VALUES {vals}),
    blobs AS (
      SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
             CAST(size AS BIGINT) AS n_bytes
      FROM read_blob('{_BINARY_FIXTURE_DIR}/*img_0*')
      WHERE filename LIKE '%.bmp' OR filename LIKE '%.ppm'
    ),
    hashes AS (
      SELECT file_name, width, height, phash
      FROM expected JOIN blobs USING (file_name, n_bytes)
    ),
    ranked AS (
      SELECT a.file_name, a.width, a.height, a.phash,
             b.file_name AS best_match,
             CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS best_distance,
             ROW_NUMBER() OVER (
               PARTITION BY a.file_name
               ORDER BY bit_count(xor(a.phash, b.phash)) ASC, b.file_name ASC
             ) AS r
      FROM hashes a JOIN hashes b ON a.file_name <> b.file_name
    )
    SELECT file_name, width, height, phash, best_match, best_distance
    FROM ranked WHERE r = 1
    """


@q("multimodal_image_phash", _phash_oracle())
def multimodal_image_phash(spark):
    """Perceptual image hashing (r12): exact integer 64-bit pHash
    (fixed-point DCT basis) over every committed BMP/PPM fixture, each
    image paired with its nearest neighbor by hamming distance — the
    image near-dup primitive. The committed scene pair proves the
    property the hash exists for: phimg_01 (the same scene downsampled
    2x) sits 6 bits from phimg_00 while distinct scenes sit 30+, so a
    ~10-bit threshold separates re-encodes from different pictures.
    Hash values are pinned ground truth; the nearest-neighbor ranking
    is replayed in SQL (xor + bit_count), mirroring the PNG/WARC
    fixture-oracle discipline."""
    from muninn_avro_to_parquet_spark.operators import multimodal
    from muninn_avro_to_parquet_spark.sources import formats

    raw = formats.read_binary_dir(
        spark, _BINARY_FIXTURE_DIR, glob_filter="{img_0*.bmp,phimg_0*.ppm}"
    )
    meta = raw.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.col("content"),
    )
    h = multimodal.image_phash(meta, id_col="file_name", media_col="content")
    a, b = h.alias("a"), h.alias("b")
    pairs = a.join(
        b, F.col("a.file_name") != F.col("b.file_name")
    ).select(
        F.col("a.file_name").alias("file_name"),
        F.col("a.width").alias("width"),
        F.col("a.height").alias("height"),
        F.col("a.phash").alias("phash"),
        F.col("b.file_name").alias("best_match"),
        F.expr("cast(bit_count(a.phash ^ b.phash) as int)").alias(
            "best_distance"
        ),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("file_name").orderBy(
        F.col("best_distance").asc(), F.col("best_match").asc()
    )
    return (
        pairs.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .drop("_r")
    )


# Kafka CDC envelope writer schema for the broker-less roundtrip entry:
# the standard reference envelope (conftest CDC_SCHEMA shape) with a
# documents-derived payload — a bytes-decimal(38,30) column exercises
# the same 30→9 rescale rule as the file converter (§1.4).
_KAFKA_CDC_SCHEMA = {
    "type": "record",
    "name": "doc_cdc",
    "fields": [
        {"name": "uuid", "type": "string"},
        {
            "name": "source_metadata",
            "type": {
                "type": "record",
                "name": "sm",
                "fields": [
                    {"name": "schema", "type": "string"},
                    {"name": "table", "type": "string"},
                    {"name": "is_deleted", "type": "boolean"},
                    {"name": "change_type", "type": "string"},
                    {"name": "tx_id", "type": "long"},
                    {"name": "lsn", "type": "string"},
                    {"name": "primary_keys", "type": {"type": "array", "items": "string"}},
                ],
            },
        },
        {
            "name": "payload",
            "type": {
                "type": "record",
                "name": "doc_payload",
                "fields": [
                    {"name": "doc_id", "type": "long"},
                    {"name": "lang", "type": ["null", "string"]},
                    {"name": "n_chars", "type": ["null", "long"]},
                    {
                        # union form: a DIRECT bytes-decimal falls to
                        # base binary by reference parity (main.py:
                        # 356-363 — only union logicals are honored)
                        "name": "weight",
                        "type": [
                            "null",
                            {
                                "type": "bytes",
                                "logicalType": "decimal",
                                "precision": 38,
                                "scale": 30,
                            },
                        ],
                    },
                ],
            },
        },
    ],
}


@q(
    "q_kafka_cdc_envelope",
    """
    SELECT doc_id, lang, n_chars,
           CAST((doc_id + 1) * 100000000 AS BIGINT) AS weight_nanos,
           'documents' AS sm_table,
           CAST(1000 + doc_id AS BIGINT) AS tx_id,
           (doc_id % 2 = 0) AS is_deleted,
           CAST(doc_id % 4 AS INTEGER) AS kafka_partition,
           doc_id AS kafka_offset
    FROM documents WHERE doc_id < 200
    """,
)
def q_kafka_cdc_envelope(spark):
    """Kafka CDC value decode, broker-less end-to-end (r12 verdict #4):
    documents rows are serialized to Confluent-framed (even doc_id) and
    bare (odd doc_id) Avro datums INSIDE executors (one mapInPandas —
    the producer side of sources/kafka.py), then decoded back through
    unframe → the file converter's SAME fused typed decode, in one
    mapInArrow with no cast after it (decode_cdc_values), with the partition/offset
    bookkeeping columns carried through. The oracle states the
    roundtrip law directly against the source table — any drift in
    framing, union decode, envelope coercion, or the bytes-decimal
    30→9 rescale flips a value. The live topic path (read_kafka) is
    jar-gated in this offline image; this entry proves everything on
    our side of that jar."""
    import pandas as pd

    from muninn_avro_to_parquet_spark.sources import kafka

    docs = spark.table("documents").filter(F.col("doc_id") < 200).select(
        "doc_id", "lang", "n_chars"
    )
    wschema = _KAFKA_CDC_SCHEMA

    def produce(batches):
        for pdf in batches:
            rows = []
            for doc_id, lang, n_chars in zip(
                pdf["doc_id"], pdf["lang"], pdf["n_chars"]
            ):
                did = int(doc_id)
                rec = {
                    "uuid": f"u{did}",
                    "source_metadata": {
                        "schema": "public",
                        "table": "documents",
                        "is_deleted": did % 2 == 0,
                        "change_type": "INSERT",
                        "tx_id": 1000 + did,
                        "lsn": f"0/{did}",
                        "primary_keys": ["doc_id"],
                    },
                    "payload": {
                        "doc_id": did,
                        "lang": None if lang is None else str(lang),
                        "n_chars": None if pd.isna(n_chars) else int(n_chars),
                        "weight": ((did + 1) * 10**29).to_bytes(
                            16, "big", signed=True
                        ),
                    },
                }
                datum = kafka.encode_cdc_datum(rec, wschema)
                value = (
                    kafka.frame_confluent(datum, 7) if did % 2 == 0 else datum
                )
                rows.append((value, did % 4, did))
            yield pd.DataFrame(
                rows, columns=["value", "partition", "offset"]
            )

    topic_shaped = docs.mapInPandas(
        produce, schema="value binary, partition int, offset long"
    )
    out = kafka.decode_cdc_values(topic_shaped, wschema, schema_id=7)
    return out.select(
        "doc_id",
        "lang",
        "n_chars",
        (F.col("weight") * 1000000000).cast("long").alias("weight_nanos"),
        F.col("source_metadata.table").alias("sm_table"),
        F.col("source_metadata.tx_id").alias("tx_id"),
        F.col("source_metadata.is_deleted").alias("is_deleted"),
        F.col("partition").alias("kafka_partition"),
        F.col("offset").alias("kafka_offset"),
    )


_CMS_WIDTH, _CMS_DEPTH = 1024, 3


def _cms_pos_sql(key: str, r: str) -> str:
    """DuckDB twin of sketches._cms_col: 56-bit md5 prefix mod width."""
    return (
        f"CAST(('0x' || substr(md5(CAST({r} AS VARCHAR) || ':' || {key}),"
        f" 1, 14)) AS BIGINT) % {_CMS_WIDTH}"
    )


@q(
    "q_countmin_tokens",
    f"""
    WITH toks AS (
      SELECT unnest({_SQL_TOKENS}) AS token FROM documents
    ),
    cms AS (
      SELECT r.r, {_cms_pos_sql("token", "r.r")} AS col, COUNT(*) AS cnt
      FROM toks CROSS JOIN range(0, {_CMS_DEPTH}) r(r)
      GROUP BY 1, 2
    ),
    exact AS (SELECT token, COUNT(*) AS exact_cnt FROM toks GROUP BY 1),
    qk AS (
      SELECT token, exact_cnt FROM exact
      ORDER BY exact_cnt DESC, token ASC LIMIT 30
    ),
    probe AS (
      SELECT qk.token, qk.exact_cnt, r.r,
             {_cms_pos_sql("qk.token", "r.r")} AS col
      FROM qk CROSS JOIN range(0, {_CMS_DEPTH}) r(r)
    )
    SELECT p.token,
           CAST(p.exact_cnt AS BIGINT) AS exact_cnt,
           CAST(MIN(COALESCE(cms.cnt, 0)) AS BIGINT) AS est_cnt,
           MIN(COALESCE(cms.cnt, 0)) >= p.exact_cnt AS overestimate
    FROM probe p LEFT JOIN cms ON p.r = cms.r AND p.col = cms.col
    GROUP BY p.token, p.exact_cnt
    """,
)
def q_countmin_tokens(spark):
    """Count-Min sketch frequency estimation (operators/sketches.py,
    r13): the corpus token multiset compresses to a depth×width counter
    RELATION (3×1024 here — deliberately narrow so the sf corpus
    actually collides) built by one map-side-combined aggregate; the 30
    most frequent tokens are then estimated from the sketch alone and
    compared against their exact counts. The oracle replays the md5
    counter table, the probe, AND the CMS law itself — ``overestimate``
    must read true on every row because collisions only add. At 100 TB
    the sketch is the only thing that moves (≤ depth×width rows,
    mergeable across shards by re-summing); the exact side here exists
    only to grade the estimate."""
    from muninn_avro_to_parquet_spark.operators import sketches
    from muninn_avro_to_parquet_spark.operators.text import tokens

    tok = spark.table("documents").select(
        F.explode(tokens(F.col("text"))).alias("token")
    )
    cms = sketches.count_min_build(
        tok, "token", depth=_CMS_DEPTH, width=_CMS_WIDTH
    )
    exact = tok.groupBy("token").agg(F.count("*").alias("exact_cnt"))
    qk = exact.orderBy(F.col("exact_cnt").desc(), F.col("token").asc()).limit(30)
    est = sketches.count_min_query(
        cms, qk, "token", depth=_CMS_DEPTH, width=_CMS_WIDTH
    )
    return qk.join(est, "token").select(
        "token",
        F.col("exact_cnt").cast("long").alias("exact_cnt"),
        F.col("est_cnt").cast("long").alias("est_cnt"),
        (F.col("est_cnt") >= F.col("exact_cnt")).alias("overestimate"),
    )


_QSK_K = 1024
_QSK_QS = (1, 5, 25, 50, 75, 95, 99)
_QSK_BOUND_PPM = 40000


@q(
    "q_quantile_sketch",
    f"""
    WITH rel AS (
      SELECT l_orderkey * 8 + l_linenumber AS rid, l_extendedprice AS price
      FROM lineitem
    ),
    hashed AS (
      SELECT CAST(('0x' || substr(md5('q:' || CAST(rid AS VARCHAR)), 1, 14))
                  AS BIGINT) AS h, rid, price
      FROM rel WHERE price IS NOT NULL
    ),
    sk AS (SELECT * FROM hashed ORDER BY h ASC, rid ASC, price ASC LIMIT {_QSK_K}),
    ranked AS (
      SELECT price, ROW_NUMBER() OVER (ORDER BY price ASC, rid ASC) AS rn,
             COUNT(*) OVER () AS n
      FROM sk
    ),
    qs AS (SELECT unnest([{", ".join(map(str, _QSK_QS))}]) AS q_pct),
    est AS (
      SELECT q_pct, price AS est, CAST(n AS BIGINT) AS n_sample
      FROM ranked JOIN qs ON rn = greatest(1, (q_pct * n + 99) // 100)
    ),
    tot AS (SELECT COUNT(*) AS n_total FROM rel),
    scored AS (
      SELECT e.q_pct, e.est, e.n_sample,
             (1000000 * SUM(CASE WHEN r.price < e.est THEN 1 ELSE 0 END))
               // t.n_total AS true_rank_ppm
      FROM rel r CROSS JOIN est e CROSS JOIN tot t
      GROUP BY e.q_pct, e.est, e.n_sample, t.n_total
    )
    SELECT q_pct, est, n_sample,
           CAST(true_rank_ppm AS BIGINT) AS true_rank_ppm,
           CAST(abs(true_rank_ppm - q_pct * 10000) AS BIGINT) AS err_ppm,
           abs(true_rank_ppm - q_pct * 10000) <= {_QSK_BOUND_PPM}
             AS within_bound
    FROM scored
    """,
)
def q_quantile_sketch(spark):
    """Mergeable quantile sketch (operators/sketches.
    quantile_sketch_build, r15 verdict #6): profile()'s exact
    interpolated percentiles need a full exchange per column — the
    100 TB answer is a mergeable summary, here the md5-rank bottom-k
    uniform sample (k=1024), whose membership is a pure row predicate,
    so shard ⊎ shard ≡ whole holds BIT-EXACTLY (pinned in
    tests/test_sketches.py; a literal KLL/t-digest compaction is
    sequence-dependent and can never satisfy that law). Seven quantiles
    of l_extendedprice are estimated from the sample alone, then graded
    against the FULL table: the oracle replays the md5 draw, the
    bottom-k, the integer-ceil index pick, AND the error law —
    ``within_bound`` must read true at ≤40,000 ppm rank error on every
    row (measured max 16,867 at sf0.01; deterministic, so it never
    flakes). Plan: the sketch is ONE TakeOrderedAndProject (map-side
    top-k, no corpus shuffle); grading is one map-side-combined pass."""
    from muninn_avro_to_parquet_spark.operators import sketches

    rel = spark.table("lineitem").select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("rid"),
        F.col("l_extendedprice").alias("price"),
    )
    sk = sketches.quantile_sketch_build(rel, "price", "rid", k=_QSK_K)
    est = sketches.quantile_sketch_query(sk, list(_QSK_QS))
    tot = rel.agg(F.count("*").alias("n_total"))
    scored = (
        rel.crossJoin(F.broadcast(est))
        .crossJoin(F.broadcast(tot))
        .groupBy("q_pct", "est", "n_sample", "n_total")
        .agg(
            F.sum((F.col("price") < F.col("est")).cast("long")).alias("_lt")
        )
        .select(
            "q_pct",
            "est",
            "n_sample",
            F.expr("(1000000 * _lt) div n_total").alias("true_rank_ppm"),
        )
    )
    return scored.select(
        "q_pct",
        "est",
        "n_sample",
        F.col("true_rank_ppm").cast("long").alias("true_rank_ppm"),
        F.abs(F.col("true_rank_ppm") - F.col("q_pct") * 10000)
        .cast("long")
        .alias("err_ppm"),
        (
            F.abs(F.col("true_rank_ppm") - F.col("q_pct") * 10000)
            <= _QSK_BOUND_PPM
        ).alias("within_bound"),
    )


_GQSK_K = 256
_GQSK_QS = (25, 50, 75, 95)
_GQSK_BOUND_PPM = 80000


@q(
    "q_quantile_sketch_grouped",
    f"""
    WITH rel AS (
      SELECT o_orderkey AS rid, o_totalprice AS price, o_orderpriority AS g
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
    ),
    hashed AS (
      SELECT g,
             CAST(('0x' || substr(md5('q:' || CAST(rid AS VARCHAR)), 1, 14))
                  AS BIGINT) AS h, rid, price
      FROM rel
    ),
    sk AS (
      SELECT g, rid, price FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY g
                                     ORDER BY h ASC, rid ASC, price ASC)
                    AS rn
        FROM hashed
      ) WHERE rn <= {_GQSK_K}
    ),
    ranked AS (
      SELECT g, price,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY price ASC, rid ASC)
               AS rn,
             COUNT(*) OVER (PARTITION BY g) AS n
      FROM sk
    ),
    qs AS (SELECT unnest([{", ".join(map(str, _GQSK_QS))}]) AS q_pct),
    est AS (
      SELECT g, q_pct, price AS est, CAST(n AS BIGINT) AS n_sample
      FROM ranked JOIN qs ON rn = greatest(1, (q_pct * n + 99) // 100)
    ),
    tot AS (SELECT g, COUNT(*) AS n_g FROM rel GROUP BY g),
    scored AS (
      SELECT e.g, e.q_pct, e.est, e.n_sample,
             (1000000 * SUM(CASE WHEN r.price < e.est THEN 1 ELSE 0 END))
               // t.n_g AS true_rank_ppm
      FROM rel r JOIN est e ON r.g = e.g JOIN tot t ON t.g = e.g
      GROUP BY e.g, e.q_pct, e.est, e.n_sample, t.n_g
    )
    SELECT g, q_pct, est, n_sample,
           CAST(true_rank_ppm AS BIGINT) AS true_rank_ppm,
           CAST(abs(true_rank_ppm - q_pct * 10000) AS BIGINT) AS err_ppm,
           abs(true_rank_ppm - q_pct * 10000) <= {_GQSK_BOUND_PPM}
             AS within_bound
    FROM scored
    """,
)
def q_quantile_sketch_grouped(spark):
    """Per-GROUP mergeable quantile sketch (operators/sketches.
    quantile_sketch_build_grouped, r15): the production profiling ask —
    "p25/p50/p75/p95 of order value per priority class" — answered from
    ≤ k rows PER GROUP instead of a full per-group exchange of every
    value. Each group keeps its bottom-k md5-rank rows (k=256), so the
    per-group merge law shard ⊎ shard ≡ whole holds bit-exactly (pinned
    in tests/test_sketches.py) and every engine replays the draw. The
    oracle replays the per-group bottom-k, the integer-ceil index pick,
    AND the error law: ``within_bound`` must read true at ≤80,000 ppm
    per-group rank error (measured max 48,398 at sf0.01 — ~1.5σ of the
    k=256 binomial bound; deterministic, never flakes). Plan: ONE hash
    exchange on the group key + a rank window for the sketch; grading
    is a broadcast join of the ≤ groups×quantiles estimate relation."""
    from muninn_avro_to_parquet_spark.operators import sketches

    rel = spark.table("orders").select(
        F.col("o_orderkey").alias("rid"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderpriority").alias("g"),
    )
    sk = sketches.quantile_sketch_build_grouped(
        rel, "price", "rid", "g", k=_GQSK_K
    )
    est = sketches.quantile_sketch_query_grouped(sk, list(_GQSK_QS))
    tot = rel.groupBy("g").agg(F.count("*").alias("n_g"))
    scored = (
        rel.join(F.broadcast(est), "g")
        .join(F.broadcast(tot), "g")
        .groupBy("g", "q_pct", "est", "n_sample", "n_g")
        .agg(F.sum((F.col("price") < F.col("est")).cast("long")).alias("_lt"))
        .select(
            "g",
            "q_pct",
            "est",
            "n_sample",
            F.expr("(1000000 * _lt) div n_g").alias("true_rank_ppm"),
        )
    )
    return scored.select(
        "g",
        "q_pct",
        "est",
        "n_sample",
        F.col("true_rank_ppm").cast("long").alias("true_rank_ppm"),
        F.abs(F.col("true_rank_ppm") - F.col("q_pct") * 10000)
        .cast("long")
        .alias("err_ppm"),
        (
            F.abs(F.col("true_rank_ppm") - F.col("q_pct") * 10000)
            <= _GQSK_BOUND_PPM
        ).alias("within_bound"),
    )


_KMV_K = 1024
_KMV_BOUND_PPM = 100000


@q(
    "q_distinct_sketch",
    f"""
    WITH hashed AS (
      SELECT DISTINCT
             CAST(('0x' || substr(md5('d:' || CAST(l_orderkey AS VARCHAR)),
                   1, 14)) AS BIGINT) AS h
      FROM lineitem WHERE l_orderkey IS NOT NULL
    ),
    sk AS (SELECT h FROM hashed ORDER BY h ASC LIMIT {_KMV_K}),
    agg AS (SELECT COUNT(*) AS n_hashes, MAX(h) AS hk FROM sk),
    est AS (
      SELECT CAST(n_hashes AS BIGINT) AS n_hashes,
             CAST(CASE WHEN n_hashes < {_KMV_K} THEN n_hashes
                  ELSE CAST(CAST({_KMV_K - 1} AS HUGEINT)
                       * 72057594037927936 // hk AS BIGINT) END
                  AS BIGINT) AS est_distinct
      FROM agg
    ),
    truth AS (
      SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS true_distinct
      FROM lineitem WHERE l_orderkey IS NOT NULL
    )
    SELECT e.n_hashes, e.est_distinct, t.true_distinct,
           CAST(abs(e.est_distinct - t.true_distinct) * 1000000
                // t.true_distinct AS BIGINT) AS err_ppm,
           abs(e.est_distinct - t.true_distinct) * 1000000
             // t.true_distinct <= {_KMV_BOUND_PPM} AS within_bound
    FROM est e CROSS JOIN truth t
    """,
)
def q_distinct_sketch(spark):
    """KMV distinct-count sketch (operators/sketches.
    distinct_sketch_build, r15): the k=1024 smallest distinct md5
    hashes of l_orderkey estimate its cardinality as
    ``(k−1)·2^56 div h_(k)`` — the mergeable cardinality summary that
    completes the sketch family (CMS = frequency, bottom-k sample =
    rank, KMV = cardinality), with the exact shard ⊎ shard ≡ whole
    merge law (bottom-k distinct is a pure function of the key SET;
    pinned in tests/test_sketches.py). The oracle replays the hash, the
    bottom-k, the HUGEINT estimator, AND the error law —
    ``within_bound`` must read true at ≤100,000 ppm relative error
    (measured 39,883 ppm at sf0.01 against 14,743 true; the classic
    1/√k bound is ~31,000 1σ; deterministic, never flakes). One
    map-side-combined distinct on the hash — the same exchange
    COUNT(DISTINCT) pays — then TakeOrderedAndProject."""
    from muninn_avro_to_parquet_spark.operators import sketches

    li = spark.table("lineitem")
    sk = sketches.distinct_sketch_build(li, "l_orderkey", k=_KMV_K)
    est = sketches.distinct_sketch_estimate(sk, k=_KMV_K)
    truth = li.filter(F.col("l_orderkey").isNotNull()).agg(
        F.countDistinct("l_orderkey").cast("long").alias("true_distinct")
    )
    err = F.expr(
        "abs(est_distinct - true_distinct) * 1000000 div true_distinct"
    )
    return (
        est.crossJoin(F.broadcast(truth))
        .select(
            "n_hashes",
            "est_distinct",
            "true_distinct",
            err.cast("long").alias("err_ppm"),
            (err <= _KMV_BOUND_PPM).alias("within_bound"),
        )
    )


_KMVO_K = 1024
_KMVO_UNION_PPM = 100000
_KMVO_INTER_PPM = 150000
_KMVO_JACC_PPM = 60000


@q(
    "q_distinct_overlap_sketch",
    f"""
    WITH a_keys AS (
      SELECT DISTINCT o_custkey AS key FROM orders
      WHERE year(o_orderdate) = 1995 AND o_custkey IS NOT NULL
    ),
    b_keys AS (
      SELECT DISTINCT o_custkey AS key FROM orders
      WHERE year(o_orderdate) = 1996 AND o_custkey IS NOT NULL
    ),
    a_h AS (
      SELECT DISTINCT CAST(('0x' || substr(md5('d:' || CAST(key AS VARCHAR)),
                            1, 14)) AS BIGINT) AS h FROM a_keys
    ),
    b_h AS (
      SELECT DISTINCT CAST(('0x' || substr(md5('d:' || CAST(key AS VARCHAR)),
                            1, 14)) AS BIGINT) AS h FROM b_keys
    ),
    sk_a AS (SELECT h FROM a_h ORDER BY h ASC LIMIT {_KMVO_K}),
    sk_b AS (SELECT h FROM b_h ORDER BY h ASC LIMIT {_KMVO_K}),
    m AS (
      SELECT h FROM (
        SELECT DISTINCT h FROM (
          SELECT h FROM sk_a UNION ALL SELECT h FROM sk_b
        )
      ) ORDER BY h ASC LIMIT {_KMVO_K}
    ),
    fl AS (
      SELECT m.h, (a.h IS NOT NULL AND b.h IS NOT NULL) AS is_both
      FROM m LEFT JOIN sk_a a ON m.h = a.h LEFT JOIN sk_b b ON m.h = b.h
    ),
    agg AS (
      SELECT COUNT(*) AS n_merged,
             SUM(CASE WHEN is_both THEN 1 ELSE 0 END) AS c_both,
             MAX(h) AS hk
      FROM fl
    ),
    est AS (
      SELECT CAST(n_merged AS BIGINT) AS n_merged,
             CAST(c_both AS BIGINT) AS c_both,
             CAST(CASE WHEN n_merged < {_KMVO_K} THEN n_merged
                  ELSE CAST(CAST({_KMVO_K - 1} AS HUGEINT)
                       * 72057594037927936 // hk AS BIGINT) END
                  AS BIGINT) AS union_est
      FROM agg
    ),
    est2 AS (
      SELECT n_merged, c_both, union_est,
             CAST(CASE WHEN n_merged = 0 THEN 0
                  ELSE c_both * union_est // n_merged END
                  AS BIGINT) AS inter_est,
             CAST(CASE WHEN n_merged = 0 THEN 0
                  ELSE 1000000 * c_both // n_merged END
                  AS BIGINT) AS jaccard_est_ppm
      FROM est
    ),
    truth AS (
      SELECT CAST((SELECT COUNT(*) FROM a_keys JOIN b_keys USING (key))
                  AS BIGINT) AS true_inter,
             CAST((SELECT COUNT(*) FROM
                   (SELECT key FROM a_keys UNION SELECT key FROM b_keys))
                  AS BIGINT) AS true_union
    ),
    scored AS (
      SELECT e.*, t.true_union, t.true_inter,
             CAST(1000000 * t.true_inter // t.true_union AS BIGINT)
               AS jaccard_true_ppm,
             CAST(abs(e.union_est - t.true_union) * 1000000 // t.true_union
                  AS BIGINT) AS union_err_ppm,
             CAST(abs(e.inter_est - t.true_inter) * 1000000 // t.true_inter
                  AS BIGINT) AS inter_err_ppm
      FROM est2 e CROSS JOIN truth t
    )
    SELECT n_merged, c_both, union_est, inter_est, jaccard_est_ppm,
           true_union, true_inter, jaccard_true_ppm,
           union_err_ppm, inter_err_ppm,
           CAST(abs(jaccard_est_ppm - jaccard_true_ppm) AS BIGINT)
             AS jaccard_err_ppm,
           union_err_ppm <= {_KMVO_UNION_PPM}
             AND inter_err_ppm <= {_KMVO_INTER_PPM}
             AND abs(jaccard_est_ppm - jaccard_true_ppm) <= {_KMVO_JACC_PPM}
             AS within_bound
    FROM scored
    """,
)
def q_distinct_overlap_sketch(spark):
    """KMV set algebra (operators/sketches.distinct_sketch_overlap,
    r15): union, intersection, and Jaccard cardinality of two key sets
    — customers ordering in 1995 vs 1996 — from their bottom-k=1024
    sketches ALONE, never joining the corpora. The merged bottom-k IS
    the union's KMV (the exact merge law), and membership of a merged
    hash in each input sketch is an EXACT set-membership test (h among
    the union's k smallest and h ∈ A ⇒ fewer than k A-hashes below h
    ⇒ h among A's k smallest), so c/|M| is a uniform k-sample Jaccard
    estimate and ``inter_est = c · union_est div |M|`` (Beyer et al.,
    SIGMOD 2007). Below capacity every output degrades to EXACT, like
    the rest of the family. All-integer arithmetic (DECIMAL(38,0)
    estimator, ppm ratios by integer div) — the oracle replays every
    output bit-for-bit and grades three laws at once: ``within_bound``
    must read true at ≤100,000 ppm union error, ≤150,000 ppm
    intersection error, ≤60,000 ppm absolute Jaccard error (measured
    36,389 / 35,049 / 237 at sf0.01 and 45,795 / 27,932 / 10,902 at
    sf0.1 — deterministic, never flakes). Plan: two map-side-combined
    distinct+top-k scans build the sketches; the overlap itself is two
    broadcast joins and one aggregate over ≤ k rows — at 100 TB the
    corpus passes happened when the sketches were built, and
    fleet-wide overlap is a metadata-sized computation."""
    from muninn_avro_to_parquet_spark.operators import sketches

    o = spark.table("orders").filter(F.col("o_custkey").isNotNull())
    a = o.filter(F.year("o_orderdate") == 1995)
    b = o.filter(F.year("o_orderdate") == 1996)
    sk_a = sketches.distinct_sketch_build(a, "o_custkey", k=_KMVO_K)
    sk_b = sketches.distinct_sketch_build(b, "o_custkey", k=_KMVO_K)
    ov = sketches.distinct_sketch_overlap(sk_a, sk_b, k=_KMVO_K)
    truth = (
        o.filter(F.year("o_orderdate").isin(1995, 1996))
        .groupBy("o_custkey")
        .agg(
            F.max((F.year("o_orderdate") == 1995).cast("int")).alias("_ia"),
            F.max((F.year("o_orderdate") == 1996).cast("int")).alias("_ib"),
        )
        .agg(
            F.count("*").cast("long").alias("true_union"),
            F.sum(F.col("_ia") * F.col("_ib")).cast("long").alias(
                "true_inter"
            ),
        )
    )
    scored = ov.crossJoin(F.broadcast(truth)).select(
        "n_merged",
        "c_both",
        "union_est",
        "inter_est",
        "jaccard_est_ppm",
        "true_union",
        "true_inter",
        F.expr("1000000 * true_inter div true_union")
        .cast("long")
        .alias("jaccard_true_ppm"),
        F.expr("abs(union_est - true_union) * 1000000 div true_union")
        .cast("long")
        .alias("union_err_ppm"),
        F.expr("abs(inter_est - true_inter) * 1000000 div true_inter")
        .cast("long")
        .alias("inter_err_ppm"),
    )
    return scored.select(
        "*",
        F.abs(F.col("jaccard_est_ppm") - F.col("jaccard_true_ppm"))
        .cast("long")
        .alias("jaccard_err_ppm"),
        (
            (F.col("union_err_ppm") <= _KMVO_UNION_PPM)
            & (F.col("inter_err_ppm") <= _KMVO_INTER_PPM)
            & (
                F.abs(F.col("jaccard_est_ppm") - F.col("jaccard_true_ppm"))
                <= _KMVO_JACC_PPM
            )
        ).alias("within_bound"),
    )


_PQNT_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@q(
    "q_profile_quantiles",
    f"""
    WITH rel AS (
      SELECT l_orderkey * 8 + l_linenumber AS rid,
             col AS "column", v
      FROM lineitem,
           LATERAL (VALUES {", ".join(f"('{c}', CAST({c} AS DOUBLE))" for c in _PQNT_COLS)})
             AS t(col, v)
      WHERE v IS NOT NULL
    ),
    hashed AS (
      SELECT "column",
             CAST(('0x' || substr(md5('q:' || CAST(rid AS VARCHAR)), 1, 14))
                  AS BIGINT) AS h, rid, v
      FROM rel
    ),
    sk AS (
      SELECT "column", rid, v FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY "column"
                                     ORDER BY h ASC, rid ASC, v ASC) AS rn
        FROM hashed
      ) WHERE rn <= 256
    ),
    ranked AS (
      SELECT "column", v,
             ROW_NUMBER() OVER (PARTITION BY "column"
                                ORDER BY v ASC, rid ASC) AS rn,
             COUNT(*) OVER (PARTITION BY "column") AS n
      FROM sk
    ),
    qs AS (SELECT unnest([25, 50, 75, 95]) AS q_pct),
    est AS (
      SELECT "column", q_pct, v AS est, CAST(n AS BIGINT) AS n_sample
      FROM ranked JOIN qs ON rn = greatest(1, (q_pct * n + 99) // 100)
    ),
    tot AS (SELECT "column", COUNT(*) AS n_c FROM rel GROUP BY 1),
    scored AS (
      SELECT e."column", e.q_pct, e.est, e.n_sample,
             (1000000 * SUM(CASE WHEN r.v < e.est THEN 1 ELSE 0 END))
               // t.n_c AS lt_ppm,
             (1000000 * SUM(CASE WHEN r.v <= e.est THEN 1 ELSE 0 END))
               // t.n_c AS le_ppm
      FROM rel r JOIN est e ON r."column" = e."column"
           JOIN tot t ON t."column" = e."column"
      GROUP BY e."column", e.q_pct, e.est, e.n_sample, t.n_c
    )
    SELECT "column", q_pct, est, n_sample,
           CAST(lt_ppm AS BIGINT) AS lt_ppm,
           CAST(le_ppm AS BIGINT) AS le_ppm,
           CAST(greatest(0, lt_ppm - q_pct * 10000, q_pct * 10000 - le_ppm)
                AS BIGINT) AS err_ppm,
           greatest(0, lt_ppm - q_pct * 10000, q_pct * 10000 - le_ppm)
             <= 80000 AS within_bound
    FROM scored
    """,
)
def q_profile_quantiles(spark):
    """Per-column approximate percentiles from one pass
    (operators/profile.profile_quantiles, r15): four lineitem numeric
    columns unpivot into (column, value) rows, each column keeps its
    bottom-256 md5-rank sample via the grouped sketch's FEW-GROUPS salt
    dial (a first rank window over (column, h % 32) keeps the per-task
    row count bounded; the salt is provably transparent, so the oracle
    replays the per-column bottom-k directly with no salt in sight),
    and p25/p50/p75/p95 come off the ≤ k·|cols| sample. Graded per
    column against true ranks from one aggregate pass with the
    TIE-AWARE law: heavily tied columns (l_discount has 11 distinct
    values) make the strict rank a step function, so a correct
    percentile VALUE can sit far from q by ``count(v < est)`` alone —
    the error is the distance from q to the [count(v<est),
    count(v<=est)] rank INTERVAL, and ``within_bound`` must read true
    at ≤80,000 ppm on every row. This is the sketch answer to
    profile()'s exact percentiles (a full value exchange PER COLUMN at
    100 TB); every column shares ONE md5 row draw, so the estimates are
    cross-column coherent."""
    from muninn_avro_to_parquet_spark.operators import profile

    li = spark.table("lineitem").withColumn(
        "_rid", F.col("l_orderkey") * 8 + F.col("l_linenumber")
    )
    est = profile.profile_quantiles(
        li, list(_PQNT_COLS), "_rid", k=256, quantiles_pct=(25, 50, 75, 95)
    )
    rel = li.select(
        "_rid",
        F.expr(
            "stack({n}, {pairs}) as (column, v)".format(
                n=len(_PQNT_COLS),
                pairs=", ".join(
                    f"'{c}', cast({c} as double)" for c in _PQNT_COLS
                ),
            )
        ),
    ).filter(F.col("v").isNotNull())
    # n_c folds into the grading aggregate: est carries EXACTLY one row
    # per (column, q_pct) — the rank-index equi-filter matches one rank
    # per quantile — so each rel row lands once in every (column, q_pct)
    # group and count(*) there IS the column's row count. The separate
    # `tot` aggregate (a third full scan + stack of lineitem) was pure
    # waste (r15 optimization round; oracle unchanged, values identical).
    scored = (
        rel.join(F.broadcast(est), "column")
        .groupBy("column", "q_pct", "est", "n_sample")
        .agg(
            F.count("*").alias("n_c"),
            F.sum((F.col("v") < F.col("est")).cast("long")).alias("_lt"),
            F.sum((F.col("v") <= F.col("est")).cast("long")).alias("_le"),
        )
        .select(
            "column",
            "q_pct",
            "est",
            "n_sample",
            F.expr("(1000000 * _lt) div n_c").alias("lt_ppm"),
            F.expr("(1000000 * _le) div n_c").alias("le_ppm"),
        )
    )
    err = F.greatest(
        F.lit(0).cast("long"),
        (F.col("lt_ppm") - F.col("q_pct") * 10000).cast("long"),
        (F.col("q_pct") * 10000 - F.col("le_ppm")).cast("long"),
    )
    return scored.select(
        "column",
        "q_pct",
        "est",
        "n_sample",
        F.col("lt_ppm").cast("long").alias("lt_ppm"),
        F.col("le_ppm").cast("long").alias("le_ppm"),
        err.alias("err_ppm"),
        (err <= 80000).alias("within_bound"),
    )


@q(
    "text_char_entropy",
    """
    WITH ch AS (
      SELECT doc_id, unnest(regexp_split_to_array(text, '')) AS ch
      FROM documents WHERE doc_id < 300
    ),
    per AS (
      SELECT doc_id, ch, COUNT(*) AS n_c FROM ch WHERE ch <> ''
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT doc_id, SUM(n_c) AS n, COUNT(*) AS d FROM per GROUP BY 1
    ),
    terms AS (
      SELECT p.doc_id, t.n, t.d,
             CAST(round(ln(CAST(t.n AS DOUBLE) / p.n_c) * p.n_c / t.n
                        * 1000000.0) AS BIGINT) AS m
      FROM per p JOIN tot t USING (doc_id)
    ),
    ent AS (
      SELECT doc_id, n, d, SUM(m) AS e FROM terms GROUP BY 1, 2, 3
    )
    SELECT dd.doc_id,
           CAST(COALESCE(ent.n, 0) AS BIGINT) AS n_chars_seen,
           CAST(COALESCE(ent.d, 0) AS BIGINT) AS n_distinct_chars,
           CAST(COALESCE(ent.e, 0) AS BIGINT) AS entropy_micronats
    FROM (SELECT doc_id FROM documents WHERE doc_id < 300) dd
    LEFT JOIN ent USING (doc_id)
    """,
)
def text_char_entropy(spark):
    """Per-document character-entropy quality signal
    (operators/text.char_entropy, r13): Shannon entropy of each doc's
    character distribution in integer micro-nats — the
    distribution-flatness gate that catches key-mashing/template spam
    (collapsed distribution) and binary junk (unnaturally flat) where
    the token-level rules don't. Every per-character term is quantized
    to micro-nats BEFORE summation (the lm_perplexity discipline), so
    the oracle replays the whole computation bit-for-bit — including
    the zero rows for text-less documents, which must not vanish from
    a quality report."""
    from muninn_avro_to_parquet_spark.operators import text

    return text.char_entropy(
        spark.table("documents").filter(F.col("doc_id") < 300)
    )


@q(
    "q_funnel_steps",
    """
    WITH ev AS (
      SELECT user_id, ts, event_id,
             CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
                             WHEN 'purchase' THEN 3 ELSE 0 END AS pos
      FROM events WHERE ts IS NOT NULL
    ),
    per_user AS (
      SELECT user_id,
             list_reduce(
               list_prepend(0, list(pos ORDER BY ts, event_id)),
               (acc, x) -> CASE WHEN x = acc + 1 THEN acc + 1 ELSE acc END
             ) AS depth
      FROM ev GROUP BY user_id
    ),
    steps(step_idx, step_name) AS (
      VALUES (1, 'view'), (2, 'click'), (3, 'purchase')
    ),
    entered AS (
      SELECT COUNT(*) AS n1 FROM per_user WHERE depth >= 1
    )
    SELECT s.step_idx, s.step_name,
           CAST(COUNT(*) FILTER (WHERE p.depth >= s.step_idx) AS BIGINT)
             AS n_users,
           CAST(CASE WHEN e.n1 > 0
                THEN (1000000 * COUNT(*) FILTER (WHERE p.depth >= s.step_idx))
                     // e.n1
                ELSE 0 END AS BIGINT) AS of_entered_ppm
    FROM per_user p CROSS JOIN steps s CROSS JOIN entered e
    GROUP BY s.step_idx, s.step_name, e.n1
    """,
)
def q_funnel_steps(spark):
    """Ordered funnel analysis (operators/events.py, r13): how many
    users complete view → click → purchase IN ORDER (a click only
    counts after a view, a purchase only after such a click). One
    groupBy(user) exchange carrying (ts, id, step) triples and a single
    integer FOLD per user — never the textbook n−1 self-join chain —
    so the plan scales with the event stream, not the funnel length.
    Both engines run the identical fold (Spark ``aggregate``, DuckDB
    ``list_reduce``) over the identical (ts, event_id) total order, and
    the conversion ratio is integer floor-division parts-per-million,
    so the whole report is hash-exact."""
    from muninn_avro_to_parquet_spark.operators import events

    return events.funnel_report(
        spark.table("events"), ["view", "click", "purchase"]
    )


@q(
    "pipeline_token_budget",
    f"""
    WITH d AS (
      SELECT doc_id, n_chars AS quality,
             CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, quality, n_tokens,
             SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id ASC
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM d
    )
    SELECT doc_id, quality, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= 20000
    """,
)
def pipeline_token_budget(spark):
    """Greedy corpus selection under a token budget
    (operators/pipeline.select_token_budget, r13): "the best documents
    that fit in 20k training tokens", ordered by (quality DESC, id) —
    the data-selection step every budgeted pretraining mix ends in. The
    cumulative token sum is DISTRIBUTED (range partition + per-partition
    running-sum windows + one tiny offset collect — the
    global_row_number technique applied to SUM, never the single-task
    global window), while the oracle replays it with the plain windowed
    cumsum; integer token counts and id tie-breaks make the selected
    set bit-identical."""
    from muninn_avro_to_parquet_spark.operators import pipeline
    from muninn_avro_to_parquet_spark.operators.text import tokens

    d = spark.table("documents").select(
        "doc_id",
        F.col("n_chars").alias("quality"),
        F.size(tokens(F.col("text"))).alias("n_tokens"),
    )
    return pipeline.select_token_budget(
        d, budget=20000, quality_col="quality", tokens_col="n_tokens"
    )


def _profile_block_sql(col: str) -> str:
    return f"""
    SELECT '{col}' AS column,
           (SELECT COUNT(*) FROM orders) AS n_rows,
           CAST((SELECT COUNT(*) FROM orders WHERE {col} IS NULL) AS BIGINT)
             AS n_nulls,
           CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,
           CAST(MIN({col}) AS VARCHAR) AS min_value,
           CAST(MAX({col}) AS VARCHAR) AS max_value,
           (SELECT CAST(v AS VARCHAR) FROM (
              SELECT {col} AS v, COUNT(*) AS n FROM orders
              WHERE {col} IS NOT NULL GROUP BY 1
            ) ORDER BY n DESC, CAST(v AS VARCHAR) ASC LIMIT 1) AS top_value,
           COALESCE((SELECT CAST(MAX(n) AS BIGINT) FROM (
              SELECT COUNT(*) AS n FROM orders
              WHERE {col} IS NOT NULL GROUP BY {col}
            )), 0) AS top_count
    FROM orders WHERE {col} IS NOT NULL"""


@q(
    "q_profile_orders",
    " UNION ALL ".join(
        _profile_block_sql(c)
        for c in ("o_orderstatus", "o_orderpriority", "o_custkey", "o_orderkey")
    ),
)
def q_profile_orders(spark):
    """Per-column data-profile audit (operators/profile.py, r13): null
    rate, EXACT cardinality, range, and deterministic mode
    ((count DESC, value ASC) tie-break) for four orders columns — the
    value-level counterpart of the reference's schema logging, the
    relation an ingest diffs across loads to catch upstream breakage
    (null-rate jumps, cardinality collapses). Per column the plan is
    ONE value-keyed aggregate feeding both the stats and a
    TakeOrderedAndProject mode — value/count partials move, rows never
    do — and integer/string columns render identically in both engines,
    so the whole report hash-matches."""
    from muninn_avro_to_parquet_spark.operators import profile

    return profile.profile(
        spark.table("orders"),
        ["o_orderstatus", "o_orderpriority", "o_custkey", "o_orderkey"],
    )


@q(
    "q_robust_outliers",
    """
    WITH med AS (
      SELECT o_orderpriority, quantile_cont(o_totalprice, 0.5) AS m
      FROM orders GROUP BY 1
    ),
    mad AS (
      SELECT o.o_orderpriority,
             quantile_cont(abs(o.o_totalprice - med.m), 0.5) AS d
      FROM orders o JOIN med USING (o_orderpriority)
      GROUP BY 1
    )
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ANY_VALUE(med.m) AS median,
           ANY_VALUE(mad.d) AS mad,
           CAST(SUM(CASE WHEN abs(o.o_totalprice - med.m) > 5.0 * mad.d
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM orders o
    JOIN med USING (o_orderpriority)
    JOIN mad USING (o_orderpriority)
    GROUP BY o.o_orderpriority
    """,
)
def q_robust_outliers(spark):
    """Median/MAD robust outlier report (operators/profile.py
    robust_outliers, r13): per order priority, how many totalprice
    values sit beyond 5 median-absolute-deviations — the numeric
    data-quality gate a stddev z-score can't be (the outlier inflates
    the stddev meant to catch it; MAD's breakdown point is 50%). Exact
    interpolated medians on both sides (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``, the q_exact_quantiles-proven equivalence), so
    median, MAD, and every flag replay bit-for-bit; group medians
    broadcast back — two tiny joins, never a row-level shuffle beyond
    the group aggregates."""
    from muninn_avro_to_parquet_spark.operators import profile

    return profile.robust_outliers(
        spark.table("orders"), "o_totalprice", ["o_orderpriority"], k=5.0
    )


@q(
    "pipeline_token_budget_mix",
    f"""
    WITH d AS (
      SELECT source, doc_id, n_chars AS quality,
             CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT source, doc_id, quality, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source
                                 ORDER BY quality DESC, doc_id ASC
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM d
    )
    SELECT source, doc_id, quality, n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= 8000
    """,
)
def pipeline_token_budget_mix(spark):
    """Per-source token budgets (select_token_budget(stratum_col=...),
    r13): "8k tokens of each source, best quality first" — the mixture
    form of budgeted selection a pretraining recipe actually specifies.
    One window partitioned by the stratum (parallel by construction —
    no single-task funnel to avoid here), bit-identical to the oracle's
    per-stratum cumsum."""
    from muninn_avro_to_parquet_spark.operators import pipeline
    from muninn_avro_to_parquet_spark.operators.text import tokens

    d = spark.table("documents").select(
        "source",
        "doc_id",
        F.col("n_chars").alias("quality"),
        F.size(tokens(F.col("text"))).alias("n_toks"),
    )
    # the operator aliases the token column to n_tokens in its output
    return pipeline.select_token_budget(
        d, budget=8000, quality_col="quality", tokens_col="n_toks",
        stratum_col="source",
    )


@q(
    "q_user_retention_days",
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
      FROM events WHERE ts IS NOT NULL
    ),
    first AS (
      SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY user_id
    ),
    rel AS (
      SELECT f.cohort_day, CAST(d.day - f.cohort_day AS INT) AS day_offset
      FROM days d JOIN first f USING (user_id)
    ),
    counts AS (
      SELECT cohort_day, day_offset, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM rel GROUP BY cohort_day, day_offset
    )
    SELECT CAST(c.cohort_day AS VARCHAR) AS cohort_day,
           c.day_offset, c.n_users,
           CAST((1000000 * c.n_users) // b.n_users AS BIGINT)
             AS retention_ppm
    FROM counts c
    JOIN counts b ON b.cohort_day = c.cohort_day AND b.day_offset = 0
    """,
)
def q_user_retention_days(spark):
    """DAY-granularity cohort retention over the event stream
    (operators/events.cohort_retention, r14) — the per-user activity
    counterpart of ``q_cohort_retention``'s month-granularity customer
    cohorts over orders: users cohorted by first active day, per
    (cohort_day, day_offset)
    active-user counts with exact floor-division ppm retention. The
    event-grain rows die at the first (user, day) distinct; everything
    after moves the activity relation (users x active-days), the
    cohort-size join is broadcast, and integer ppm keeps both engines
    hash-identical. The date column ships as its ISO string — both
    engines render DATE -> VARCHAR as yyyy-MM-dd, while raw DATE values
    round-trip differently through the compare harness's pandas
    frames."""
    from muninn_avro_to_parquet_spark.operators import events

    return events.cohort_retention(spark.table("events")).withColumn(
        "cohort_day", F.col("cohort_day").cast("string")
    )


@q(
    "q_funnel_latency",
    """
    WITH ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
                             WHEN 'purchase' THEN 3 ELSE 0 END AS pos
      FROM events WHERE ts IS NOT NULL
    ),
    t1 AS (
      SELECT user_id, MIN(struct_pack(us := us, eid := event_id)) AS k
      FROM ev WHERE pos = 1 GROUP BY user_id
    ),
    t2 AS (
      SELECT e.user_id, MIN(struct_pack(us := e.us, eid := e.event_id)) AS k
      FROM ev e JOIN t1 USING (user_id)
      WHERE e.pos = 2
        AND struct_pack(us := e.us, eid := e.event_id) > t1.k
      GROUP BY e.user_id
    ),
    t3 AS (
      SELECT e.user_id, MIN(struct_pack(us := e.us, eid := e.event_id)) AS k
      FROM ev e JOIN t2 USING (user_id)
      WHERE e.pos = 3
        AND struct_pack(us := e.us, eid := e.event_id) > t2.k
      GROUP BY e.user_id
    )
    SELECT t1.user_id, CAST(t3.k.us - t1.k.us AS BIGINT) AS latency_us
    FROM t1 JOIN t3 USING (user_id)
    """,
)
def q_funnel_latency(spark):
    """Per-user funnel time-to-convert (operators/events.
    funnel_conversion, r14): for every user completing view -> click ->
    purchase IN ORDER, microseconds from the step-1 event that started
    the completed path to the event that finished it. Spark runs the
    same single groupBy(user) fold as q_funnel_steps with two extra
    epoch-micros integers in the accumulator; the oracle replays the
    EQUIVALENT greedy chain as nested first-event-after mins (first
    view, first click after it, first purchase after that — identical
    semantics to the fold by induction, and integer micros make it
    hash-exact). A DuckDB 1.0 lambda quirk (struct_pack fields packed
    before a later field see a stale accumulator in list_reduce) rules
    out the literal struct-fold oracle."""
    from muninn_avro_to_parquet_spark.operators import events

    return events.funnel_conversion(
        spark.table("events"), ["view", "click", "purchase"]
    )


@q(
    "q_key_skew",
    """
    WITH counts AS (
      SELECT o_custkey, COUNT(*) AS cnt
      FROM orders WHERE o_custkey IS NOT NULL GROUP BY o_custkey
    )
    SELECT CAST(length(bin(cnt)) - 1 AS INT) AS freq_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(MAX(cnt) AS BIGINT) AS max_count
    FROM counts GROUP BY 1
    """,
)
def q_key_skew(spark):
    """Key-frequency skew histogram (operators/profile.key_skew, r14):
    per-key counts bucketed by INTEGER log2 (length(bin(cnt)) - 1 in
    both engines — never floating log2), one row per occupied bucket
    with key/row/max counts. The pre-shuffle audit for any 100 TB join
    key: one map-side-combined exchange on the key, then a <=64-row
    aggregate."""
    from muninn_avro_to_parquet_spark.operators import profile

    return profile.key_skew(spark.table("orders"), "o_custkey")
