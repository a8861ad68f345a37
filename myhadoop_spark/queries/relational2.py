"""Second relational wave: as-of join, Pandas-UDF scoring and the TPC-H
Q3 shape — the SURVEY.md §2.2 engine-surface checklist.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from myhadoop_spark.catalog import load
from myhadoop_spark.functions.money import (
    SQL_REVENUE_TERM,
    revenue_term,
    sql_dsum_raw,
)
from myhadoop_spark.operators.asof import asof_join
from myhadoop_spark.registry import register

# ---------------------------------------------------------------------------
# as-of join (custom operator; oracle = DuckDB native ASOF JOIN)
# ---------------------------------------------------------------------------


@register(
    "asof_join_events",
    oracle="""
    WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events WHERE event_type = 'purchase'),
    v AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
          FROM events WHERE event_type = 'view')
    SELECT p.event_id, p.user_id,
           CAST(p.ts AS TIMESTAMP) AS ts,
           CAST(v.ts AS TIMESTAMP) AS asof_view_ts,
           v.value AS asof_view_value
    FROM p ASOF LEFT JOIN v
      ON p.user_id = v.user_id AND v.ts < p.ts
    """,
    tags=("asof", "join", "extension"),
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every purchase, the most recent prior view by the same user —
    an as-of join, composed as union + one window pass
    (operators/asof.py) instead of per-group pandas merge_asof."""
    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts"), F.col("value").alias("view_value"))
    out = asof_join(purchases, views.withColumnRenamed("view_ts", "ts"),
                    on="user_id", time_col="ts",
                    value_cols=["ts", "view_value"], strict=True)
    return out.select(
        "event_id", "user_id",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        F.col("asof_ts").cast("timestamp_ntz").alias("asof_view_ts"),
        F.col("asof_view_value").alias("asof_view_value"),
    )


# ---------------------------------------------------------------------------
# Pandas-UDF scoring (the sanctioned Python path, Arrow-batched)
# ---------------------------------------------------------------------------


@F.pandas_udf(T.DoubleType())
def _affinity_score(price: pd.Series, balance: pd.Series) -> pd.Series:
    """Vectorized score = (price/100k) * (1 + |balance|/10k) - price/1e6.
    Deliberately arithmetic-only float64 (no transcendentals, whose libm
    implementations differ across engines in the last ulp) so the SQL
    oracle reproduces it bit-for-bit."""
    p = price / 100_000.0
    return p * (1.0 + balance.abs() / 10_000.0) - price / 1_000_000.0


@F.pandas_udf(T.LongType())
def _cents_total(cents: pd.Series) -> int:
    """GROUPED_AGG pandas UDAF: exact int64 sum of order cents. Integer
    arithmetic end-to-end so the result is bitwise engine-independent
    (a float UDAF's summation order would not be)."""
    return int(cents.sum())


def _rank_in_customer(pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas grouped map: SQL RANK() semantics (ties share the
    minimum rank) over order cents within one customer's orders.
    assign() (shallow, new frame) rather than copy() (deep) — the input
    frame is never mutated, and with ~15k groups per bench run the
    per-group deep copy was measurable."""
    return pdf.assign(
        price_rank=pdf["cents"].rank(method="min", ascending=True)
        .astype("int64"))


@register(
    "pandas_udf_score",
    oracle="""
    SELECT o_orderkey,
           (o_totalprice / 100000.0) * (1.0 + abs(c_acctbal) / 10000.0)
             - o_totalprice / 1000000.0 AS score,
           CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                  OVER (PARTITION BY o_custkey)
                AS BIGINT) AS cust_total_cents,
           CAST(RANK() OVER (PARTITION BY o_custkey
                             ORDER BY CAST(round(o_totalprice * 100, 0)
                                           AS BIGINT))
                AS BIGINT) AS price_rank
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    tags=("udf", "extension"),
)
def pandas_udf_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full sanctioned-Python surface in one battery, every path
    Arrow-batched (never row-at-a-time) — the engine's generalization of
    the reference's arbitrary-Python map surface
    (/root/reference/app.py:10-11):

      * scalar pandas UDF (`_affinity_score`) — vectorized per-row map;
      * GROUPED_AGG pandas UDAF (`_cents_total`) via groupBy().agg() —
        custom aggregation semantics (AggregateInPandas);
      * `applyInPandas` grouped map (`_rank_in_customer`) — per-group
        frame logic (SQL RANK ties) where whole-group visibility is
        needed.

    All three mirror to plain SQL bitwise: the UDAF sums int64 cents
    (round(price·100) recovers exact integer cents from the double
    price — cast alone would TRUNCATE in Spark but ROUND in DuckDB; the
    SQL twin expresses the per-customer total as an unbounded window),
    the rank is integer, and the score is arithmetic-only float64.
    Shuffle discipline: one shuffle on o_custkey feeds BOTH pandas
    branches, their reassembly join is co-partitioned, and the
    broadcast customer join adds none."""
    from myhadoop_spark.shipping import ensure_shipped

    ensure_shipped(spark)
    orders = (load(spark, sf_dir, "orders")
              .select("o_orderkey", "o_custkey", "o_totalprice")
              .withColumn("cents",
                          F.round(F.col("o_totalprice") * 100, 0)
                          .cast("long"))
              # EXPLICIT wide hash partition on the grouping key: the
              # per-group pandas stages are heavy-compute/small-bytes,
              # exactly the shape AQE's size-based coalescing serializes
              # onto a few tasks (optimization log #0; measured 19.7 s →
              # 2.7 s for the grouped map at sf0.1). A user repartition
              # with an EXPLICIT partition count is exempt from
              # coalescing, and hashpartitioning(o_custkey) is reused
              # by the window AND the grouped map.
              .repartition(spark.sparkContext.defaultParallelism,
                           F.col("o_custkey")))
    # The UDAF and the grouped map run as INDEPENDENT branches off the
    # same hashpartitioning(o_custkey) exchange, joined afterwards —
    # NOT as a window feeding the grouped map in one pipelined task.
    # Chaining two Python stages task-to-task (ArrowWindowPython →
    # FlatMapGroupsInPandas) forces pipe-to-pipe backpressure between
    # two Python workers per core and re-batches the grouped-map input
    # at per-group granularity; measured at sf0.1 the unchained re-plan
    # is ~25% faster warm (5.4 s vs 6.8-7.3 s) and removes the 3-5×
    # straggler tail the r2 bench recorded (optimization log r3). Both
    # branches keep hashpartitioning(o_custkey), so the reassembly join
    # is co-partitioned — no third shuffle at any scale.
    ranked = orders.groupBy("o_custkey").applyInPandas(
        _rank_in_customer,
        schema=("o_orderkey bigint, o_custkey bigint, o_totalprice "
                "double, cents bigint, price_rank bigint"))
    totals = orders.groupBy("o_custkey").agg(
        _cents_total("cents").alias("cust_total_cents"))
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    return (
        ranked
        .join(totals, "o_custkey")
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey",
                _affinity_score(F.col("o_totalprice").cast("double"),
                                F.col("c_acctbal")).alias("score"),
                "cust_total_cents", "price_rank")
    )


# ---------------------------------------------------------------------------
# TPC-H classic shape (Q3)
# ---------------------------------------------------------------------------


@register(
    "tpch_q3",
    oracle=f"""
    SELECT l_orderkey,
           {sql_dsum_raw(SQL_REVENUE_TERM, 'revenue')},
           CAST(o_orderdate AS TIMESTAMP) AS o_orderdate
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
    tags=("join", "aggregate", "limit"),
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: shipping-priority top-10 (3-way join, filter on
    both fact tables, TakeOrdered final)."""
    cust = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(revenue_term()).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue",
                F.col("o_orderdate").cast("timestamp_ntz").alias("o_orderdate"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )
