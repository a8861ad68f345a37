"""Fifth wave: window-function battery (ranking family + range frames)
and outer joins — §2.2 depth coverage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from myhadoop_spark.catalog import load
from myhadoop_spark.functions.money import dec
from myhadoop_spark.registry import register

# ---------------------------------------------------------------------------
# ranking-family window battery
# ---------------------------------------------------------------------------


_DAYS90 = 90 * 86_400


@register(
    "window_fns",
    oracle=f"""
    SELECT o_orderkey, o_custkey,
           CAST(dense_rank()   OVER wo AS INT) AS drank,
           CAST(ntile(4)       OVER wo AS INT) AS quartile,
           percent_rank()      OVER wo AS prank,
           cume_dist()         OVER wo AS cdist,
           first_value(o_orderkey) OVER wo AS first_key,
           nth_value(o_orderkey, 2) OVER wof AS second_key,
           last_value(o_orderkey) OVER wof AS last_key,
           CAST(lead(o_orderkey) OVER wo AS BIGINT) AS next_key,
           CAST(ROW_NUMBER() OVER wc AS INT) AS rn,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER wcf AS DOUBLE)
             AS running_spend,
           CAST(LAG(o_orderkey) OVER wc AS BIGINT) AS prev_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER wr AS DOUBLE)
             AS trailing_90d_spend,
           CAST(COUNT(*) OVER wr AS BIGINT) AS trailing_90d_orders
    FROM (SELECT *, CAST(epoch(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT)
                      AS ep FROM orders) o
    WINDOW wo AS (PARTITION BY o_orderstatus
                  ORDER BY o_totalprice ASC, o_orderkey ASC),
           wof AS (PARTITION BY o_orderstatus
                   ORDER BY o_totalprice ASC, o_orderkey ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
           wc AS (PARTITION BY o_custkey
                  ORDER BY o_orderdate ASC, o_orderkey ASC),
           wcf AS (PARTITION BY o_custkey
                   ORDER BY o_orderdate ASC, o_orderkey ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wr AS (PARTITION BY o_custkey ORDER BY ep ASC
                  RANGE BETWEEN {_DAYS90} PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "range-frame"),
)
def window_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full window-function battery in one pass over orders:

      * ranking/distribution family (dense_rank, ntile, percent_rank,
        cume_dist, first/nth/last_value, lead) over the status window;
      * sequencing family (row_number, lag) + exact-decimal running sum
        over the per-customer ROWS prefix frame;
      * value-based RANGE frame (trailing 90 days on epoch seconds, so
        same-day ties aggregate together — the semantic difference from
        a ROWS frame, exercised deliberately).

    Two physical sort keys (status, custkey) → Spark plans exactly two
    window exchanges; the three custkey windows share one sort."""
    orders = load(spark, sf_dir, "orders")
    ep = F.unix_timestamp("o_orderdate").cast("bigint")
    wo = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc())
    wof = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    wc = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    wcf = wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wr = (
        Window.partitionBy("o_custkey")
        .orderBy(ep.asc())
        .rangeBetween(-_DAYS90, Window.currentRow)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.dense_rank().over(wo).alias("drank"),
        F.ntile(4).over(wo).alias("quartile"),
        F.percent_rank().over(wo).alias("prank"),
        F.cume_dist().over(wo).alias("cdist"),
        F.first("o_orderkey").over(wo).alias("first_key"),
        F.nth_value("o_orderkey", 2).over(wof).alias("second_key"),
        F.last("o_orderkey").over(wof).alias("last_key"),
        F.lead("o_orderkey").over(wo).cast("bigint").alias("next_key"),
        F.row_number().over(wc).alias("rn"),
        F.sum(dec("o_totalprice")).over(wcf).cast("double")
        .alias("running_spend"),
        F.lag("o_orderkey").over(wc).cast("bigint").alias("prev_orderkey"),
        F.sum(dec("o_totalprice")).over(wr).cast("double")
        .alias("trailing_90d_spend"),
        F.count(F.lit(1)).over(wr).cast("bigint").alias("trailing_90d_orders"),
    )


# ---------------------------------------------------------------------------
# outer joins
# ---------------------------------------------------------------------------


@register(
    "outer_join",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM customer FULL OUTER JOIN
         (SELECT * FROM orders WHERE o_totalprice > 480000) big
      ON c_custkey = o_custkey
    """,
    tags=("join", "outer"),
)
def outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of customers to their 480k+ orders: most
    customers keep NULL order columns, and any dangling order keeps NULL
    customer columns — both null-extension sides exercised."""
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = load(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 480000).select("o_custkey", "o_orderkey",
                                               "o_totalprice")
    return (
        cust.join(big, cust.c_custkey == big.o_custkey, "full_outer")
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice")
    )
