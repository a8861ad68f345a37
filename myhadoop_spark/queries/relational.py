"""Relational query set — SURVEY.md §2.4 queries 2-13.

The reference implements none of these (its data plane is map → shuffle →
reduce-by-key only, /root/reference/datanode.py:574-667); they are the
engine surface mandated by SURVEY.md §2.2. Every query is a declarative
DataFrame plan (Catalyst handles pushdown/pruning/join selection) with a
DuckDB oracle string for the differential gate.

Scale notes are inline per query; the common rules:
  * dimension tables (region, nation) are explicitly broadcast;
  * fact-fact joins shuffle on their keys and rely on AQE for skew;
  * monetary aggregates use exact DECIMAL sums (functions/money.py) so
    results are partitioning-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myhadoop_spark.catalog import load
from myhadoop_spark.functions.money import (
    SQL_REVENUE_TERM,
    davg,
    dsum,
    revenue_term,
    sql_davg,
    sql_dsum,
    sql_dsum_raw,
)
from myhadoop_spark.registry import register

# ---------------------------------------------------------------------------
# 2. sort — global sort w/ deterministic tie-break (reference analog: the
#    reference's vestigial MergeSort app, app.py:17-43 → R14).
# ---------------------------------------------------------------------------


@register(
    "sort_full",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice, l_shipdate
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
    """,
    tags=("sort",),
)
def sort_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Totally-ordered FULL output — the exact semantics of the reference's
    MergeSort app (/root/reference/app.py:17-43, R14), which emits the whole
    sorted dataset, not a top-N. Unlike a top-N (TakeOrderedAndProject,
    per-partition pruning), this compiles to sampled RANGE partitioning +
    per-partition sort: every partition holds a disjoint key range and is
    locally sorted, so concatenating partitions in order IS the total order
    — no single-node merge, the scalable form of a 100 TB global sort.
    Unique (orderkey, linenumber) tie-break makes the order deterministic
    across engines."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate")
        .orderBy(F.col("l_extendedprice").desc(), F.col("l_orderkey").asc(),
                 F.col("l_linenumber").asc())
    )


# ---------------------------------------------------------------------------
# 4. grouped aggregation — TPC-H Q1 shape (generalizes reference R8+R11:
#    combiner + reduce-by-key, /root/reference/utilities.py:170-185 —
#    Spark's partial/final HashAggregate is exactly that two-round fold).
# ---------------------------------------------------------------------------


@register(
    "agg_q1",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity', 'sum_qty')},
           {sql_dsum('l_extendedprice', 'sum_base_price')},
           {sql_dsum_raw(SQL_REVENUE_TERM, 'sum_disc_price')},
           {sql_davg('l_quantity', 'avg_qty')},
           {sql_davg('l_extendedprice', 'avg_price')},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("aggregate",),
)
def agg_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped multi-aggregate. Partial aggregation (map-side
    combine) happens automatically — the Spark analog of the reference's
    ICPP/NEW combiner plans (/root/reference/datanode.py:449-496)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            F.sum(revenue_term()).cast("double").alias("sum_disc_price"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# 6. multi-way join — TPC-H Q5 shape.
#    Scale: nation/region are broadcast (5/25 rows at any SF); the
#    lineitem⋈orders⋈customer spine shuffles on the join keys and Catalyst
#    reorders the dim joins behind the fact joins.
# ---------------------------------------------------------------------------


@register(
    "join_multi",
    oracle=f"""
    SELECT n_name,
           {sql_dsum_raw(SQL_REVENUE_TERM, 'revenue')},
           COUNT(*) AS n_items
    FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
    tags=("join", "aggregate"),
)
def join_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-table join chain (TPC-H Q5 shape): revenue per nation in ASIA."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.sum(revenue_term()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# 7. semi / anti joins.
#    Scale: left-semi/anti shuffle only the distinct keys of the right side;
#    no payload columns move.
# ---------------------------------------------------------------------------


@register(
    "semi_anti_join",
    oracle="""
    SELECT 'semi' AS op, c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    UNION ALL
    SELECT 'anti' AS op, c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 450000)
    """,
    tags=("join",),
)
def semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi + anti join battery (SURVEY §2.4 #7 'semi_anti'): customers
    WITH a 400k+ order (left_semi) tagged 'semi', customers WITHOUT a
    450k+ order (left_anti) tagged 'anti'. Both forms shuffle only the
    distinct right-side keys — no payload columns move."""
    customer = load(spark, sf_dir, "customer")
    big400 = load(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 400000).select("o_custkey")
    big450 = load(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 450000).select("o_custkey")
    semi = (
        customer.join(big400, customer.c_custkey == big400.o_custkey, "left_semi")
        .select(F.lit("semi").alias("op"), "c_custkey", "c_name")
    )
    anti = (
        customer.join(big450, customer.c_custkey == big450.o_custkey, "left_anti")
        .select(F.lit("anti").alias("op"), "c_custkey", "c_name")
    )
    return semi.unionAll(anti)


# ---------------------------------------------------------------------------
# 11. distinct counting (HLL estimate beside the exact count).
# ---------------------------------------------------------------------------


@register(
    "approx_distinct",
    oracle="""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS exact_cust,
           TRUE AS hll_within_5pct
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("aggregate", "approx"),
)
def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++, rsd=0.01) per order status. Sketch
    estimates are engine-specific, so the raw estimate can't be hash-compared
    across engines; instead the query emits the exact countDistinct (hashed
    against the oracle) plus a boolean asserting the HLL estimate landed
    within 5× its configured rsd of the exact value — so the sketch IS
    oracle-verified, as a bound rather than a bit-pattern. The raw estimate
    is additionally bound-checked in tests/test_approx.py.

    Plan note: the exact and approx counts run as SEPARATE aggregations
    joined on the 3-row group key. Combining them in one agg() makes
    Catalyst plan countDistinct via a pre-aggregation keyed on
    (status, custkey) — and the partial HLL sketch (1,639 long registers
    at rsd=0.01) is then materialized and shuffled PER (status, custkey)
    ROW (~200 MB at sf0.1, measured 3.4 s warm); split, each branch
    shuffles only its natural state — per-partition sketches for the
    approx side — and the query drops to sub-second. The split is also
    the right shape at 100 TB: sketch shuffle volume stays
    ∝ partitions × groups, not ∝ distinct (group, key) pairs."""
    orders = load(spark, sf_dir, "orders")
    exact = orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("exact_cust"))
    approx = orders.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", 0.01).alias("_approx"))
    return (
        exact.join(approx, "o_orderstatus")
        .select(
            "o_orderstatus",
            "exact_cust",
            (F.abs(F.col("_approx") - F.col("exact_cust"))
             <= 0.05 * F.col("exact_cust")).alias("hll_within_5pct"),
        )
    )


# ---------------------------------------------------------------------------
# 12. rollup (grouping sets).
# ---------------------------------------------------------------------------


@register(
    "cube_rollup",
    oracle=f"""
    SELECT n_name, o_orderpriority,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice', 'sum_price')}
    FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY GROUPING SETS ((n_name, o_orderpriority), (n_name),
                            (o_orderpriority), ())
    """,
    tags=("aggregate", "rollup", "grouping-sets"),
)
def cube_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS over the orders⋈customer⋈nation join: the ROLLUP
    lattice ((n_name, prio), (n_name), ()) PLUS the extra (prio) set —
    i.e. this one query covers both rollup subtotal semantics and
    arbitrary grouping-set selection (the full CUBE lattice here, chosen
    explicitly). Neither grouping column is nullable in the data, so the
    subtotal NULLs are unambiguous. Spark expands the sets with one
    Expand node feeding a single partial/final aggregate — one shuffle
    regardless of how many sets are listed."""
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority",
                                                  "o_totalprice")
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = (
        orders.join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    aggs = (F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "sum_price"))
    if hasattr(joined, "groupingSets"):  # Spark 4 DataFrame API
        return joined.groupingSets(
            [["n_name", "o_orderpriority"], ["n_name"], ["o_orderpriority"], []],
            "n_name", "o_orderpriority",
        ).agg(*aggs)
    joined.createOrReplaceTempView("co_nation_joined")  # pragma: no cover
    return joined.sparkSession.sql(f"""
        SELECT n_name, o_orderpriority, COUNT(*) AS n_orders,
               {sql_dsum('o_totalprice', 'sum_price')}
        FROM co_nation_joined
        GROUP BY GROUPING SETS ((n_name, o_orderpriority), (n_name),
                                (o_orderpriority), ())
    """)
