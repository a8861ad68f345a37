"""The plain-SQL surface: register_views + spark.sql must reach the
same results as the DataFrame API (Catalyst parity)."""

from __future__ import annotations

from myhadoop_spark.catalog import TABLES, register_views
from tests.conftest import SF_SMOKE


def test_register_views_exposes_all_tables(spark):
    views = register_views(spark, SF_SMOKE)
    assert set(views) == set(TABLES)
    for t in TABLES:
        assert spark.sql(f"SELECT COUNT(*) AS n FROM {t}").collect()[0]["n"] > 0


def test_sql_equals_dataframe_plan(spark):
    register_views(spark, SF_SMOKE)
    sql_rows = sorted(map(tuple, spark.sql("""
        SELECT c_mktsegment, COUNT(*) AS n
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_totalprice > 100000
        GROUP BY c_mktsegment
    """).collect()))
    from pyspark.sql import functions as F

    from myhadoop_spark.catalog import load
    df_rows = sorted(map(tuple, (
        load(spark, SF_SMOKE, "orders").filter(F.col("o_totalprice") > 100000)
        .join(load(spark, SF_SMOKE, "customer"),
              F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n"))
    ).collect()))
    assert sql_rows == df_rows


def test_events_view_has_converted_timestamps(spark):
    """register_views must expose events with the ns→µs converted ts
    (not the raw long), so SQL users get a queryable timestamp."""
    register_views(spark, SF_SMOKE)
    row = spark.sql("SELECT ts FROM events LIMIT 1").collect()[0]
    import datetime
    assert isinstance(row["ts"], datetime.datetime)
