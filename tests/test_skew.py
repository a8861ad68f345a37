"""Skew operators: salted results must equal the straightforward plans."""

from __future__ import annotations

from pyspark.sql import functions as F

from myhadoop_spark.catalog import load
from myhadoop_spark.functions.money import dec
from myhadoop_spark.operators.skew import salted_sum_count
from tests.conftest import SF_SMOKE


def test_salted_sum_equals_direct(spark):
    ev = load(spark, SF_SMOKE, "events")
    salted = {
        r["event_type"]: (r["sum_value"], r["n_rows"])
        for r in salted_sum_count(ev, ["event_type"], dec("value")).collect()
    }
    direct = {
        r["event_type"]: (r["s"], r["n"])
        for r in ev.groupBy("event_type")
        .agg(F.sum(dec("value")).alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert salted == direct


def test_salting_spreads_a_hot_key(spark):
    """On a deliberately skewed input (one key owning ~95% of rows), the
    salted partial aggregation spreads the hot key across many reduce
    groups — the property that keeps one straggler task from pinning a
    stage at scale. Verified structurally (partial-group count), and the
    final result still equals the direct aggregation."""
    hot = spark.range(20_000).selectExpr("'hot' AS k", "CAST(id AS DOUBLE) AS v")
    cold = spark.range(1_000).selectExpr("concat('c', id % 50) AS k",
                                         "CAST(id AS DOUBLE) AS v")
    df = hot.unionAll(cold)
    from pyspark.sql import functions as FF

    salted = df.withColumn("_salt", (FF.rand(seed=7) * 16).cast("int"))
    partial_groups = (salted.groupBy("k", "_salt").count()
                      .filter(FF.col("k") == "hot").count())
    assert partial_groups >= 12, partial_groups  # hot key split ~16 ways
    got = {r["k"]: (r["sum_value"], r["n_rows"])
           for r in salted_sum_count(df, ["k"], FF.col("v")).collect()}
    want = {r["k"]: (r["s"], r["n"])
            for r in df.groupBy("k")
            .agg(FF.sum("v").alias("s"), FF.count(FF.lit(1)).alias("n"))
            .collect()}
    assert got == want
