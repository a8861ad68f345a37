"""Skew mitigation: salted aggregation.

At 100 TB a handful of hot keys (a viral document, a null-ish default
user id) can pin a whole stage on one task. Measured reality
(scripts/skew_bench.py, 20M rows with a 95% hot key):

  * **Joins are the real victim**: a hot-key shuffle join takes ~28 s
    with AQE off and ~8 s with AQE's runtime skew-split, which the
    session enables.
  * **Algebraic aggregations do NOT need salting**: Spark's map-side
    partial aggregation already collapses the hot key to one partial
    row per input partition, so salted_sum_count only adds a shuffle
    (1.4 s direct vs 4.3 s salted). Keep it for aggregations WITHOUT
    effective partial reduction — large collect_list/set payloads —
    or as the two-round-fold demonstration it is.

Salted aggregation is the two-round fold the reference's combiner plans
implement by hand (/root/reference/datanode.py:449-496): partial
aggregate on (key, salt), final aggregate on key — correct whenever the
aggregate is algebraic (sum/count/min/max and compositions like avg).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_sum_count(df: DataFrame, key_cols: list[str], value: Column,
                     n_salts: int = 16) -> DataFrame:
    """groupBy(key).agg(sum(value), count(*)) computed skew-proof:
    round 1 shuffles on (key, salt) — hot keys spread over n_salts
    tasks — round 2 combines the n_salts partials per key."""
    salted = df.withColumn(
        "_salt", (F.rand(seed=7) * n_salts).cast("int"))
    partial = (
        salted.groupBy(*key_cols, "_salt")
        .agg(F.sum(value).alias("_psum"), F.count(F.lit(1)).alias("_pcnt"))
    )
    return (
        partial.groupBy(*key_cols)
        .agg(F.sum("_psum").alias("sum_value"),
             F.sum("_pcnt").alias("n_rows"))
    )
