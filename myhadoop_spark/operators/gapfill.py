"""Time-bucket gap-filling for dashboards: a bucketed aggregate series
has holes wherever a (key, bucket) saw no events, and charts/monitors
need a DENSE series with the holes made explicit and optionally
filled (the TimescaleDB ``time_bucket_gapfill`` + ``locf`` /
``interpolate`` pattern).

Semantics per key, over the key's own [min bucket, max bucket] span:

  * every bucket on the regular grid appears exactly once;
  * ``value`` is NULL on generated buckets;
  * ``locf`` carries the last observed value forward (leading holes
    stay NULL — nothing to carry);
  * ``interp`` linearly interpolates between the previous and next
    observed values by bucket position (leading/trailing holes stay
    NULL — one-sided gaps have no line to sit on). The arithmetic is
    prev + ((next − prev) × (pos/width)) on doubles, fully
    parenthesized and mirrored in the oracle SQL, so the DuckDB
    differential matches bitwise.

Scale shape: one (key) aggregation for the per-key span, a narrow
``sequence()`` explode to generate the grid (rows ∝ output buckets,
never a driver loop), a left join back on (key, bucket) — co-keyed
with the grid's own partitioning — and two window passes per key for
the fill (forward LOCF; forward + backward neighbor lookups for the
interpolation). Everything shuffles on the key, nothing on the raw
event stream: gapfill consumes the ALREADY-AGGREGATED rollup, so its
input is rollup-sized, not corpus-sized.

Reference analog: none — §2.3 extension surface (SURVEY.md §2.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def time_bucket_gapfill(aggs: DataFrame, *, bucket: str = "1 hour",
                        keys: list[str], bucket_col: str = "bucket",
                        value_col: str = "value") -> DataFrame:
    """(keys…, bucket, value, locf, interp): the dense per-key series.
    ``aggs`` holds one row per observed (keys…, bucket) — any
    time-bucketed aggregate."""
    grid = (aggs.groupBy(*keys)
            .agg(F.min(bucket_col).alias("_lo"),
                 F.max(bucket_col).alias("_hi"))
            .select(*keys,
                    F.explode(F.sequence(
                        "_lo", "_hi",
                        F.expr(f"INTERVAL {bucket}"))).alias(bucket_col)))
    dense = grid.join(aggs.select(*keys, bucket_col,
                                  F.col(value_col).alias("value")),
                      [*keys, bucket_col], "left")

    w = Window.partitionBy(*keys).orderBy(bucket_col)
    back = w.rowsBetween(Window.unboundedPreceding, 0)
    fwd = w.rowsBetween(0, Window.unboundedFollowing)
    # neighbor values AND their bucket positions, for the line equation
    pos = F.row_number().over(w)
    dense = dense.withColumn("_pos", pos)
    prev_v = F.last("value", ignorenulls=True).over(back)
    prev_p = F.last(F.when(F.col("value").isNotNull(), F.col("_pos")),
                    ignorenulls=True).over(back)
    next_v = F.first("value", ignorenulls=True).over(fwd)
    next_p = F.first(F.when(F.col("value").isNotNull(), F.col("_pos")),
                     ignorenulls=True).over(fwd)
    interp = F.when(
        F.col("value").isNotNull(), F.col("value").cast("double")
    ).otherwise(
        prev_v.cast("double")
        + ((next_v.cast("double") - prev_v.cast("double"))
           * ((F.col("_pos") - prev_p).cast("double")
              / (next_p - prev_p).cast("double"))))
    return (dense
            .withColumn("locf", prev_v)
            .withColumn("interp", interp)
            .drop("_pos"))
