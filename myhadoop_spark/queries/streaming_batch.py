"""Windowed event aggregation — batch-checkable twins of the streaming
operators (SURVEY.md §2.4 #15).

The Structured Streaming implementations live in
``myhadoop_spark/streaming/windows.py``; these batch queries compute the
identical result on the same table (Spark's ``window()``/``session_window``
semantics are shared between batch and streaming), which is what the
DuckDB oracle can check. tests/test_streaming.py additionally proves the
streaming run (watermark, late data) converges to the batch result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myhadoop_spark.catalog import load
from myhadoop_spark.functions.money import dsum, sql_dsum
from myhadoop_spark.registry import register


@register(
    "stream_window",
    oracle=f"""
    SELECT 'tumbling1h' AS kind,
           CAST(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
                AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           {sql_dsum('value', 'sum_value')}
    FROM events
    GROUP BY 2, 3
    UNION ALL
    SELECT 'sliding1h15m', CAST(window_start AS TIMESTAMP), NULL,
           COUNT(*), NULL, {sql_dsum('value', 'sum_value')}
    FROM (SELECT time_bucket(INTERVAL '1 hour',
                             CAST(ts AS TIMESTAMP) - to_minutes(off_min))
                   + to_minutes(off_min) AS window_start,
                 value
          FROM events
          CROSS JOIN (SELECT unnest([0, 15, 30, 45]) AS off_min) offs) w
    GROUP BY 2
    """,
    tags=("streaming", "window"),
)
def stream_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time window battery, tagged by kind:

      * ``tumbling1h`` — 1-hour tumbling windows per event type: counts,
        distinct users, exact value sum;
      * ``sliding1h15m`` — sliding windows (1 hour long, 15-minute
        slide): every event lands in 4 overlapping windows.

    Epoch-aligned bucketing matches DuckDB time_bucket; the oracle
    reproduces Spark's window(ts, len, slide) semantics via explicit
    offset replication. The streaming twins (readStream + watermark over
    the same table) live in streaming/windows.py and are proven
    equivalent to these batch plans in tests/test_streaming.py."""
    ev = load(spark, sf_dir, "events")
    tumbling = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dsum("value", "sum_value"),
        )
        .select(
            F.lit("tumbling1h").alias("kind"),
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type", "n_events", "n_users", "sum_value",
        )
    )
    sliding = (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .select(
            F.lit("sliding1h15m").alias("kind"),
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            F.lit(None).cast("string").alias("event_type"),
            "n_events",
            F.lit(None).cast("bigint").alias("n_users"),
            "sum_value",
        )
    )
    return tumbling.unionAll(sliding)
