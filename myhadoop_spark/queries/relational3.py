"""Third wave: batch sessionization (gaps and islands) with
engine-portable semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from myhadoop_spark.catalog import load
from myhadoop_spark.functions.money import dec
from myhadoop_spark.registry import register

# ---------------------------------------------------------------------------
# batch sessionization (gaps-and-islands) — the batch twin of
# streaming/windows.sessionized (session_window)
# ---------------------------------------------------------------------------

SESSION_GAP_US = 10 * 60 * 1_000_000  # 10 minutes in µs


@register(
    "sessionize",
    oracle=f"""
    WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
               FROM events),
    l AS (SELECT user_id, event_id, ts, value,
                 CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                        OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                           > {SESSION_GAP_US}
                      THEN 1 ELSE 0 END AS is_new
          FROM e WINDOW w AS (PARTITION BY user_id
                              ORDER BY ts ASC, event_id ASC)),
    s AS (SELECT user_id, ts, value,
                 SUM(is_new) OVER (PARTITION BY user_id
                                   ORDER BY ts ASC, event_id ASC
                                   ROWS UNBOUNDED PRECEDING) AS session_id
          FROM l)
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(MIN(ts) AS TIMESTAMP) AS session_start,
           CAST(MAX(ts) AS TIMESTAMP) AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM s GROUP BY user_id, session_id
    """,
    tags=("window", "session", "extension"),
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization: a session breaks after a 10-minute
    silence per user. One window pass (lag → new-session flag → running
    sum) + one grouped aggregate; shuffles once on user_id. The streaming
    twin (session_window) lives in streaming/windows.py."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    wo = Window.partitionBy("user_id").orderBy(F.col("ts").asc(),
                                               F.col("event_id").asc())
    us = F.unix_micros("ts")
    is_new = F.when(
        F.lag(us).over(wo).isNull()
        | ((us - F.lag(us).over(wo)) > SESSION_GAP_US), 1).otherwise(0)
    wrun = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged = ev.withColumn("session_id",
                           F.sum(is_new).over(wrun).cast("bigint"))
    return (
        tagged.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").cast("timestamp_ntz").alias("session_start"),
            F.max("ts").cast("timestamp_ntz").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
        )
    )
