"""Event-sequence analytics: funnel conversion and cohort retention —
the two classic product-analytics shapes over an event stream, rounding
out the events-table surface next to sessionization
(queries/relational5.py) and the streaming windows
(queries/streaming_batch.py).

Both are ungated oracle queries (the 50-slot gate window is full):
bitwise DuckDB differentials in pytest via the registry's gate=False
path, same as chunk_docs/chunk_dedup.

Scale shapes:

  * funnel — a k-step funnel is k per-user min-aggregations chained by
    k−1 equi-joins, every one keyed on user_id: after the first
    shuffle, each later aggregate/join consumes already-user_id-hashed
    inputs, so the whole cascade rides one partitioning (no per-step
    re-shuffle), and the step tables only shrink. No window over the
    full event stream, no per-user event-list materialization.
  * cohort retention — two user_id aggregations (first-seen cohort
    day, distinct active days) joined on user_id, then a bounded-key
    (cohort, day_offset) count. Shuffles carry (user, day) rows, not
    raw events.

Reference analog: none — §2.3 extension surface (SURVEY.md §2.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myhadoop_spark.catalog import load
from myhadoop_spark.registry import register

_FUNNEL_STEPS = ("view", "click", "purchase")


@register(
    "funnel_steps",
    oracle="""
    WITH u0 AS (SELECT user_id, MIN(ts) AS t0 FROM events
                WHERE event_type = 'view' GROUP BY user_id),
    u1 AS (SELECT e.user_id, MIN(e.ts) AS t1
           FROM events e JOIN u0 ON e.user_id = u0.user_id
           WHERE e.event_type = 'click' AND e.ts > u0.t0
           GROUP BY e.user_id),
    u2 AS (SELECT e.user_id, MIN(e.ts) AS t2
           FROM events e JOIN u1 ON e.user_id = u1.user_id
           WHERE e.event_type = 'purchase' AND e.ts > u1.t1
           GROUP BY e.user_id)
    SELECT * FROM (
        SELECT 1 AS step, 'view' AS step_name, COUNT(*) AS n_users
        FROM u0
        UNION ALL
        SELECT 2, 'click', COUNT(*) FROM u1
        UNION ALL
        SELECT 3, 'purchase', COUNT(*) FROM u2)
    ORDER BY step
    """,
    tags=("events", "extension"),
    gate=False,
)
def funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase conversion funnel: a user reaches step
    k when an event of that step occurs STRICTLY AFTER their earliest
    arrival at step k−1 (the standard ordered-funnel semantics — a
    purchase before the first view does not count). Returns one row
    per step with the surviving user count."""
    events = load(spark, sf_dir, "events").select("user_id", "event_type",
                                                  "ts")

    def arrivals(step: str, prev: DataFrame | None,
                 prev_t: str, t: str) -> DataFrame:
        e = events.filter(F.col("event_type") == step)
        if prev is not None:
            e = (e.join(prev, "user_id")
                 .filter(F.col("ts") > F.col(prev_t)))
        return e.groupBy("user_id").agg(F.min("ts").alias(t))

    u0 = arrivals(_FUNNEL_STEPS[0], None, "", "t0")
    u1 = arrivals(_FUNNEL_STEPS[1], u0, "t0", "t1")
    u2 = arrivals(_FUNNEL_STEPS[2], u1, "t1", "t2")
    rows = None
    for i, (name, u) in enumerate(zip(_FUNNEL_STEPS, (u0, u1, u2)), 1):
        r = u.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(i).alias("step"), F.lit(name).alias("step_name"),
            "n_users")
        rows = r if rows is None else rows.unionAll(r)
    return rows.orderBy("step")


@register(
    "gapfill_hourly",
    oracle="""
    WITH agg AS (SELECT event_type, date_trunc('hour', ts) AS bucket,
                        COUNT(*) AS value
                 FROM events GROUP BY event_type, bucket),
    span AS (SELECT event_type, MIN(bucket) AS lo, MAX(bucket) AS hi
             FROM agg GROUP BY event_type),
    grid AS (SELECT event_type,
                    unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
                      AS bucket
             FROM span),
    dense AS (SELECT grid.event_type, grid.bucket, agg.value,
                     ROW_NUMBER() OVER (PARTITION BY grid.event_type
                                        ORDER BY grid.bucket) AS pos
              FROM grid LEFT JOIN agg
                   ON grid.event_type = agg.event_type
                  AND grid.bucket = agg.bucket),
    n AS (SELECT event_type, bucket, value, pos,
                 last_value(value IGNORE NULLS) OVER (
                     PARTITION BY event_type ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS prev_v,
                 last_value(CASE WHEN value IS NOT NULL THEN pos END
                            IGNORE NULLS) OVER (
                     PARTITION BY event_type ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS prev_p,
                 first_value(value IGNORE NULLS) OVER (
                     PARTITION BY event_type ORDER BY bucket
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS next_v,
                 first_value(CASE WHEN value IS NOT NULL THEN pos END
                             IGNORE NULLS) OVER (
                     PARTITION BY event_type ORDER BY bucket
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS next_p
          FROM dense)
    SELECT event_type, bucket, value,
           prev_v AS locf,
           CASE WHEN value IS NOT NULL THEN CAST(value AS DOUBLE)
                ELSE CAST(prev_v AS DOUBLE)
                     + ((CAST(next_v AS DOUBLE) - CAST(prev_v AS DOUBLE))
                        * (CAST((pos - prev_p) AS DOUBLE)
                           / CAST((next_p - prev_p) AS DOUBLE)))
           END AS interp
    FROM n
    """,
    tags=("events", "timeseries", "extension"),
    gate=False,
)
def gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event counts per type, made DENSE over each type's own
    span with LOCF and linear-interpolation fills — the TimescaleDB
    time_bucket_gapfill pattern (operators/gapfill.py), consuming an
    already-aggregated hourly series.
    COUNT (exact bigint) is the series so both engines aggregate
    bitwise; the interpolation arithmetic is mirrored expression for
    expression."""
    from myhadoop_spark.operators.gapfill import time_bucket_gapfill

    agg = (load(spark, sf_dir, "events")
           .groupBy("event_type",
                    F.date_trunc("hour", "ts").alias("bucket"))
           .agg(F.count(F.lit(1)).alias("value")))
    return time_bucket_gapfill(agg, bucket="1 hour",
                               keys=["event_type"])


@register(
    "cohort_retention",
    oracle="""
    WITH first AS (SELECT user_id, date_trunc('day', MIN(ts)) AS cohort
                   FROM events GROUP BY user_id),
    activity AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d
                 FROM events)
    SELECT strftime(first.cohort, '%Y-%m-%d') AS cohort,
           CAST(date_diff('day', first.cohort, activity.d) AS BIGINT)
             AS day_offset,
           COUNT(*) AS n_users
    FROM activity JOIN first ON activity.user_id = first.user_id
    GROUP BY 1, 2
    ORDER BY cohort, day_offset
    """,
    tags=("events", "extension"),
    gate=False,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention triangle: users grouped into day cohorts by
    their FIRST event; n_users = how many of each cohort were active
    day_offset days later (offset 0 = the cohort day itself)."""
    events = load(spark, sf_dir, "events").select("user_id", "ts")
    # ISO string on both sides: Spark DATE reaches pandas as
    # object-of-date while DuckDB's date_trunc stays TIMESTAMP →
    # datetime64 — no temporal dtype survives every canonicalizer
    # (tuple compare AND the pandas hash in driver_gate_check.py);
    # a yyyy-MM-dd string is unambiguous in all of them
    first = (events.groupBy("user_id")
             .agg(F.to_date(F.min("ts")).alias("cohort_d")))
    activity = (events
                .select("user_id", F.to_date("ts").alias("d"))
                .distinct())
    return (activity.join(first, "user_id")
            .groupBy(F.date_format("cohort_d", "yyyy-MM-dd")
                     .alias("cohort"),
                     F.datediff("d", "cohort_d")
                     .cast("bigint").alias("day_offset"))
            .agg(F.count(F.lit(1)).alias("n_users"))
            .orderBy("cohort", "day_offset"))


# ---------------------------------------------------------------------------
# rollup anomaly detection — z-score of hourly event counts vs a
# trailing window (the monitoring face of an hourly rollup)
# ---------------------------------------------------------------------------

_ANOM_W = 24          # trailing buckets (one day of hours)
_ANOM_Z = 2.0         # |z| flag threshold
_ANOM_EPS = "1e-9"    # variance floor (degenerate constant windows)


@register(
    "rollup_anomaly",
    oracle=f"""
    WITH agg AS (SELECT event_type, date_trunc('hour', ts) AS bucket,
                        COUNT(*) AS n_events
                 FROM events GROUP BY event_type, date_trunc('hour', ts)),
    win AS (SELECT event_type, bucket, n_events,
                   SUM(n_events) OVER w AS s1,
                   SUM(n_events * n_events) OVER w AS s2,
                   COUNT(*) OVER w AS m
            FROM agg
            WINDOW w AS (PARTITION BY event_type ORDER BY bucket
                         ROWS BETWEEN {_ANOM_W} PRECEDING
                                  AND 1 PRECEDING))
    SELECT event_type, bucket, n_events,
           (CAST(n_events AS DOUBLE)
            - CAST(s1 AS DOUBLE) / {_ANOM_W})
           / sqrt((CAST(s2 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * s1 / {_ANOM_W}) / {_ANOM_W}
                  + {_ANOM_EPS}) AS z
    FROM win
    WHERE m = {_ANOM_W}
      AND abs((CAST(n_events AS DOUBLE)
               - CAST(s1 AS DOUBLE) / {_ANOM_W})
              / sqrt((CAST(s2 AS DOUBLE)
                      - CAST(s1 AS DOUBLE) * s1 / {_ANOM_W}) / {_ANOM_W}
                     + {_ANOM_EPS})) > {_ANOM_Z}
    """,
    tags=("events", "anomaly", "extension"),
    gate=False,
)
def rollup_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket anomaly flags: hourly event counts whose z-score
    against the TRAILING {W}-bucket window (current bucket excluded —
    an anomaly must not suppress its own detection) exceeds the
    threshold. The monitoring face of an hourly rollup: at scale this
    consumes rollup rows, never raw events — here derived from events
    directly so the oracle sees identical input.

    Bitwise discipline: mean and variance come from INTEGER window
    sums (Σc, Σc² over longs — exact, association-free), and the
    float z expression is mirrored token for token in the SQL twin,
    so every double operation sees identical operands on both
    engines; rows with an incomplete trailing window are excluded
    (m = W) rather than scored against a shrunken baseline."""
    from pyspark.sql import Window

    agg = (load(spark, sf_dir, "events")
           .groupBy("event_type", F.date_trunc("hour", "ts")
                    .alias("bucket"))
           .agg(F.count(F.lit(1)).alias("n_events")))
    w = (Window.partitionBy("event_type").orderBy("bucket")
         .rowsBetween(-_ANOM_W, -1))
    s1 = F.sum("n_events").over(w)
    s2 = F.sum(F.col("n_events") * F.col("n_events")).over(w)
    m = F.count(F.lit(1)).over(w)
    win = agg.select("event_type", "bucket", "n_events",
                     s1.alias("s1"), s2.alias("s2"), m.alias("m"))
    z = ((F.col("n_events").cast("double")
          - F.col("s1").cast("double") / _ANOM_W)
         / F.sqrt((F.col("s2").cast("double")
                   - F.col("s1").cast("double") * F.col("s1") / _ANOM_W)
                  / _ANOM_W + float(_ANOM_EPS)))
    return (win.filter(F.col("m") == _ANOM_W)
            .select("event_type", "bucket", "n_events", z.alias("z"))
            .filter(F.abs(F.col("z")) > _ANOM_Z))


_IV_DUR = "3600 + CAST(floor(value) AS BIGINT) * 30"
_IV_W = 8192  # near the median interval length (the range_join rule)


def _sql_intervals(event_type: str) -> str:
    # floor(), not a bare CAST: DuckDB rounds DOUBLE→BIGINT while
    # Spark's unix_timestamp truncates sub-second fractions
    return (f"SELECT user_id, event_id AS id, "
            f"CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS lo, "
            f"CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) "
            f"+ {_IV_DUR} AS hi "
            f"FROM events WHERE event_type = '{event_type}'")


@register(
    "interval_overlap",
    oracle=f"""
    WITH iv AS ({_sql_intervals('view')}),
    ck AS ({_sql_intervals('click')})
    SELECT iv.user_id, iv.id AS a_id, ck.id AS b_id,
           iv.lo AS a_lo, iv.hi AS a_hi, ck.lo AS b_lo, ck.hi AS b_hi,
           greatest(iv.lo, ck.lo) AS ov_lo,
           least(iv.hi, ck.hi) AS ov_hi
    FROM iv JOIN ck
      ON iv.user_id = ck.user_id AND iv.lo < ck.hi AND ck.lo < iv.hi
    ORDER BY iv.user_id, a_id, b_id
    """,
    # r10: promoted into the 50-slot gate (bitwise at both SFs since
    # r9, owner-bucket scale story — interval_join_study.tsv)
    tags=("join", "events", "extension"),
)
def interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user overlapping (view, click) attention spans — the
    interval × interval join (operators/interval_join.py): each event
    opens a half-open integer window [epoch(ts), epoch(ts) + 3600 +
    30·floor(value)); pairs overlapping on the same user are found by
    the bucketized equi-join (owner-bucket dedup, no distinct), while
    the oracle states the textbook overlap predicate directly.

    All-integer interval endpoints → bitwise across engines."""
    from myhadoop_spark.operators.interval_join import (
        interval_overlap_join,
    )

    ev = load(spark, sf_dir, "events")
    ep = F.unix_timestamp("ts").cast("long")
    dur = F.lit(3600).cast("long") + F.floor("value").cast("long") * 30

    def side(kind: str) -> DataFrame:
        return (ev.filter(F.col("event_type") == kind)
                .select("user_id", F.col("event_id").alias("id"),
                        ep.alias("lo"), (ep + dur).alias("hi")))

    return (interval_overlap_join(side("view"), side("click"),
                                  keys=("user_id",), bucket_width=_IV_W)
            .orderBy("user_id", "a_id", "b_id"))
