"""Custom stateful streaming operator via applyInPandasWithState.

Running per-user totals maintained across micro-batches — the kind of
operator Structured Streaming's built-in aggregations can't express when
the update logic is arbitrary Python (the streaming analog of the
reference's user-defined reduce surface, /root/reference/app.py:13-14).

State discipline: per-user counters, cents kept as integers so the
accumulated sum is exact and order-independent (float accumulation
across nondeterministic batch boundaries would drift). At scale, state
is partitioned by user_id across executors and checkpointed by Spark;
pass a watermark to enable event-time idle eviction (idle_ttl_ms) so
state stays bounded on unbounded streams — with the inline-expiry
pattern, since hasTimedOut never fires for keys that receive data in
the expiring batch.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("sum_value_cents", T.LongType()),
])

STATE_SCHEMA = T.StructType([
    T.StructField("n_events", T.LongType()),
    T.StructField("sum_value_cents", T.LongType()),
    T.StructField("last_seen_ms", T.LongType()),
])


IDLE_TTL_MS = 24 * 3600 * 1000  # evict users idle for a day of event time


def _make_update_user_totals(use_ttl: bool, ttl_ms: int = IDLE_TTL_MS):
    def _update_user_totals(key: tuple[Any, ...],
                            pdfs: Iterator[pd.DataFrame],
                            state: GroupState) -> Iterator[pd.DataFrame]:
        if use_ttl and state.hasTimedOut:
            # idle eviction: totals for a silent user are dropped; if the
            # user returns, counting restarts (documented semantics).
            # Bare return: this function is a generator (it yields below),
            # so a returned value would be silently discarded anyway —
            # no output on eviction is the intended behavior.
            state.remove()
            return
        if state.exists:
            n, cents, last_seen = state.get
            # inline expiry: hasTimedOut never fires for keys receiving
            # data in the expiring batch (Spark calls with the data, not
            # with a timeout) — a user returning after the idle horizon
            # restarts at zero
            if use_ttl and state.getCurrentWatermarkMs() > last_seen + ttl_ms:
                n, cents = 0, 0
        else:
            n, cents, last_seen = 0, 0, 0
        max_ts_ms = last_seen
        for pdf in pdfs:
            n += len(pdf)
            # 2-decimal values → exact integer cents
            cents += int((pdf["value"] * 100).round().astype("int64").sum())
            if use_ttl and len(pdf):
                max_ts_ms = max(
                    max_ts_ms,
                    int(pdf["ts"].max().timestamp() * 1000))
        state.update((n, cents, max_ts_ms))
        if use_ttl:
            state.setTimeoutTimestamp(max_ts_ms + ttl_ms)
        yield pd.DataFrame({
            "user_id": [key[0]],
            "n_events": [n],
            "sum_value_cents": [cents],
        })

    return _update_user_totals


def running_user_totals(events: DataFrame,
                        watermark: str | None = None,
                        idle_ttl_ms: int = IDLE_TTL_MS) -> DataFrame:
    """Streaming running totals per user (update mode): each micro-batch
    emits the new cumulative (count, exact cents) for every user seen in
    that batch. Pass ``watermark`` to bound state on unbounded streams:
    users idle for ``idle_ttl_ms`` of event time are evicted (their running
    totals restart if they return)."""
    from myhadoop_spark.shipping import ensure_shipped

    ensure_shipped(events.sparkSession)
    use_ttl = watermark is not None
    src = events.withWatermark("ts", watermark) if use_ttl else events
    cols = ["user_id", "ts", "value"] if use_ttl else ["user_id", "value"]
    return (
        src.select(*cols)
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_update_user_totals(use_ttl, idle_ttl_ms),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=(GroupStateTimeout.EventTimeTimeout if use_ttl
                         else GroupStateTimeout.NoTimeout),
        )
    )
