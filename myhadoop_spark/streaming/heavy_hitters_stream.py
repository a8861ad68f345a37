"""Streaming heavy hitters — a Misra-Gries summary maintained across
micro-batches, the sketch the batch operator
(operators/heavy_hitters.py) promised was mergeable, cashed in.

State (the streaming/versioned_state.py protocol — replay, lineage,
one-deep sweep — applied to a sketch): the persisted state is a
versioned summary table

    <path>/summary_v{batch_id}/   ≤ capacity (term, est) rows
    <path>/meta.json              {last_batch, capacity, total_items}

and each micro-batch advances it deterministically:

    v_N = mg_merge(v_{N-1}, mg_summaries(batch_N))

where mg_merge is the Agarwal et al. (2012) mergeable-summaries rule —
sum counters, subtract the (capacity+1)-th largest, drop ≤ 0 — whose
theorem gives the GLOBAL bound est(t) ≤ true(t) ≤ est(t) +
total_items/(capacity+1) after any merge sequence (asserted against
exact counts in tests). A batch with no items (after the first)
commits nothing; the check rides on the summaries, no extra scan.

Merge cost: the merge runs driver-side over ≤ capacity +
partitions×capacity rows — bounded by CONFIGURATION, not data (the
sanctioned bounded-collect class: centroids, shard manifests), while
each batch's summaries are computed distributed by mapInPandas.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myhadoop_spark.operators.heavy_hitters import mg_summaries
from myhadoop_spark.streaming.versioned_state import VersionedState

_state = partial(VersionedState, prefix="summary_v", name="MG state",
                 coalesce=True)


def _mg_merge(counters: dict[str, int], capacity: int) -> dict[str, int]:
    """Reduce a combined counter dict to ≤ capacity entries by the
    subtract-(c+1)-th-largest rule; pure, deterministic."""
    if len(counters) <= capacity:
        return {t: c for t, c in counters.items() if c > 0}
    s = sorted(counters.values(), reverse=True)[capacity]
    return {t: c - s for t, c in counters.items() if c - s > 0}


def start_mg_stream(stream_df: DataFrame, *, path: str, checkpoint: str,
                    term_col: str = "term", capacity: int = 256):
    """Maintain the summary per micro-batch (availableNow-friendly).
    ``stream_df`` streams rows with ``term_col``; state lives at
    ``path``; query it any time with ``stream_topk``."""
    state = _state(path, params={"capacity": capacity},
                   reason="merge incomparable summaries",
                   skip_empty=False)

    def _step(batch: DataFrame, v):
        # the stored summary is ≤ capacity rows, merged on the driver
        prev_rows = v.prev.collect() if v.prev is not None else []
        prev_total = v.meta["total_items"] if v.meta is not None else 0
        # distributed per-partition summaries; bounded collect
        batch_sum = mg_summaries(batch, term_col, capacity).collect()
        batch_total = sum({r.part_id: r.part_total
                           for r in batch_sum}.values())
        if batch_total == 0 and v.meta is not None:
            return
        combined: dict[str, int] = {}
        for r in prev_rows:
            combined[r.term] = combined.get(r.term, 0) + int(r.est)
        for r in batch_sum:
            if r.term is not None:
                combined[r.term] = combined.get(r.term, 0) + int(r.est)
        merged = _mg_merge(combined, capacity)
        v.write(v.spark.createDataFrame(
            [(t, c) for t, c in sorted(merged.items())] or [(None, 0)],
            "term string, est long"))
        yield {"total_items": prev_total + batch_total}

    return state.start(stream_df, checkpoint, _step)


def stream_topk(spark: SparkSession, path: str,
                *, k: int = 10) -> DataFrame:
    """(term, est, err_bound): current approximate top-k from the
    maintained summary; est ≤ true ≤ est + err_bound where
    err_bound = total_items // (capacity+1) — the mergeable-MG
    theorem's global bound over everything the stream has absorbed.
    ``capacity`` comes from the persisted meta (the index-face
    discipline: bound parameters live WITH the state, so a caller
    can't silently compute a wrong bound)."""
    state = _state(path)
    meta = state.meta(spark)
    err = meta["total_items"] // (meta["capacity"] + 1)
    return (state.read(spark, meta)
            .filter(F.col("term").isNotNull())
            .withColumn("err_bound", F.lit(err))
            .orderBy(F.col("est").desc(), F.col("term").asc())
            .limit(k))
