"""Streaming budgeted selection — the ingest face of
operators/budget_select.py: documents arrive in micro-batches and are
admitted best-score-first WITHIN each batch while a persistent global
token budget lasts; once the budget is exhausted, later batches admit
nothing.

Arrival-order contract (the url_cap_stream budget-face discipline): a
batch competes only against the REMAINING budget, not against future
batches — a better document arriving after the budget fills is NOT
admitted retroactively (no emitted document is ever revoked). The
one-shot batch operator is the re-curation tool when global
best-of-corpus selection is wanted; the stream face is the "admit the
best of what's here while budget lasts" semantics of an ingestion
quota.

State (the streaming/versioned_state.py protocol — replay, lineage,
one-deep sweep):

    <path>/state_v{batch_id}/  one row: (budget_left)
    <path>/kept/batch_id=N/    the batch's admitted documents
    <path>/meta.json           {last_batch, bands}

    kept_N        = budget_select(batch_N, budget_left_{N-1})
    budget_left_N = budget_left_{N-1} − Σ kept_N.n_tokens

The banding knob rides in the meta. A single-batch stream equals the
one-shot operator bitwise (pinned in tests/test_budget_stream.py).

Scale shape: per-batch work is the banded batch-local selection (only
the straddling band sorts) plus a 1-row state read/write. Nothing
data-sized reaches the driver.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myhadoop_spark.operators.budget_select import budget_select
from myhadoop_spark.streaming.observed import Observed
from myhadoop_spark.streaming.versioned_state import VersionedState

_state = partial(VersionedState, prefix="state_v", name="budget stream")


def start_budget_stream(doc_stream: DataFrame, *, path: str,
                        checkpoint: str, budget: int,
                        bands: int = 32, id_col: str = "doc_id",
                        stats: list | None = None):
    """Admit best-score-first within each micro-batch until the
    persistent token ``budget`` is spent (availableNow-friendly).
    The stream carries (id, score BIGINT, n_tokens BIGINT). Pass
    ``stats`` (a list) to receive one {batch, admitted, tokens,
    budget_left} dict per absorbed batch, observed on the batch's own
    kept/ and state_v writes (no extra job)."""
    if int(budget) < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    if int(bands) < 1:
        raise ValueError(f"bands must be >= 1, got {bands}")

    state = _state(path, params={"bands": int(bands)},
                   reason="change the banded tie layout")

    def _step(batch: DataFrame, v):
        obs = Observed(stats is not None)
        left_df = (v.prev if v.prev is not None
                   else v.spark.createDataFrame([(int(budget),)],
                                                "budget_left long"))
        kept = budget_select(
            batch,
            left_df.select(F.col("budget_left").alias("budget")),
            bands=bands, id_col=id_col)
        kept_path = f"{path}/kept/batch_id={v.batch_id}"
        obs(kept, admitted=F.count(F.lit(1)),
            tokens=F.coalesce(F.sum("n_tokens"), F.lit(0))).write.mode(
                "overwrite").parquet(kept_path)
        kept_back = v.spark.read.parquet(kept_path)
        # the straddling document may overshoot the remaining budget
        # by up to one document's tokens — clamp the persisted state
        # at 0 so budget_left()/stats never report a negative budget
        v.write(obs(left_df.crossJoin(
            F.broadcast(kept_back.agg(
                F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long")
                .alias("_spent"))))
            .select(F.greatest(
                F.col("budget_left") - F.col("_spent"),
                F.lit(0).cast("long"))
                .cast("long").alias("budget_left")),
            budget_left=F.max("budget_left")))
        yield {}
        if stats is not None:
            stats.append({"batch": v.batch_id, **obs.get()})

    return state.start(doc_stream, checkpoint, _step)


def read_kept(spark: SparkSession, path: str) -> DataFrame:
    """Everything the budgeted ingest has admitted so far."""
    _state(path).meta(spark)
    return spark.read.parquet(f"{path}/kept")


def budget_left(spark: SparkSession, path: str) -> int:
    # the answer itself: one row, read once per call
    return _state(path).read(spark).collect()[0]["budget_left"]
