"""Streaming HLL index maintenance — the ingest face of
operators/hll_index.py: as rows arrive in micro-batches, the per-key
distinct-count sketch table is maintained incrementally (batch
sketches folded into the stored sketches via hll_union_agg — history
is never rescanned), so the running distinct-count of any key group,
or any coarser rollup of them, is answerable at every point in the
stream from a keys-sized table.

State (the streaming/versioned_state.py protocol — replay, lineage,
one-deep sweep):

    <path>/sk_v{batch_id}/   (keys..., sketch, n_rows)
    <path>/meta.json         {last_batch, keys, value_col, lgk}

    sk_N = merge_sketch_tables(sk_{N-1}, group_sketches(batch_N))

(keys, value_col, lgk) ride in the meta so a restart cannot silently
change what is being counted. HLL unions are order- and
batching-insensitive over the item SET, so the final estimates equal
the one-shot index built from the whole corpus (pinned in
tests/test_hll_stream.py).

Scale shape: per-batch work is one batch-sized sketch aggregation +
one keys-sized merge groupBy. Nothing reaches the driver.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myhadoop_spark.operators.hll_index import (
    DEFAULT_LGK,
    group_sketches,
    merge_sketch_tables,
    union_estimate,
)
from myhadoop_spark.streaming.observed import Observed
from myhadoop_spark.streaming.versioned_state import VersionedState

_state = partial(VersionedState, prefix="sk_v", name="HLL index")


def start_hll_stream(stream: DataFrame, *, path: str, checkpoint: str,
                     keys: list[str], value_col: str,
                     lgk: int = DEFAULT_LGK,
                     stats: list | None = None):
    """Maintain the per-key sketch index per micro-batch
    (availableNow-friendly). Pass ``stats`` (a list) to receive one
    {batch, groups, total_estimate} dict per absorbed batch, observed
    on the batch's own sk_v write (no extra job)."""
    if not keys:
        raise ValueError("keys must name at least one group column")

    state = _state(path, params={"keys": list(keys),
                                 "value_col": value_col, "lgk": int(lgk)},
                   reason="change what is being counted")

    def _step(batch: DataFrame, v):
        obs = Observed(stats is not None)
        bsk = group_sketches(batch, list(keys), value_col, lgk=lgk)
        v.write(obs(merge_sketch_tables(v.prev, bsk, list(keys))
                    if v.prev is not None else bsk,
                    groups=F.count(F.lit(1)), total_estimate=union_estimate()))
        yield {}
        if stats is not None:
            m = obs.get()
            # a first batch that is empty yields an empty sketch table
            # whose total estimate is NULL — report 0, don't TypeError
            est = m["total_estimate"]
            stats.append({"batch": v.batch_id, "groups": m["groups"],
                          "total_estimate":
                              int(est) if est is not None else 0})

    return state.start(stream, checkpoint, _step)


def read_index(spark: SparkSession, path: str) -> DataFrame:
    """The maintained sketch table as of the last absorbed batch."""
    return _state(path).read(spark)
