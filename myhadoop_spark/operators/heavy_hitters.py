"""Heavy hitters — mergeable Misra-Gries summaries for approximate top-k.

The sketch family the engine didn't yet cover: exact per-term counting
shuffles every distinct term; at 100 TB vocabulary scale a
bounded-memory summary answers "the top-k terms and their approximate
counts" with a provable error bound and NO full aggregation.

Distributed form (the standard mergeable decomposition):

1. per-partition Misra-Gries with `capacity` counters over the terms in
   that partition (mapInPandas, Arrow-batched — a dict loop is inherently
   imperative, the sanctioned Python path). Each partition also emits its
   local item total n_p; the local undercount of any surviving term is
   ≤ n_p / (capacity+1), and a dropped term's true local count is below
   that same bound.
2. groupBy(term): sum the per-partition estimates (one shuffle whose
   cardinality is ≤ partitions × capacity, NOT the vocabulary), plus the
   global error bound Σ n_p/(capacity+1).
3. top-k by merged estimate (TakeOrdered).

Guarantees (asserted in tests/test_heavy_hitters.py):
  est(t) ≤ true(t) ≤ est(t) + err_total   for every term,
and every term with true(t) > err_total appears in the merged summary —
so with capacity sized to partitions·k the true top-k are always present.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SUMMARY_SCHEMA = "term STRING, est BIGINT, part_id INT, part_total BIGINT"


def _mg_partition(capacity: int):
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        counters: dict[str, int] = {}
        total = 0
        for pdf in batches:
            for t in pdf["term"]:
                total += 1
                if t in counters:
                    counters[t] += 1
                elif len(counters) < capacity:
                    counters[t] = 1
                else:
                    # decrement-all step; drop zeros
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
        if counters:
            yield pd.DataFrame({
                "term": list(counters),
                "est": list(counters.values()),
                "part_id": [pid] * len(counters),
                "part_total": [total] * len(counters),
            })
        elif total:
            # the final decrement-all can empty the counter table (e.g.
            # capacity=1 over [a, b]) — the partition's total must STILL
            # reach the error-bound sum or the documented guarantees
            # silently break. Emit a term=NULL sentinel carrying it;
            # consumers filter NULL terms out of estimates but keep the
            # row for the bound aggregation.
            yield pd.DataFrame({
                "term": [None], "est": [0],
                "part_id": [pid], "part_total": [total],
            })

    return run


def mg_summaries(df: DataFrame, term_col: str = "term",
                 capacity: int = 256) -> DataFrame:
    """Per-partition Misra-Gries summaries: (term, est, part_total) with
    ≤ capacity terms per input partition. A non-empty partition whose
    counters all died in the final decrement emits one term=NULL
    sentinel row so its part_total still feeds the error bound."""
    from myhadoop_spark.shipping import ensure_shipped

    ensure_shipped(df.sparkSession)
    return (df.select(F.col(term_col).cast("string").alias("term"))
            .mapInPandas(_mg_partition(capacity), schema=SUMMARY_SCHEMA))


def heavy_hitters_topk(df: DataFrame, term_col: str = "term",
                       k: int = 10, capacity: int = 256) -> DataFrame:
    """Approximate top-k terms: (term, est, err_bound) ordered by est
    desc with term tie-break. est underestimates by at most err_bound
    (the summed per-partition MG bounds) — callers needing exact counts
    for just the winners can re-scan filtered to these k terms (two
    narrow passes still beat one full-vocabulary shuffle)."""
    s = mg_summaries(df, term_col, capacity)
    per_term = (s.filter(F.col("term").isNotNull())
                .groupBy("term").agg(F.sum("est").alias("est")))
    # one bound contribution per PARTITION (part_id disambiguates
    # partitions that happen to share a total); the broadcast of this
    # one-row aggregate is the engine's sanctioned tiny crossJoin shape
    bound = (s.groupBy("part_id").agg(F.first("part_total").alias("pt"))
             .agg(F.sum(F.expr(f"pt div {capacity + 1}"))
                  .alias("err_bound")))
    return (per_term.crossJoin(F.broadcast(bound))
            .orderBy(F.col("est").desc(), F.col("term").asc())
            .limit(k))
