"""Streaming line dedup — the ingest-time face of
operators/line_dedup.py: as documents arrive in micro-batches, the
set of line keys the corpus has seen is maintained incrementally, and
each batch keeps only lines never seen before (keep-first across the
whole ingest history, with the within-batch ties resolved by the
batch operator's own (doc id, position) min-struct rule).

Arrival-order contract (bloom_ingest / boilerplate_stream
discipline): a line dedups from the moment the corpus first sees it —
later batches lose their copies, the batch that introduced it keeps
exactly one (its first occurrence). Earlier batches are never
rewritten; the one-shot batch operator is the re-curation tool.

State (the streaming/versioned_state.py protocol — replay, lineage,
one-deep sweep):

    <path>/seen_v{batch_id}/   (key) — one row per distinct line key
                               ingested so far
    <path>/clean/batch_id=N/   the batch's deduplicated documents
    <path>/meta.json           {last_batch, normalize, min_kept_lines}

    seen_N  = seen_{N-1} ∪ distinct keys of batch_N
    clean_N = dedup_against(batch_N, seen_{N-1})

(normalize, min_kept_lines) ride in the meta: a restart cannot
silently change the dedup key.

Single-batch equivalence: a stream fed the whole corpus as ONE batch
produces exactly line_dedup's output (seen_{-1} = ∅), pinned bitwise
in tests/test_line_dedup_stream.py.

Scale shape: per-batch work is one posexplode of the BATCH, one
left-anti hash join against the seen table (state ∝ distinct corpus
lines — data-sized, joined hash-partitioned, never collected or
assumed broadcastable), the batch-sized min-struct survivor pass, and
one distinct-union state merge. Nothing reaches the driver.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myhadoop_spark.operators.line_dedup import (
    dedup_against,
    line_occurrences,
)
from myhadoop_spark.streaming.observed import Observed
from myhadoop_spark.streaming.versioned_state import VersionedState

_state = partial(VersionedState, prefix="seen_v", name="line-dedup state")


def start_line_dedup_stream(doc_stream: DataFrame, *, path: str,
                            checkpoint: str,
                            lines_col_name: str,
                            id_col: str = "doc_id",
                            normalize: bool = False,
                            min_kept_lines: int = 1,
                            stats: list | None = None):
    """Maintain the seen-line-key set per micro-batch and dedup each
    batch on ingest (availableNow-friendly); surviving documents land
    under ``{path}/clean/batch_id=N``. ``lines_col_name`` names an
    array<string> column the caller derived on the stream
    (split_lines / word_lines). Pass ``stats`` (a list) to receive one
    {batch, docs_in, docs_kept, seen} dict per absorbed batch, observed
    on the batch's own clean/ and seen_v writes (no extra job).

    Assumes each document arrives in exactly ONE batch (the ingest
    contract everywhere in this package)."""
    if int(min_kept_lines) < 1:
        raise ValueError(
            f"min_kept_lines must be >= 1, got {min_kept_lines}")
    state = _state(path, params={"normalize": bool(normalize),
                                 "min_kept_lines": min_kept_lines},
                   reason="change the dedup key")

    def _step(batch: DataFrame, v):
        obs = Observed(stats is not None)
        clean = dedup_against(batch, v.prev,
                              lines_col=lines_col_name, id_col=id_col,
                              normalize=normalize,
                              min_kept_lines=min_kept_lines,
                              observe_docs=lambda df: obs.rows(df,
                                                               "docs_in"))
        clean_path = f"{path}/clean/batch_id={v.batch_id}"
        obs.rows(clean, "docs_kept").write.mode("overwrite").parquet(
            clean_path)
        batch_keys = (line_occurrences(
            batch.withColumn("_lines", F.col(lines_col_name)),
            id_col=id_col, normalize=normalize)
            .select(F.col("_key").alias("key")).distinct())
        v.write(obs.rows(v.prev.unionByName(batch_keys).distinct()
                         if v.prev is not None else batch_keys, "seen"))
        yield {}
        if stats is not None:
            m = obs.get()
            stats.append({"batch": v.batch_id, "docs_in": m["docs_in"],
                          "docs_kept": m["docs_kept"], "seen": m["seen"]})

    return state.start(doc_stream, checkpoint, _step)


def read_clean(spark: SparkSession, path: str) -> DataFrame:
    """Everything the dedup ingest has emitted so far."""
    _state(path).meta(spark)
    return spark.read.parquet(f"{path}/clean")


def read_seen(spark: SparkSession, path: str) -> DataFrame:
    """The maintained (key) set as of the last absorbed batch."""
    return _state(path).read(spark)
