"""Streaming boilerplate stripping — the ingest-time face of
operators/boilerplate.py: as documents arrive in micro-batches, the
corpus-wide shingle document-frequency table is maintained
incrementally, and each batch is stripped against the table AS OF
that batch (its own contribution included). This is the arrival-order
contract of every other ingest face here (bloom_ingest,
url_cap_stream): a shingle becomes boilerplate the moment the corpus
has seen it in ``min_df`` distinct documents — batches from then on
are stripped of it, earlier batches are NOT retroactively rewritten
(the one-shot batch operator is the re-curation tool for that).

State (the streaming/versioned_state.py protocol — replay, lineage,
one-deep sweep):

    <path>/df_v{batch_id}/      (g, df) — one row per shingle seen so
                                far; df = #distinct docs containing g
                                (exact when each doc arrives exactly
                                once, the ingest contract)
    <path>/clean/batch_id=N/    the batch's stripped documents
    <path>/meta.json            {last_batch, n, min_df}

    df_N      = df_{N-1} ⊎ per-distinct-doc shingle counts of batch_N
    clean_N   = strip_against(batch_N, {g : df_N(g) ≥ min_df})

clean_N depends on df_N, so the stripped documents are written after
the version. (n, min_df) ride in the meta so a restart cannot
silently change the shingle width or threshold.

Single-batch equivalence: a stream fed the whole corpus as ONE batch
produces exactly the batch operator's output (df_0 is the corpus df
table), pinned bitwise in tests/test_boilerplate_stream.py.

Scale shape: per-batch work is one shingle explode + (g, doc)-distinct
count of the BATCH (batch-sized), one vocab-sized merge groupBy
(state ∝ shingle vocabulary, the bm25_index cardinality class — never
corpus-sized), one equi-join of the batch's shingles against the
threshold survivors, and the narrow rebuild. Nothing is collected to
the driver.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myhadoop_spark.functions.text import tokens
from myhadoop_spark.operators.boilerplate import (
    _shingles,
    strip_against,
)
from myhadoop_spark.streaming.observed import Observed
from myhadoop_spark.streaming.versioned_state import VersionedState

_state = partial(VersionedState, prefix="df_v", name="boilerplate state")


def _batch_df_counts(batch: DataFrame, *, n: int, text_col: str,
                     id_col: str) -> DataFrame:
    """(g, df) over ONE batch — df counts the batch's distinct docs,
    exactly operators/boilerplate.py::boilerplate_grams without the
    threshold filter (the stream thresholds AFTER the merge)."""
    sh = (batch.withColumn("_toks", tokens(text_col))
          .select(F.col(id_col).alias("_id"),
                  F.explode(_shingles(n)).alias("_s"))
          .select("_id", F.col("_s.g").alias("g")))
    return (sh.groupBy("g")
            .agg(F.count_distinct("_id").cast("long").alias("df")))


def start_boilerplate_stream(doc_stream: DataFrame, *, path: str,
                             checkpoint: str, min_df: int, n: int = 2,
                             text_col: str = "text",
                             id_col: str = "doc_id",
                             stats: list | None = None):
    """Maintain the shingle-df table per micro-batch and strip each
    batch on ingest (availableNow-friendly); stripped documents land
    under ``{path}/clean/batch_id=N``. Pass ``stats`` (a list) to
    receive one {batch, docs, vocab, boiler} dict per absorbed batch,
    observed on the batch's own df_v and clean/ writes (no extra job).

    Assumes each document arrives in exactly ONE batch (the ingest
    contract everywhere in this package) — df stays the exact
    distinct-doc count under it."""
    if min_df < 1 or n < 1:
        raise ValueError("min_df and n must be >= 1")

    state = _state(path, params={"n": n, "min_df": min_df},
                   reason="change what already counts as boilerplate")

    def _step(batch: DataFrame, v):
        obs = Observed(stats is not None)
        batch_counts = _batch_df_counts(batch, n=n, text_col=text_col,
                                        id_col=id_col)
        v.write(obs(v.prev.unionByName(batch_counts)
                    .groupBy("g")
                    .agg(F.sum("df").cast("long").alias("df"))
                    if v.prev is not None else batch_counts,
                    vocab=F.count(F.lit(1)),
                    boiler=F.count_if(F.col("df") >= min_df)))
        table = v.reread()
        bp = table.filter(F.col("df") >= min_df).select("g")
        clean = strip_against(batch, bp, n=n, text_col=text_col,
                              id_col=id_col)
        clean_path = f"{path}/clean/batch_id={v.batch_id}"
        obs.rows(clean, "docs").write.mode("overwrite").parquet(clean_path)
        yield {}
        if stats is not None:
            m = obs.get()
            stats.append({"batch": v.batch_id, "docs": m["docs"],
                          "vocab": m["vocab"], "boiler": m["boiler"]})

    return state.start(doc_stream, checkpoint, _step)


def read_clean(spark: SparkSession, path: str) -> DataFrame:
    """Everything the stripping ingest has emitted so far."""
    _state(path).meta(spark)
    return spark.read.parquet(f"{path}/clean")


def read_df_table(spark: SparkSession, path: str) -> DataFrame:
    """The maintained (g, df) table as of the last absorbed batch."""
    return _state(path).read(spark)
