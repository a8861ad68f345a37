"""Streaming fuzzy decontamination — the ingest face of
queries/fuzzy_decontam.py: documents are checked for NEAR-duplicate
(token-set Jaccard) overlap against a STATIC benchmark set before
they land in the training corpus, the paraphrase-level sibling of the
exact-shingle stream-static probe (streaming/decontam_stream.py).

The benchmark side is fixed, so the face is STATELESS per batch: each
micro-batch runs LSH candidates against the broadcast bench bands +
the exact-Jaccard verify, and survivors land under
``{path}/clean/batch_id=N``. Statelessness buys the strongest
streaming contract in the package: output is BATCHING-INVARIANT (any
split of the corpus into micro-batches emits exactly the one-shot
operator's survivors — pinned in tests/test_fuzzy_decontam_stream.py)
and replay is idempotent by partition overwrite alone (no versioned
state to guard).

Scale shape: per batch, signatures are a narrow fold, candidates come
from a broadcast join (eval sets are tiny), verify touches candidates
only. No state store, no watermark, nothing on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myhadoop_spark.functions.text import JACCARD_THRESHOLD, hashed_token_set
from myhadoop_spark.queries.fuzzy_decontam import fuzzy_contaminated
from myhadoop_spark.materialize import materialize
from myhadoop_spark.streaming.observed import Observed


def start_fuzzy_decontam_stream(doc_stream: DataFrame,
                                bench_docs: DataFrame, *, path: str,
                                checkpoint: str,
                                threshold: float = JACCARD_THRESHOLD,
                                stats: list | None = None):
    """Drop near-dups of ``bench_docs`` from each micro-batch
    (availableNow-friendly); both sides carry (doc_id, text).
    Survivors land under ``{path}/clean/batch_id=N``. Pass ``stats``
    (a list) to receive one {batch, docs_in, docs_kept} dict per
    batch, observed on the batch's own clean/ write (no extra job)."""
    cache: dict = {}  # bench token sets hashed ONCE, on first batch

    def _process(batch: DataFrame, batch_id: int) -> None:
        spark: SparkSession = batch.sparkSession
        if batch.isEmpty():
            return
        obs = Observed(stats is not None)
        if "bs" not in cache:
            cache["bs"] = bench_docs.select(
                "doc_id", hashed_token_set("text").alias("toks")
            ).transform(materialize)
        cs = batch.select("doc_id", hashed_token_set("text").alias("toks"))
        hits = (fuzzy_contaminated(spark, cs, cache["bs"],
                                   threshold=threshold)
                .select("doc_id").distinct())
        # the anti join's left side is the one read of the batch that
        # the probe (cs) does not share
        clean = obs.rows(batch, "docs_in").join(hits, "doc_id", "left_anti")
        (obs.rows(clean, "docs_kept").write.mode("overwrite")
         .parquet(f"{path}/clean/batch_id={batch_id}"))
        if stats is not None:
            stats.append({"batch": batch_id, **obs.get()})

    return (doc_stream.writeStream
            .foreachBatch(_process)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def read_clean(spark: SparkSession, path: str) -> DataFrame:
    """Everything the decontaminating ingest has emitted so far."""
    return spark.read.parquet(f"{path}/clean")
