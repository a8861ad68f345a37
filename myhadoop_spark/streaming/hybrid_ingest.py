"""Hybrid-index ingest: ONE document stream maintains every retrieval
and dedup surface the engine persists — the RAG-corpus production
loop, composed from the persistent-index family:

  per micro-batch:
    1. near-dup gate against ALL ingest history (the LSH signature
       index, operators/lsh_index.py — durable, verify-inline);
    2. survivors are chunked (operators/chunking.py, shuffle-free)
       and EMITTED to ``<chunks_path>/batch_id=N`` (overwritten on
       replay — the bloom_ingest emit discipline);
    3. the chunks' postings append to the BM25 inverted index
       (operators/bm25_index.py — same-append_id retry idempotent)
       and their embeddings append to the IVF index
       (operators/ivf_index.py — assign-under-stored-centroids; the
       FAISS train-then-add discipline: the IVF level must be
       BOOTSTRAPPED on a seed corpus, centroids never move on
       append);
    4. the WHOLE batch's signatures (kept and dropped) append to the
       LSH index last — replay of a crashed batch re-probes with the
       batch's own append_id excluded, so every face converges:
       LSH exactly, BM25 by same-id retry, IVF by the search path's
       replay-stable distinct, the chunk emit by overwrite.

Embeddings are pluggable: ``embed(text_col) -> Column`` maps chunk
text to ``array<double>`` — a real encoder replaces exactly that
expression (the multimodal-stub discipline, sources/multimodal.py);
everything downstream is model-agnostic.

After the stream drains, each index equals its one-shot build over
seed + surviving chunks (asserted in tests/test_hybrid_ingest.py:
BM25 search bitwise, IVF search under the same centroids, chunk emit
= chunks of LSH survivors).

``vec_id = doc_id * CHUNK_STRIDE + chunk_id`` keys chunks in both
indexes; callers with > CHUNK_STRIDE chunks per document or colliding
ranges supply their own stride.

Reference analog: none — §2.3 extension surface (SURVEY.md §2.3).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from myhadoop_spark.functions.text import tokens
from myhadoop_spark.operators.bm25_index import (
    append_to_bm25_index,
    build_bm25_index,
)
from myhadoop_spark.operators.chunking import chunk_documents
from myhadoop_spark.operators.ivf_index import append_to_index, build_index
from myhadoop_spark.materialize import materialize
from myhadoop_spark.streaming.observed import Observed
from myhadoop_spark.operators.lsh_index import (
    _dedup_core,
    _write_sigs,
    build_lsh_index,
)

CHUNK_STRIDE = 1_000_000  # chunk_id headroom per document


def hashed_bow(dim: int = 16) -> Callable[[str], Column]:
    """Deterministic hashed bag-of-words embedder — the feature-
    hashing trick (Weinberger et al. 2009, "Feature hashing for large
    scale multitask learning") as a pure Column expression: token t
    votes ±1 on axis d by hash parity, plus a constant bias axis so no
    chunk ever embeds to the zero vector (a zero norm would poison
    cosine scoring downstream). A real encoder replaces exactly this
    callable (the module's ``embed`` contract); this one exists so the
    RAG loop can be rehearsed and replay-asserted BITWISE with real
    vector content — hash-derived, not synthetic projections — at any
    scale with no model dependency."""

    def _embed(text_col: str) -> Column:
        toks = tokens(text_col)
        # ONE fold over the tokens building the whole vector — `toks`
        # appears once in the expression tree, so the split+filter
        # evaluates once per row (the HOF recompute trap named in
        # queries/repetition.py: the earlier per-axis transform re-ran
        # the tokenization dim times). Per axis the additions happen
        # in the same token order as before, and every vote is ±1.0
        # (exact in double), so the output is bitwise unchanged.
        votes = F.aggregate(
            toks,
            F.array_repeat(F.lit(0.0), dim),
            lambda acc, t: F.zip_with(
                acc,
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda a, d: a + F.when(
                    F.pmod(F.hash(t, d.cast("string")), F.lit(2)) == 0,
                    F.lit(1.0)).otherwise(F.lit(-1.0))))
        return F.concat(votes, F.array(F.lit(1.0)))

    return _embed


def _chunk_with_ids(docs: DataFrame, *, chunk_tokens: int,
                    overlap: int) -> DataFrame:
    return (chunk_documents(docs.select("doc_id", "text"),
                            chunk_tokens=chunk_tokens, overlap=overlap)
            .withColumn("vec_id",
                        F.col("doc_id") * CHUNK_STRIDE
                        + F.col("chunk_id")))


def bootstrap_hybrid(seed_docs: DataFrame, *, lsh_path: str,
                     bm25_path: str, ivf_path: str,
                     embed: Callable[[str], Column],
                     chunk_tokens: int = 128, overlap: int = 16,
                     ivf_k: int = 8) -> DataFrame:
    """Build all three indexes over the seed corpus (the IVF level
    NEEDS real vectors to train its centroids — FAISS's train()
    precondition; LSH and BM25 would accept an empty seed). Returns
    the seed chunks (the caller usually persists them alongside the
    streamed batches)."""
    build_lsh_index(seed_docs.select("doc_id", "text"), lsh_path,
                    append_id="seed")
    chunks = _chunk_with_ids(seed_docs, chunk_tokens=chunk_tokens,
                             overlap=overlap)
    build_bm25_index(chunks, bm25_path, id_col="vec_id")
    build_index(chunks.withColumn("v", embed("text"))
                .select("vec_id", "v"), ivf_path, k=ivf_k)
    return chunks


def start_hybrid_ingest_stream(stream_docs: DataFrame, *, lsh_path: str,
                               bm25_path: str, ivf_path: str,
                               chunks_path: str, checkpoint: str,
                               embed: Callable[[str], Column],
                               chunk_tokens: int = 128,
                               overlap: int = 16,
                               threshold: float = 0.5,
                               max_bucket: int | None = None,
                               compact_every: int | None = None,
                               stats: list | None = None):
    """The maintenance loop described in the module docstring.
    Requires ``bootstrap_hybrid`` (or equivalent one-shot builds) to
    have run; fails loudly otherwise via each index's own meta
    guard.

    ``compact_every=N`` runs each index's own compaction after every
    N batches — sigs shards, BM25 postings buckets, IVF lists — so a
    long-running ingest can't fragment any surface unboundedly; when
    ``max_bucket`` is also set, the LSH stop-signature list refreshes
    at the same cadence (refresh_hot_sigs), arming the probe-side
    hot-bucket guard against HISTORY, not just within-batch pairs.

    ``stats``: pass a list to receive one dict per processed batch —
    {batch_id, docs_in, survivors, chunks, wall_s} — the flat-cost
    monitoring face (rehearsed in scripts/hybrid_ingest_study.py). The
    counts are observed on the batch's own signature, survivor and
    chunk checkpoints (no extra job)."""

    def _process(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        import time as _time

        t0 = _time.time()
        spark = batch.sparkSession
        obs = Observed(stats is not None)
        append_id = f"b{batch_id}"
        # docs_in fires on the signature checkpoint, the first and
        # full read of the batch inside _dedup_core
        survivors, rows = _dedup_core(
            obs.rows(batch.select("doc_id", "text"), "docs_in"), lsh_path,
            append_id=append_id, threshold=threshold, text_col="text",
            max_bucket=max_bucket)
        # materialize once: the chunker and the index appends consume
        # it; its checkpoint job also fires the survivors observation
        # (counting chunks instead would undercount zero-chunk
        # survivors — empty/whitespace-only docs)
        survivors = obs.rows(survivors, "survivors").transform(materialize)
        chunks = obs.rows(_chunk_with_ids(survivors,
                                          chunk_tokens=chunk_tokens,
                                          overlap=overlap),
                          "chunks").transform(materialize)
        # 1. emit FIRST (overwritten per-batch dir: replay rewrites)
        (chunks.write.mode("overwrite")
         .parquet(f"{chunks_path}/batch_id={batch_id}"))
        # 2. index appends, each under its own replay contract
        append_to_bm25_index(chunks, bm25_path, append_id=append_id)
        append_to_index(chunks.withColumn("v", embed("text"))
                        .select("vec_id", "v"), ivf_path)
        # 3. LSH history last — next batches dedup against this one
        _write_sigs(rows, lsh_path, append_id, "append")
        if compact_every and (batch_id + 1) % compact_every == 0:
            from myhadoop_spark.operators.bm25_index import (
                compact_bm25_index,
            )
            from myhadoop_spark.operators.ivf_index import compact_index
            from myhadoop_spark.operators.lsh_index import (
                compact_lsh_index,
            )

            compact_lsh_index(spark, lsh_path,
                              refresh_hot_over=max_bucket)
            compact_bm25_index(spark, bm25_path)
            compact_index(spark, ivf_path)
        if stats is not None:
            stats.append({"batch_id": batch_id, **obs.get(),
                          "wall_s": round(_time.time() - t0, 3)})

    return (stream_docs.writeStream
            .foreachBatch(_process)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())
