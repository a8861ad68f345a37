"""Hybrid-index ingest (streaming/hybrid_ingest.py): one stream
maintains the LSH dedup history, the BM25 inverted index, and the IVF
ANN index; after the stream drains each surface equals its one-shot
build over seed + surviving documents."""

from __future__ import annotations

from pyspark.sql import functions as F

from myhadoop_spark.operators import lsh_index as L
from myhadoop_spark.operators.bm25_index import (
    build_bm25_index,
    search_bm25_index,
)
from myhadoop_spark.operators.ivf import _dot
from myhadoop_spark.operators.ivf_index import (
    build_index,
    load_centroids,
    search_index,
)
from myhadoop_spark.streaming.hybrid_ingest import (
    _chunk_with_ids,
    bootstrap_hybrid,
    start_hybrid_ingest_stream,
)
from tests.test_chunk_index_pipeline import _stub_embedding

import pytest


def _corpus(spark):
    """40 seed docs + 3 stream batches of 20, with batch 1 repeating
    five seed texts verbatim (cross-batch near-dups the LSH gate must
    drop) and distinct prose elsewhere."""
    def doc(i, copy_of=None):
        if copy_of is not None:
            return (i, texts[copy_of])
        return (i, " ".join(f"w{i}_{j} common{j % 7}"
                            for j in range(60)))

    texts = {}
    rows = []
    for i in range(100):
        copy = i - 45 if 45 <= i < 50 else None  # batch-1 repeats seed
        r = doc(i, copy)
        texts[i] = r[1]
        rows.append(r)
    df = (lambda s: s.createDataFrame(rows, "doc_id long, text string"))(
        spark)
    seed = df.filter("doc_id < 40")
    batches = [df.filter(f"doc_id >= {40 + 20 * k} and "
                         f"doc_id < {60 + 20 * k}") for k in range(3)]
    return seed, batches, df


def test_stream_maintains_all_three_indexes(spark, tmp_path):
    seed, batches, _ = _corpus(spark)
    lsh, bm25, ivf = (str(tmp_path / p) for p in ("lsh", "bm25", "ivf"))
    chunks_out = str(tmp_path / "chunks")
    embed = lambda c: _stub_embedding(c)  # noqa: E731

    seed_chunks = bootstrap_hybrid(seed, lsh_path=lsh, bm25_path=bm25,
                                   ivf_path=ivf, embed=embed,
                                   chunk_tokens=32, overlap=4)

    src = str(tmp_path / "src")
    for i, b in enumerate(batches):
        b.coalesce(1).write.parquet(f"{src}/b{i}")
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(f"{src}/*"))
    q = start_hybrid_ingest_stream(
        stream, lsh_path=lsh, bm25_path=bm25, ivf_path=ivf,
        chunks_path=chunks_out, checkpoint=str(tmp_path / "ckpt"),
        embed=embed, chunk_tokens=32, overlap=4,
        compact_every=2, max_bucket=500)
    q.awaitTermination(180)

    # the compaction cadence ran and armed the probe-side hot guard
    from myhadoop_spark.operators.lsh_index import load_hot_sigs

    assert load_hot_sigs(spark, lsh) is not None

    # ------ the dedup gate dropped exactly the verbatim repeats ------
    streamed = spark.read.parquet(chunks_out)
    surv_docs = {r.doc_id
                 for r in streamed.select("doc_id").distinct().collect()}
    assert not any(45 <= d < 50 for d in surv_docs)
    assert {d for d in range(40, 100) if not 45 <= d < 50} == surv_docs

    # ------ BM25: streamed index ≡ one-shot over seed + survivors ----
    all_chunks = seed_chunks.unionByName(
        streamed.select(*seed_chunks.columns)).localCheckpoint()
    oneshot_bm25 = str(tmp_path / "bm25_oneshot")
    build_bm25_index(all_chunks, oneshot_bm25, id_col="vec_id")
    terms = ["common1", "common2", "w41_3"]
    got = [tuple(r) for r in
           search_bm25_index(spark, bm25, terms, top_k=10).collect()]
    want = [tuple(r) for r in
            search_bm25_index(spark, oneshot_bm25, terms,
                              top_k=10).collect()]
    assert got == want and got

    # ------ IVF: streamed appends ≡ one-shot under SAME centroids ----
    emb = (all_chunks.withColumn("v", embed("text"))
           .select("vec_id", "v").localCheckpoint())
    qs = (emb.limit(4)
          .select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"),
                  F.sqrt(_dot("v", "v")).alias("qnrm")).localCheckpoint())
    got_ann = {tuple(r) for r in
               search_index(spark, ivf, qs, n_probe=8,
                            top_k=5).collect()}
    # one-shot twin: same stored centroids, assign the full corpus
    oneshot_ivf = str(tmp_path / "ivf_oneshot")
    cents = load_centroids(spark, ivf)
    from myhadoop_spark.operators.ivf_index import _assign, _write_lists

    (spark.createDataFrame([(i, c) for i, c in enumerate(cents)],
                           "bucket int, centroid array<double>")
     .coalesce(1).write.mode("overwrite")
     .parquet(f"{oneshot_ivf}/centroids"))
    _write_lists(_assign(emb, cents, "v", "vec_id"), oneshot_ivf,
                 "overwrite")
    want_ann = {tuple(r) for r in
                search_index(spark, oneshot_ivf, qs, n_probe=8,
                             top_k=5).collect()}
    assert got_ann == want_ann and got_ann

    # ------ LSH history holds every seen doc (kept AND dropped) ------
    sig_docs = {r.doc_id for r in
                spark.read.parquet(f"{lsh}/sigs")
                .select("doc_id").distinct().collect()}
    assert sig_docs == set(range(100))


# the replay and recall batteries are slow-tier (pytest.ini); the
# three-index parity test above is the fast tier's only streaming cover
# of the LSH gate and the BM25/IVF appends
@pytest.mark.slow
def test_replayed_batch_converges(spark, tmp_path):
    """Re-running the last batch's _process (the crash-replay path)
    leaves every surface equal: same emitted chunks, BM25 search
    unchanged (same-id retry), IVF search unchanged (duplicate rows
    collapse in the probe), LSH verdicts unchanged."""
    seed, batches, _ = _corpus(spark)
    lsh, bm25, ivf = (str(tmp_path / p) for p in ("lsh", "bm25", "ivf"))
    chunks_out = str(tmp_path / "chunks")
    embed = lambda c: _stub_embedding(c)  # noqa: E731
    bootstrap_hybrid(seed, lsh_path=lsh, bm25_path=bm25, ivf_path=ivf,
                     embed=embed, chunk_tokens=32, overlap=4)

    import myhadoop_spark.streaming.hybrid_ingest as H

    def run_batch(b, bid):
        append_id = f"b{bid}"
        survivors, rows = L._dedup_core(
            b.select("doc_id", "text"), lsh, append_id=append_id,
            threshold=0.5, text_col="text", max_bucket=None)
        chunks = H._chunk_with_ids(survivors, chunk_tokens=32,
                                   overlap=4).localCheckpoint()
        (chunks.write.mode("overwrite")
         .parquet(f"{chunks_out}/batch_id={bid}"))
        from myhadoop_spark.operators.bm25_index import (
            append_to_bm25_index,
        )
        from myhadoop_spark.operators.ivf_index import append_to_index

        append_to_bm25_index(chunks, bm25, append_id=append_id)
        append_to_index(chunks.withColumn("v", embed("text"))
                        .select("vec_id", "v"), ivf)
        L._write_sigs(rows, lsh, append_id, "append")

    run_batch(batches[0], 0)
    run_batch(batches[1], 1)

    def snapshot():
        terms = ["common1", "w41_3"]
        s1 = [tuple(r) for r in
              search_bm25_index(spark, bm25, terms, top_k=8).collect()]
        emitted = sorted(
            r.vec_id
            for r in spark.read.parquet(chunks_out).collect())
        probe = spark.createDataFrame(
            [(7, batches[1].collect()[0].text)],
            "doc_id long, text string")
        verdicts = sorted(
            (r.doc_id, r.hist_id)
            for r in L.probe_lsh_index(probe, lsh,
                                       exclude_append_id="b1").collect())
        return s1, emitted, verdicts

    before = snapshot()
    run_batch(batches[1], 1)  # replay
    assert snapshot() == before


@pytest.mark.slow
def test_hashed_bow_ingest_recall_bound(spark, tmp_path):
    """The r6/r8 embedding rehearsal's bound, pinned: driving the full
    loop with the DETERMINISTIC hashed-BoW embedder (real hash-derived
    vector content, not a synthetic projection), the shipped IVF
    search's recall@5 against exact brute-force cosine over the same
    stored vectors must hold ≥ 0.8 (measured 1.0 at the 10× study
    scale, hybrid_ingest_study.tsv)."""
    from pyspark.sql import Window

    from myhadoop_spark.operators.ivf_index import search_index
    from myhadoop_spark.streaming.hybrid_ingest import hashed_bow

    seed, batches, _ = _corpus(spark)
    lsh, bm25, ivf = (str(tmp_path / p) for p in ("lsh", "bm25", "ivf"))
    chunks_out = str(tmp_path / "chunks")
    embed = hashed_bow(16)
    bootstrap_hybrid(seed, lsh_path=lsh, bm25_path=bm25, ivf_path=ivf,
                     embed=embed, chunk_tokens=32, overlap=4)
    src = str(tmp_path / "src")
    for k, b in enumerate(batches):
        b.coalesce(1).write.parquet(f"{src}/b{k}")
    stream = (spark.readStream.schema("doc_id bigint, text string")
              .option("maxFilesPerTrigger", 1).parquet(f"{src}/*"))
    stats: list[dict] = []
    q = start_hybrid_ingest_stream(
        stream, lsh_path=lsh, bm25_path=bm25, ivf_path=ivf,
        chunks_path=chunks_out, checkpoint=str(tmp_path / "ckpt"),
        embed=embed, chunk_tokens=32, overlap=4, stats=stats)
    q.awaitTermination(180)
    assert len(stats) == 3 and all(s["wall_s"] > 0 for s in stats)
    # the first stream batch's five verbatim seed repeats (docs
    # 45-49) were gated out
    assert stats[0]["survivors"] <= stats[0]["docs_in"] - 5

    emb = (spark.read.parquet(f"{ivf}/vectors")
           .select("vec_id", "v").distinct().localCheckpoint())
    _d = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x)
    queries = (emb.orderBy("vec_id").limit(8)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("v").alias("qv"))
               .withColumn("qnrm", F.sqrt(_d("qv", "qv")))
               .localCheckpoint())
    got = search_index(spark, ivf, queries, n_probe=2, top_k=5)
    corpus = emb.withColumn("nrm", F.sqrt(_d("v", "v")))
    dots = (corpus.crossJoin(F.broadcast(queries))
            .filter(F.col("vec_id") != F.col("q_id"))
            .select("q_id", "vec_id",
                    (_d("v", "qv") / (F.col("nrm") * F.col("qnrm")))
                    .alias("cos")))
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(),
                                           F.col("vec_id").asc())
    exact = (dots.withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") <= 5).select("q_id", "vec_id"))
    hits = (got.select("q_id", F.col("neighbor_id").alias("vec_id"))
            .join(exact, ["q_id", "vec_id"]).count())
    total = exact.count()
    assert total == 40
    assert hits / total >= 0.8, (hits, total)
