"""Persistent BM25 inverted index — the per-query lexical scorer
(operators/bm25.py) as an on-disk, incrementally-maintainable table,
the lexical twin of the persistent IVF index (operators/ivf_index.py)
and the other half a 100 TB hybrid-retrieval corpus actually needs:

  * ``<path>/postings``: (term, doc_id, tf, dl, positions) rows written
    ``partitionBy("tbucket")`` where ``tbucket = md5(term) % B`` —
    one directory per term shard, rows term-sorted within each file;
  * ``<path>/stats``: one (n_docs, sum_dl) row per append, partitioned
    by ``append_id`` — corpus size and total length sum exactly under
    SUM, so N/avgdl stay correct across any append history;
  * ``<path>/meta.json``: {n_buckets, id_col, postings_format}
    (crash-safe write_small_file; the format version guards appends
    and phrase probes against pre-positional layouts).

Why partition-by-term-bucket is the point: a query touches only its
own terms' buckets, and because the bucket is computed DRIVER-SIDE
from md5 (the engine-portable hash of functions/text.py, mirrored
here in pure Python — zero Spark jobs to locate a term), the probe
filters with ``tbucket IN (...)`` — static partition pruning at the
file level, so a B=256-shard index reads ~|terms|/B of the postings
bytes per query. Within a bucket, ``term IN (...)`` pushes into the
parquet scan and the term-sorted files keep row-group min/max stats
tight — file skipping applied to lexical search, the same lever as
the IVF index's bucket pruning applied to ANN.

Scoring parity: the probe assembles the SAME columns the per-query
scorer builds (per-term ``_tf{i}``/``_df{i}``, ``dl``, ``n_docs``,
``avgdl``) and applies the SHARED ``fold_scores`` expression
(operators/bm25.py), so ``search_bm25_index`` ≡ ``bm25_rank`` over
the indexed corpus BITWISE (tested) — tf/df/N/Σdl are integers that
survive storage exactly, and the float fold is one code path.

Incremental maintenance: ``append_to_bm25_index`` appends the new
documents' postings partitions and ONE stats row — no rewrite of
existing lists; per-term df is derived at probe time from the probed
postings themselves, so it is always consistent with the appended
corpus. Append ≡ one-shot build (tested). The hybrid ingest
(streaming/hybrid_ingest.py) runs the same append per micro-batch
keyed ``append_id=b{batch_id}``: the stats write is
dynamic-partition-overwrite (replay-idempotent), and a replayed
batch's duplicate postings rows are collapsed by the probe's
``dropDuplicates(term, doc_id)`` over bitwise-identical rows —
results are replay-stable. ``compact_bm25_index`` bounds
fragmentation via the shared selective compaction
(operators/compaction.py), re-sorting rewritten buckets by term.

The index build DOES explode the corpus into (doc, term) pairs — the
one-time cost any inverted index pays, amortized over every query
(bm25_scores pays two corpus scans PER QUERY instead; the measured
crossover is immediate for a served corpus, scripts/
bm25_index_study.py).

Reference analog: none — §2.3 extension surface (SURVEY.md §2.3).
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from myhadoop_spark.fsutil import read_small_file, write_small_file
from myhadoop_spark.functions.text import hash_bucket, tokens
from myhadoop_spark.operators.bm25 import B, K1, fold_scores
from myhadoop_spark.operators.compaction import compact_partitions

MAX_ROWS_PER_FILE = 1_000_000


def term_bucket_py(term: str, n_buckets: int) -> int:
    """Driver-side term shard: first 8 md5 hex digits mod B — the
    engine-portable content hash (functions/text.py::hash_bucket),
    computable without a Spark job."""
    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8],
               16) % n_buckets


def term_bucket_col(col, n_buckets: int):
    """The same shard as a JVM-side expression — the CANONICAL
    engine-portable hash (functions/text.py::hash_bucket), not a
    re-implementation, so the driver-side parity (pinned in
    tests/test_bm25_index.py) can't drift."""
    return hash_bucket(col, n_buckets).cast("int")


def _postings(docs: DataFrame, n_buckets: int, id_col: str,
              text_col: str) -> DataFrame:
    """(doc_id, dl, term, tf, positions, tbucket) — POSITIONAL
    postings: the sorted 0-based token positions per (term, doc) make
    the index answer phrase queries (``phrase_search_index``), not
    just bag-of-words scoring; tf stays a separate column so the BM25
    probe's bitwise score parity is untouched."""
    toks = docs.select(F.col(id_col).alias("doc_id"),
                       tokens(text_col).alias("_toks"))
    return (toks
            .select("doc_id", F.size("_toks").alias("dl"),
                    F.posexplode("_toks").alias("pos", "term"))
            .groupBy("doc_id", "dl", "term")
            .agg(F.count(F.lit(1)).alias("tf"),
                 F.sort_array(F.collect_list("pos")).alias("positions"))
            .withColumn("tbucket", term_bucket_col(F.col("term"),
                                                   n_buckets)))


def _write_postings(posts: DataFrame, path: str, mode: str) -> None:
    # repartition on the shard → each bucket wholly in one task (one
    # file per bucket per write — the IVF lists' co-location lesson,
    # ivf_compact_study.tsv); term-sort within so row-group term
    # min/max stats are tight for the probe's term-IN pushdown
    (posts.repartition("tbucket").sortWithinPartitions("term")
     .write.partitionBy("tbucket")
     .option("maxRecordsPerFile", MAX_ROWS_PER_FILE)
     .mode(mode).parquet(f"{path}/postings"))


def _batch_stats(docs: DataFrame, append_id: str,
                 text_col: str) -> DataFrame:
    """One (n_docs, sum_dl, append_id) row — empty documents count in
    n_docs and contribute 0 to sum_dl, matching the one-shot scorer's
    N/avgdl over the full corpus."""
    return (docs.select(F.size(tokens(text_col)).alias("dl"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.coalesce(F.sum("dl"), F.lit(0)).alias("sum_dl"))
            .withColumn("append_id", F.lit(append_id)))


def build_bm25_index(docs: DataFrame, path: str, *,
                     n_buckets: int = 64, id_col: str = "doc_id",
                     text_col: str = "text") -> None:
    """Tokenize, invert, and shard the corpus; write the index tables.
    Overwrites any existing index at ``path``."""
    spark = docs.sparkSession
    write_small_file(spark, f"{path}/meta.json",
                     json.dumps({"n_buckets": n_buckets,
                                 "id_col": id_col,
                                 "postings_format": 2}))
    # full (non-dynamic) overwrite clears any stale index state
    (_batch_stats(docs, "base", text_col)
     .coalesce(1).write.partitionBy("append_id")
     .mode("overwrite").parquet(f"{path}/stats"))
    _write_postings(_postings(docs, n_buckets, id_col, text_col),
                    path, "overwrite")


def _load_meta(spark: SparkSession, path: str) -> dict:
    raw = read_small_file(spark, f"{path}/meta.json")
    if raw is None:
        raise FileNotFoundError(f"no BM25 index at {path}")
    return json.loads(raw)


def append_to_bm25_index(new_docs: DataFrame, path: str, *,
                         append_id: str | None = None,
                         text_col: str = "text") -> str:
    """Append the new documents' postings partitions and one stats row
    — existing lists untouched, df/N/avgdl correct by derivation.
    ``append_id`` must be unique per logical append (the streaming
    face keys it by batch id for replay idempotence); autoderived from
    the stats listing when omitted, and RETURNED either way.

    Crash/retry contract: the postings append and the stats write are
    two writes, so a crash between them leaves the index mis-scored
    (df without matching N) until the append is RETRIED — always with
    the SAME append_id (the return value; persist it before calling if
    the caller itself can crash). A same-id retry is exactly
    idempotent: the stats row is a dynamic partition overwrite, and
    the retried postings rows are bitwise duplicates the probe's
    dropDuplicates collapses. Retrying under a NEW id would instead
    double-count that batch in n_docs/sum_dl permanently."""
    from myhadoop_spark.fsutil import list_partition_dirs

    spark = new_docs.sparkSession
    meta = _load_meta(spark, path)
    if meta.get("postings_format", 1) != 2:
        raise ValueError(
            f"index at {path} predates the positional postings layout "
            "(format 2) — appending mixed schemas would make position "
            "columns read as NULL nondeterministically; rebuild with "
            "build_bm25_index")
    if append_id is None:
        existing = {v for v, _ in
                    list_partition_dirs(spark, f"{path}/stats",
                                        "append_id")}
        i = len(existing)
        while f"a{i}" in existing:
            i += 1
        append_id = f"a{i}"
    _write_postings(_postings(new_docs, meta["n_buckets"],
                              meta["id_col"], text_col),
                    path, "append")
    (_batch_stats(new_docs, append_id, text_col)
     .coalesce(1).write.partitionBy("append_id")
     .option("partitionOverwriteMode", "dynamic")
     .mode("overwrite").parquet(f"{path}/stats"))
    return append_id


def search_bm25_index(spark: SparkSession, path: str,
                      query_terms: list[str], *, top_k: int = 10,
                      k1: float = K1, b: float = B) -> DataFrame:
    """(id, score, rn): the top_k documents by BM25 over the indexed
    corpus — bitwise equal to ``bm25_rank`` on the same documents.
    Reads ONLY the query terms' bucket directories (buckets computed
    driver-side, zero Spark jobs before the returned plan executes)
    plus the tiny stats table."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    meta = _load_meta(spark, path)
    buckets = sorted({term_bucket_py(t, meta["n_buckets"])
                      for t in query_terms})
    posts = (spark.read.parquet(f"{path}/postings")
             .filter(F.col("tbucket").isin(buckets)
                     & F.col("term").isin(query_terms))
             .dropDuplicates(["term", "doc_id"]))

    # corpus stats: integer sums over the per-append rows — exactly
    # the one-shot scorer's count/sum, then the identical double casts
    corpus = (spark.read.parquet(f"{path}/stats")
              .agg(F.sum("n_docs").alias("_n"),
                   F.sum("sum_dl").alias("_s"))
              .select(F.col("_n").cast("double").alias("n_docs"),
                      (F.col("_s").cast("double")
                       / F.col("_n").cast("double")).alias("avgdl")))
    # per-term df from the probed postings themselves: one row per
    # (term, doc) ⇒ row count per term IS the document frequency
    dfs = posts.agg(*[
        F.sum((F.col("term") == F.lit(t)).cast("long")).cast("double")
        .alias(f"_df{i}") for i, t in enumerate(query_terms)])

    base = posts.groupBy("doc_id", "dl").agg(*[
        F.max(F.when(F.col("term") == F.lit(t), F.col("tf")))
        .cast("double").alias(f"_tf{i}")
        for i, t in enumerate(query_terms)])

    score, _ = fold_scores(len(query_terms), k1, b)
    id_col = meta["id_col"]
    scored = (base.crossJoin(F.broadcast(dfs))
              .crossJoin(F.broadcast(corpus))
              .select(F.col("doc_id").alias(id_col),
                      score.alias("score")))
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= top_k))


def phrase_search_index(spark: SparkSession, path: str,
                        phrase: list[str]) -> DataFrame:
    """(id, n_occurrences): documents containing the exact consecutive
    token ``phrase``, with occurrence counts — answered FROM THE INDEX
    (positional postings), reading only the phrase terms' shard
    directories like the BM25 probe. An occurrence at position p means
    term i sits at p+i for every i; computed as one conditional-agg
    pivot of the probed postings into per-term position arrays, then a
    narrow array intersection — no join per phrase term. Equals the
    direct from-text count (queries/phrase.py::count_phrase_col)
    exactly (tested)."""
    if not phrase:
        raise ValueError("phrase must be non-empty")
    meta = _load_meta(spark, path)
    if meta.get("postings_format", 1) != 2:
        raise ValueError(
            f"index at {path} has no positional postings (format "
            f"{meta.get('postings_format', 1)}) — rebuild with "
            "build_bm25_index to enable phrase search")
    buckets = sorted({term_bucket_py(t, meta["n_buckets"])
                      for t in phrase})
    posts = (spark.read.parquet(f"{path}/postings")
             .filter(F.col("tbucket").isin(buckets)
                     & F.col("term").isin(list(set(phrase))))
             .dropDuplicates(["term", "doc_id"]))
    terms = sorted(set(phrase))
    per_doc = posts.groupBy("doc_id").agg(*[
        F.first(F.when(F.col("term") == F.lit(t), F.col("positions")),
                ignorenulls=True).alias(f"_p{i}")
        for i, t in enumerate(terms)])
    pos_of = {t: F.col(f"_p{terms.index(t)}") for t in set(phrase)}
    # anchor on the first term's positions; an occurrence survives if
    # every later phrase slot's position list contains p + offset
    anchor = F.coalesce(pos_of[phrase[0]],
                        F.array().cast("array<int>"))

    def _match(p):
        m = None
        for off, t in enumerate(phrase[1:], start=1):
            c = F.array_contains(
                F.coalesce(pos_of[t], F.array().cast("array<int>")),
                p + off)
            m = c if m is None else (m & c)
        return m if m is not None else F.lit(True)

    n_occ = F.size(F.filter(anchor, _match))
    id_col = meta["id_col"]
    return (per_doc.select(F.col("doc_id").alias(id_col),
                           n_occ.alias("n_occurrences"))
            .filter(F.col("n_occurrences") > 0))


def compact_bm25_index(spark: SparkSession, path: str, *,
                       max_files_per_bucket: int = 4) -> dict:
    """Selective partition-pruned rewrite of fragmented posting
    shards, term-sorted — search bit-identical across a compaction
    (tested). Returns {compacted_buckets, files_before, files_after}."""
    stats = compact_partitions(spark, f"{path}/postings", "tbucket",
                               max_files_per_part=max_files_per_bucket,
                               max_rows_per_file=MAX_ROWS_PER_FILE,
                               sort_cols=("term",))
    return {"compacted_buckets": stats["compacted_parts"],
            "files_before": stats["files_before"],
            "files_after": stats["files_after"]}
