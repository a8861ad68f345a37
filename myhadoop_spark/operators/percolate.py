"""Percolation — reverse search: STANDING queries stored as data,
matched against every incoming document (the Elasticsearch
percolator / alerting shape). A search engine asks "which documents
match this query?"; a percolator asks "which of my saved queries does
this document match?" — the primitive behind alert subscriptions,
routing rules, and compliance watchlists over a document firehose.

Model: a query is (query_id, terms array, min_should_match) — a doc
matches when at least ``min_should_match`` DISTINCT query terms occur
in its token stream (the boolean should-clause semantics).

PHRASE percolation (``percolate_phrases``, r8): a standing query is
(query_id, phrase array) and a doc triggers when the exact
CONSECUTIVE phrase occurs — the most common real percolator use
(exact-phrase alerts). Same scale shape: each phrase is broadcast
with one ANCHOR term (its first, or its globally-rarest when a
(term, df) table is supplied — the max_df discipline applied to
alerting); the document side explodes DISTINCT tokens while CARRYING
its token array, hash-joins the broadcast anchors (narrow), and
verifies candidates in place with the positional phrase counter
(queries/phrase.py semantics generalized to an array-vs-array
expression) — no groupBy, no re-join, ZERO corpus-side exchanges
(plan-asserted). Candidate volume is bounded by anchor hits, which
the rarest-anchor option minimizes.

Scale shape: the standing-query table is SMALL (thousands of alerts
vs a 100 TB corpus / unbounded stream) — exploded to (term, query_id)
and BROADCAST, so the document side never shuffles its token stream:
distinct doc tokens explode, hash-join the broadcast term table
(narrow), and only MATCHING (doc, query, term) rows — bounded by hit
volume, not corpus size — enter the per-(doc, query) count shuffle.
The final threshold compares against each query's stored term count.

Streaming face: per-document verdicts are independent across batches
(no cross-batch state), so ``start_percolate_stream`` is a stateless
foreachBatch emit — replay overwrites the same batch directory (the
bloom_ingest idiom), exactly idempotent.

Determinism: token matching is the corpus tokenization convention
(whitespace split), counts are integers — the DuckDB differential
(`percolate`, ungated) matches bitwise.

Reference analog: none — §2.3 extension surface (SURVEY.md §2.3);
the Elasticsearch percolate-query pattern, re-expressed as a
broadcast join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from myhadoop_spark.functions.text import tokens


def _doctokens(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    # the repo's ONE tokenization convention (operators/bm25.py) — a
    # local copy would silently desynchronize percolation verdicts
    # from the indexes built over the same corpus
    return docs.select(F.col(id_col).alias("doc_id"),
                       F.explode(F.array_distinct(tokens(text_col)))
                       .alias("term"))


def percolate_docs(docs: DataFrame, queries: DataFrame, *,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """(doc_id, query_id, n_matched): which standing queries each
    document triggers. ``queries`` needs (query_id, terms
    array<string>, min_should_match int); duplicate terms within a
    query count once (distinct-term semantics on both sides)."""
    # a row-level guard, not a driver collect: min_should_match < 1
    # would claim "match everything" semantics this join-based plan
    # cannot express (docs sharing no term produce no row) — reject
    # loudly instead of silently under-matching. The guard lives
    # INSIDE the used column (an assert_true on a dropped column gets
    # column-pruned away and never evaluates).
    msm = F.when(F.col("min_should_match") >= 1,
                 F.col("min_should_match")).otherwise(
        F.raise_error(F.concat(
            F.lit("percolate: min_should_match must be >= 1 (a "
                  "threshold of 0 would match every document — "
                  "filter nothing instead); got "),
            F.col("min_should_match").cast("string"))))
    q_terms = (queries.select(
        "query_id", msm.alias("min_should_match"),
        F.explode(F.array_distinct("terms")).alias("term")))
    hits = (_doctokens(docs, id_col, text_col)
            .join(F.broadcast(q_terms), "term")
            .groupBy("doc_id", "query_id", "min_should_match")
            .agg(F.count(F.lit(1)).alias("n_matched")))
    return (hits.filter(F.col("n_matched") >= F.col("min_should_match"))
            .select("doc_id", "query_id", "n_matched"))


def _count_phrase_arr(toks, phrase):
    """Occurrences of the CONSECUTIVE ``phrase`` (array column) inside
    ``toks`` (array column) — the dynamic twin of
    queries/phrase.py::count_phrase_col (that one takes a Python-list
    phrase and unrolls; this one keeps the phrase as data so ONE
    expression serves every standing query in the broadcast table).
    Pure built-ins, shuffle-free. Empty phrases are rejected in the
    expression (a row-level guard inside the used column — the
    assert_true-on-dropped-column trap)."""
    k = F.size(phrase)
    anchors = F.when(F.size(toks) >= k,
                     F.sequence(F.lit(1), F.size(toks) - k + 1)
                     ).otherwise(F.array().cast("array<int>"))
    match = lambda i: F.forall(  # noqa: E731 — a named def can't close over i
        F.sequence(F.lit(1), k),
        lambda j: F.element_at(toks, (i + j - 1).cast("int"))
        == F.element_at(phrase, j.cast("int")))
    return F.size(F.filter(anchors, match))


def percolate_phrases(docs: DataFrame, queries: DataFrame, *,
                      id_col: str = "doc_id",
                      text_col: str = "text",
                      term_df: DataFrame | None = None) -> DataFrame:
    """(doc_id, query_id, n_occurrences): which standing PHRASE
    queries each document triggers, with exact consecutive-occurrence
    counts. ``queries`` needs (query_id, phrase array<string>).

    ``term_df`` (term, df) — e.g. the postings document frequencies
    from a BM25 index — picks each phrase's RAREST term as its anchor
    instead of its first, shrinking the candidate fan on corpora where
    leading phrase words are stopword-ish. Anchor choice never changes
    output (every candidate is positionally verified); it only bounds
    the rows entering verification."""
    # row-level guard ON THE QUERY SIDE: an empty phrase would match
    # everything under "count occurrences" semantics and, worse, its
    # null/absent anchor would make it silently match NOTHING — reject
    # loudly. The guard lives in the used phrase column (every standing
    # row materializes into the broadcast, so it always evaluates; a
    # verify-side guard would be unreachable — no anchor, no row).
    queries = queries.select(
        "query_id",
        F.when(F.size("phrase") >= 1, F.col("phrase")).otherwise(
            F.raise_error(F.concat(
                F.lit("percolate_phrases: empty phrase (query_id="),
                F.col("query_id").cast("string"),
                F.lit(") matches everything — filter nothing instead")))
        ).alias("phrase"))
    if term_df is not None:
        ex = queries.select("query_id", "phrase",
                            F.explode("phrase").alias("term"))
        ranked = (ex.join(term_df, "term", "left")
                  .withColumn("df", F.coalesce(F.col("df"), F.lit(0)))
                  .withColumn("_rn", F.row_number().over(
                      Window.partitionBy("query_id")
                      .orderBy(F.col("df").asc(), F.col("term").asc()))))
        q = (ranked.filter(F.col("_rn") == 1)
             .select("query_id", "phrase", F.col("term").alias("anchor")))
    else:
        q = queries.select("query_id", "phrase",
                           F.element_at("phrase", 1).alias("anchor"))
    cand = (docs.select(F.col(id_col).alias("doc_id"),
                        tokens(text_col).alias("_toks"))
            .select("doc_id", "_toks",
                    F.explode(F.array_distinct("_toks")).alias("term"))
            .join(F.broadcast(q.withColumnRenamed("anchor", "term")),
                  "term"))
    return (cand.select(
        "doc_id", "query_id",
        _count_phrase_arr(F.col("_toks"), F.col("phrase"))
        .alias("n_occurrences"))
        .filter(F.col("n_occurrences") > 0))


def start_phrase_percolate_stream(stream_docs: DataFrame,
                                  queries: DataFrame, *,
                                  out_path: str, checkpoint: str,
                                  id_col: str = "doc_id",
                                  text_col: str = "text",
                                  term_df: DataFrame | None = None):
    """Phrase-alert firehose: match every micro-batch against the
    standing phrases and land alerts under ``<out_path>/batch_id=N``
    (overwritten on replay — per-doc verdicts carry no cross-batch
    state, so replay is exactly idempotent, the same contract as
    start_percolate_stream)."""

    def _process(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        (percolate_phrases(batch, queries, id_col=id_col,
                           text_col=text_col, term_df=term_df)
         .write.mode("overwrite")
         .parquet(f"{out_path}/batch_id={batch_id}"))

    return (stream_docs.writeStream
            .foreachBatch(_process)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def start_percolate_stream(stream_docs: DataFrame, queries: DataFrame, *,
                           out_path: str, checkpoint: str,
                           id_col: str = "doc_id",
                           text_col: str = "text"):
    """Match every micro-batch against the standing queries and land
    the alerts under ``<out_path>/batch_id=N`` (overwritten on replay
    — per-doc verdicts carry no cross-batch state, so replay is
    exactly idempotent)."""

    def _process(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        (percolate_docs(batch, queries, id_col=id_col,
                        text_col=text_col)
         .write.mode("overwrite")
         .parquet(f"{out_path}/batch_id={batch_id}"))

    return (stream_docs.writeStream
            .foreachBatch(_process)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())
