"""Percolation (operators/percolate.py): boolean should-clause
semantics, plan shape (query side broadcast, corpus never shuffles
its token stream), stream ≡ batch, replay idempotence."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from myhadoop_spark.catalog import load
from myhadoop_spark.operators.percolate import (
    percolate_docs,
    start_percolate_stream,
)
from tests.conftest import SF_SMOKE


def _queries(spark):
    return spark.createDataFrame(
        [(1, ["alpha", "beta", "gamma"], 2),
         (2, ["delta", "delta", "epsilon"], 2),   # dup term counts once
         (3, ["missing_zzz"], 1)],
        "query_id int, terms array<string>, min_should_match int")


def test_should_clause_semantics(spark):
    docs = spark.createDataFrame(
        [(0, "alpha beta other"),          # q1: 2/3 → match
         (1, "alpha alpha alpha"),          # q1: 1 distinct → no
         (2, "delta epsilon"),              # q2: both → match
         (3, "delta delta"),                # q2: dup query term once → no
         (4, "")],
        "doc_id long, text string")
    got = {(r.doc_id, r.query_id): r.n_matched
           for r in percolate_docs(docs, _queries(spark)).collect()}
    assert got == {(0, 1): 2, (2, 2): 2}


def test_plan_broadcasts_queries_no_corpus_shuffle(spark):
    """The standing-query side must broadcast; the only hash exchange
    is the per-(doc, query) match count — bounded by hits, never a
    shuffle of the corpus token stream."""
    docs = load(spark, SF_SMOKE, "documents")
    plan_df = percolate_docs(docs, _queries(spark))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        plan_df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    assert "CartesianProduct" not in plan, plan


def test_stream_equals_batch_and_replay(spark, tmp_path):
    docs = (load(spark, SF_SMOKE, "documents")
            .select("doc_id", "text").localCheckpoint())
    queries = spark.createDataFrame(
        [(1, ["scan", "column", "window"], 2),
         (2, ["join", "merge", "hash", "sort"], 3)],
        "query_id int, terms array<string>, min_should_match int")
    want = {(r.doc_id, r.query_id, r.n_matched)
            for r in percolate_docs(docs, queries).collect()}

    src = str(tmp_path / "src")
    half = docs.count() // 2
    docs.filter(F.col("doc_id") < half).coalesce(1).write.parquet(
        f"{src}/b0")
    docs.filter(F.col("doc_id") >= half).coalesce(1).write.parquet(
        f"{src}/b1")
    out = str(tmp_path / "alerts")
    stream = (spark.readStream.schema("doc_id bigint, text string")
              .option("maxFilesPerTrigger", 1).parquet(f"{src}/*"))
    q = start_percolate_stream(stream, queries, out_path=out,
                               checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = {(r.doc_id, r.query_id, r.n_matched)
           for r in spark.read.parquet(out).collect()}
    assert got == want and got

    # replay of a batch overwrites the same directory — idempotent
    batch0 = docs.filter(F.col("doc_id") < half)
    (percolate_docs(batch0, queries).write.mode("overwrite")
     .parquet(f"{out}/batch_id=0"))
    again = {(r.doc_id, r.query_id, r.n_matched)
             for r in spark.read.parquet(out).collect()}
    assert again == want

def test_min_should_match_below_one_rejected(spark):
    import pytest

    docs = spark.createDataFrame([(0, "alpha beta")],
                                 "doc_id long, text string")
    bad = spark.createDataFrame([(1, ["alpha"], 0)],
                                "query_id int, terms array<string>, "
                                "min_should_match int")
    with pytest.raises(Exception, match="min_should_match"):
        percolate_docs(docs, bad).collect()


def _phrase_queries(spark):
    return spark.createDataFrame(
        [("p1", ["alpha", "beta"]),
         ("p2", ["beta", "alpha", "beta"]),
         ("p3", ["zzz_missing", "alpha"])],
        "query_id string, phrase array<string>")


def test_phrase_semantics_and_counts(spark):
    from myhadoop_spark.operators.percolate import percolate_phrases

    docs = spark.createDataFrame(
        [(0, "alpha beta alpha beta"),     # p1 x2, p2 ("beta alpha beta") x1
         (1, "beta alpha"),                # contains both terms, wrong order
         (2, "alpha x beta"),              # not consecutive
         (3, "alpha beta"),                # p1 x1
         (4, "")],
        "doc_id long, text string")
    got = {(r.doc_id, r.query_id): r.n_occurrences
           for r in percolate_phrases(docs, _phrase_queries(spark))
           .collect()}
    assert got == {(0, "p1"): 2, (0, "p2"): 1, (3, "p1"): 1}


def test_phrase_plan_is_corpus_exchange_free(spark):
    """The phrase percolator's corpus side: explode + broadcast hash
    join + in-place verify — ZERO exchanges other than the query-side
    broadcast (no groupBy, no re-join by doc_id)."""
    from myhadoop_spark.operators.percolate import percolate_phrases

    docs = load(spark, SF_SMOKE, "documents")
    plan_df = percolate_phrases(docs, _phrase_queries(spark))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        plan_df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_phrase_rarest_anchor_same_output(spark):
    """Anchor choice (first term vs rarest-by-df) bounds candidate
    volume only — the positional verify makes outputs identical."""
    from myhadoop_spark.operators.percolate import percolate_phrases

    docs = (load(spark, SF_SMOKE, "documents")
            .select("doc_id", "text").localCheckpoint())
    queries = spark.createDataFrame(
        [("p1", ["part", "filter"]), ("p2", ["table", "key", "scan"])],
        "query_id string, phrase array<string>")
    # df table from the corpus itself (the BM25-index shape)
    from myhadoop_spark.functions.text import tokens

    term_df = (docs.select(F.explode(F.array_distinct(tokens("text")))
                           .alias("term"))
               .groupBy("term").agg(F.count(F.lit(1)).alias("df"))
               .localCheckpoint())
    base = {(r.doc_id, r.query_id, r.n_occurrences)
            for r in percolate_phrases(docs, queries).collect()}
    rare = {(r.doc_id, r.query_id, r.n_occurrences)
            for r in percolate_phrases(docs, queries, term_df=term_df)
            .collect()}
    assert base == rare and base


def test_phrase_stream_equals_batch_and_replay(spark, tmp_path):
    from myhadoop_spark.operators.percolate import (
        percolate_phrases,
        start_phrase_percolate_stream,
    )

    docs = (load(spark, SF_SMOKE, "documents")
            .select("doc_id", "text").localCheckpoint())
    queries = spark.createDataFrame(
        [("p1", ["part", "filter"]), ("p2", ["table", "key"])],
        "query_id string, phrase array<string>")
    want = {(r.doc_id, r.query_id, r.n_occurrences)
            for r in percolate_phrases(docs, queries).collect()}

    src = str(tmp_path / "src")
    half = docs.count() // 2
    docs.filter(F.col("doc_id") < half).coalesce(1).write.parquet(
        f"{src}/b0")
    docs.filter(F.col("doc_id") >= half).coalesce(1).write.parquet(
        f"{src}/b1")
    out = str(tmp_path / "alerts")
    stream = (spark.readStream.schema("doc_id bigint, text string")
              .option("maxFilesPerTrigger", 1).parquet(f"{src}/*"))
    q = start_phrase_percolate_stream(stream, queries, out_path=out,
                                      checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = {(r.doc_id, r.query_id, r.n_occurrences)
           for r in spark.read.parquet(out).collect()}
    assert got == want and got

    # replay overwrites its own batch directory — idempotent
    batch0 = docs.filter(F.col("doc_id") < half)
    (percolate_phrases(batch0, queries).write.mode("overwrite")
     .parquet(f"{out}/batch_id=0"))
    again = {(r.doc_id, r.query_id, r.n_occurrences)
             for r in spark.read.parquet(out).collect()}
    assert again == want


def test_phrase_empty_rejected(spark):
    import pytest

    from myhadoop_spark.operators.percolate import percolate_phrases

    docs = spark.createDataFrame([(0, "alpha beta")],
                                 "doc_id long, text string")
    bad = spark.createDataFrame([("p1", ["alpha"]), ("p2", [])],
                                "query_id string, phrase array<string>")
    with pytest.raises(Exception, match="empty phrase"):
        percolate_phrases(docs, bad).collect()
