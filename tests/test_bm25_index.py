"""Persistent BM25 inverted index (operators/bm25_index.py): probe ≡
per-query bm25_rank BITWISE, partition-pruned + pushed-down probe
scans, append ≡ one-shot build and compaction search-equality. The
streamed append is checked in tests/test_hybrid_ingest.py."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from myhadoop_spark.operators.bm25 import bm25_rank
from myhadoop_spark.operators.bm25_index import (
    append_to_bm25_index,
    build_bm25_index,
    compact_bm25_index,
    search_bm25_index,
    term_bucket_col,
    term_bucket_py,
)
from tests.test_bm25 import TERMS, _fixture_docs
import pytest

QUERIES = [TERMS, ["alpha", "zzz_absent"], ["beta"]]

_VOCAB = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta",
          "eta", "theta", "iota", "kappa"]


def _corpus(spark, n=60, offset=0):
    """Deterministic synthetic corpus over a small vocabulary —
    every doc id maps to a reproducible word multiset."""
    rows = [(i, " ".join(_VOCAB[(i * j) % len(_VOCAB)]
                         for j in range(1 + i % 7)))
            for i in range(offset, offset + n)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _res(df, id_col="doc_id"):
    return {getattr(r, id_col): (r.score, r.rn) for r in df.collect()}


def test_term_bucket_python_spark_parity(spark):
    vocab = ["alpha", "beta", "pad7", "naïve", "東京",
             "x" * 40, "a b", "0"]
    df = spark.createDataFrame([(t,) for t in vocab], "term string")
    got = {r.term: r.b for r in
           df.select("term", term_bucket_col(F.col("term"), 64)
                     .alias("b")).collect()}
    assert got == {t: term_bucket_py(t, 64) for t in vocab}


def test_search_equals_bm25_rank_bitwise(spark, tmp_path):
    """The index probe must reproduce the per-query scorer's scores
    and ranks EXACTLY — including a query term absent from the corpus
    (df=0) and empty / non-matching docs counting in N and avgdl."""
    docs = _fixture_docs(spark)
    path = str(tmp_path / "idx")
    build_bm25_index(docs, path, n_buckets=16)
    for terms in QUERIES:
        want = _res(bm25_rank(docs, terms, top_k=5))
        got = _res(search_bm25_index(spark, path, terms, top_k=5))
        assert got == want, terms
        assert got  # non-degenerate


def test_probe_scan_is_pruned_and_pushed(spark, tmp_path):
    """The query terms' bucket set must reach the postings scan as a
    PARTITION filter (only those shard directories are read) and the
    term-IN predicate as a PushedFilter (row-group skipping inside a
    shard, helped by the term-sorted file layout)."""
    docs = _fixture_docs(spark)
    path = str(tmp_path / "idx")
    build_bm25_index(docs, path, n_buckets=16)
    plan_io = io.StringIO()
    with contextlib.redirect_stdout(plan_io):
        search_bm25_index(spark, path, TERMS).explain("formatted")
    plan = plan_io.getvalue()
    part = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("tbucket" in ln for ln in part), plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("term" in ln for ln in pushed), plan


@pytest.mark.slow  # r14: heavy parity battery (fast twin stays in the default tier)
def test_append_equals_one_shot_build(spark, tmp_path):
    docs = _corpus(spark)
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    inc, one = str(tmp_path / "inc"), str(tmp_path / "one")
    build_bm25_index(half_a, inc, n_buckets=8)
    append_to_bm25_index(half_b, inc)
    build_bm25_index(docs, one, n_buckets=8)
    for terms in QUERIES:
        want = _res(bm25_rank(docs, terms, top_k=8))
        assert _res(search_bm25_index(spark, inc, terms, top_k=8)) == want
        assert _res(search_bm25_index(spark, one, terms, top_k=8)) == want


def test_compaction_preserves_search(spark, tmp_path):
    from myhadoop_spark.fsutil import count_data_files, list_partition_dirs

    docs = _corpus(spark, n=120).localCheckpoint()
    path = str(tmp_path / "idx")
    build_bm25_index(docs.filter(F.col("doc_id") % 6 == 0), path,
                     n_buckets=4)
    for r in range(1, 6):
        append_to_bm25_index(docs.filter(F.col("doc_id") % 6 == r), path)

    dirs = [u for _, u in
            list_partition_dirs(spark, f"{path}/postings", "tbucket")]
    frag_files = count_data_files(spark, dirs)
    assert frag_files > len(dirs) * 4  # genuinely fragmented

    before = _res(search_bm25_index(spark, path, TERMS, top_k=10))
    stats = compact_bm25_index(spark, path, max_files_per_bucket=4)
    assert stats["compacted_buckets"] >= 1
    assert stats["files_after"] == stats["compacted_buckets"]
    assert count_data_files(spark, dirs) < frag_files
    after = _res(search_bm25_index(spark, path, TERMS, top_k=10))
    assert after == before and after
    # and still the one-shot scorer's answer
    assert after == _res(bm25_rank(docs, TERMS, top_k=10))
    # idempotent
    assert compact_bm25_index(spark, path,
                              max_files_per_bucket=4)["compacted_buckets"] == 0


def test_error_faces(spark, tmp_path):
    import pytest

    with pytest.raises(FileNotFoundError):
        search_bm25_index(spark, str(tmp_path / "nope"), ["alpha"])
    docs = _fixture_docs(spark)
    path = str(tmp_path / "idx")
    build_bm25_index(docs, path, n_buckets=4)
    with pytest.raises(ValueError):
        search_bm25_index(spark, path, [])


def test_phrase_search_index_equals_direct_count(spark, tmp_path):
    """The positional-postings phrase answer must equal the direct
    from-text count (which itself carries the DuckDB oracle) — on the
    driver fixture and on crafted repeat/overlap cases."""
    from myhadoop_spark.catalog import load
    from myhadoop_spark.functions.text import tokens
    from myhadoop_spark.operators.bm25_index import phrase_search_index
    from myhadoop_spark.queries.phrase import PHRASE, count_phrase_col
    from tests.conftest import SF_SMOKE

    docs = load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    path = str(tmp_path / "idx")
    build_bm25_index(docs, path, n_buckets=16)
    want = {(r.doc_id, r.n_occurrences) for r in
            docs.select("doc_id", count_phrase_col(
                tokens("text"), PHRASE).alias("n_occurrences"))
            .filter(F.col("n_occurrences") > 0).collect()}
    got = {(r.doc_id, r.n_occurrences) for r in
           phrase_search_index(spark, path, PHRASE).collect()}
    assert got == want
    assert got  # the fixture phrase occurs — non-degenerate

    crafted = spark.createDataFrame(
        [(0, "a b a b a b"),        # overlapping bigram repeats -> 3
         (1, "a a a a"),            # phrase ["a","a"] -> 3
         (2, "b a"),                # reversed -> 0 for ["a","b"]
         (3, "a")],                 # too short
        "doc_id long, text string")
    cpath = str(tmp_path / "cidx")
    build_bm25_index(crafted, cpath, n_buckets=4)
    for phrase, want_map in [(["a", "b"], {0: 3}),
                             (["a", "a"], {1: 3}),
                             (["a"], {0: 3, 1: 4, 2: 1, 3: 1}),
                             (["zz", "a"], {})]:
        direct = {r.doc_id: r.n_occurrences for r in
                  crafted.select("doc_id", count_phrase_col(
                      tokens("text"), phrase).alias("n_occurrences"))
                  .filter(F.col("n_occurrences") > 0).collect()}
        assert direct == want_map, (phrase, direct)
        via_index = {r.doc_id: r.n_occurrences for r in
                     phrase_search_index(spark, cpath, phrase).collect()}
        assert via_index == want_map, (phrase, via_index)


def test_index_ranker_is_take_ordered(spark, tmp_path):
    """The top-k window on the index probe must compile to
    TakeOrderedAndProject (Spark's rank-limit rewrite: per-partition
    top-k, never a single-partition global sort) — pinned so a shape
    change can't silently regress the ranker at scale (r6 audit
    item)."""
    docs = _fixture_docs(spark)
    path = str(tmp_path / "idx")
    build_bm25_index(docs, path, n_buckets=16)
    plan_io = io.StringIO()
    with contextlib.redirect_stdout(plan_io):
        search_bm25_index(spark, path, TERMS, top_k=5).explain("formatted")
    plan = plan_io.getvalue()
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
