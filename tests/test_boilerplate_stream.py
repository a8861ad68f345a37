"""Streaming boilerplate stripping (streaming/boilerplate_stream):
single-batch stream ≡ one-shot batch operator (bitwise), the final df
table ≡ the corpus df table regardless of batching, arrival-order
semantics (a shingle strips only from the batch where it crosses
min_df onward), replay idempotence, and loud lineage/param guards.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from myhadoop_spark.operators.boilerplate import (
    boilerplate_grams,
    strip_boilerplate,
)
from myhadoop_spark.streaming.boilerplate_stream import (
    read_clean,
    read_df_table,
    start_boilerplate_stream,
)

CHROME = "nav home about contact"


def _batches(n_batches=3, per_batch=8):
    """Batch b, row i → doc (b*100+i). Every doc carries the chrome,
    plus unique filler, so the chrome's df grows by per_batch each
    batch."""
    out = []
    for b in range(n_batches):
        rows = [(b * 100 + i, f"{CHROME} u{b}_{i} v{b}_{i}")
                for i in range(per_batch)]
        out.append(rows)
    return out


def _write_src(spark, tmp_path, batches):
    src = str(tmp_path / "src")
    for rows in batches:
        (spark.createDataFrame(rows, "doc_id long, text string")
         .coalesce(1).write.mode("append").parquet(src))
    return src


def _run(spark, src, path, ckpt, *, min_df, n=2, stats=None,
         max_files=1):
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", max_files).parquet(src))
    q = start_boilerplate_stream(stream, path=path, checkpoint=ckpt,
                                 min_df=min_df, n=n, stats=stats)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        time.sleep(0.2)


def test_single_batch_stream_equals_one_shot(spark, tmp_path):
    batches = _batches(3)
    all_rows = [r for b in batches for r in b]
    src = _write_src(spark, tmp_path, [all_rows])  # ONE file = ONE batch
    path = str(tmp_path / "bp")
    _run(spark, src, path, str(tmp_path / "ck"), min_df=3,
         max_files=10)
    got = sorted(map(tuple,
                     read_clean(spark, path)
                     .select("doc_id", "n_removed", "clean_text")
                     .collect()))
    docs = spark.createDataFrame(all_rows, "doc_id long, text string")
    want = sorted(map(tuple,
                      strip_boilerplate(docs, n=2, min_df=3)
                      .select("doc_id", "n_removed", "clean_text")
                      .collect()))
    assert got == want
    # and the maintained table is the corpus df table
    tbl = sorted(map(tuple, read_df_table(spark, path).collect()))
    full = sorted(map(tuple,
                      boilerplate_grams(docs, n=2, min_df=1).collect()))
    assert tbl == full


def test_df_table_is_batching_invariant(spark, tmp_path):
    batches = _batches(3)
    all_rows = [r for b in batches for r in b]
    src = _write_src(spark, tmp_path, batches)
    path = str(tmp_path / "bp")
    stats: list = []
    _run(spark, src, path, str(tmp_path / "ck"), min_df=100,
         stats=stats)
    tbl = sorted(map(tuple, read_df_table(spark, path).collect()))
    docs = spark.createDataFrame(all_rows, "doc_id long, text string")
    full = sorted(map(tuple,
                      boilerplate_grams(docs, n=2, min_df=1).collect()))
    assert tbl == full
    # per-batch stats: vocab monotone, one entry per batch
    assert [s["batch"] for s in stats] == [0, 1, 2]
    assert all(a["vocab"] <= b["vocab"] for a, b in zip(stats, stats[1:]))


def test_arrival_order_strip_semantics(spark, tmp_path):
    """min_df = 12: the chrome (df += 8/batch) crosses the threshold
    during batch 1 — batch 0 keeps its chrome (not rewritten), batches
    1 and 2 are stripped of it."""
    src = _write_src(spark, tmp_path, _batches(3, per_batch=8))
    path = str(tmp_path / "bp")
    _run(spark, src, path, str(tmp_path / "ck"), min_df=12)
    by = {r.doc_id: r for r in read_clean(spark, path).collect()}
    chrome_tokens = len(CHROME.split())
    for doc_id, r in by.items():
        if doc_id < 100:  # batch 0: threshold not yet reached
            assert r.n_removed == 0 and CHROME in r.clean_text
        else:             # batch 1+: chrome is boilerplate now
            assert r.n_removed == chrome_tokens, (doc_id, r)
            assert CHROME not in r.clean_text


def test_replay_idempotent_and_guards(spark, tmp_path):
    src = _write_src(spark, tmp_path, _batches(2))
    path = str(tmp_path / "bp")
    _run(spark, src, path, str(tmp_path / "ck"), min_df=3)
    before = sorted(map(tuple, read_clean(spark, path).collect()))
    tbl_before = sorted(map(tuple, read_df_table(spark, path).collect()))

    from myhadoop_spark.streaming.versioned_state import read_meta
    last = read_meta(spark, path)["last_batch"]
    # re-run over the same source with the same checkpoint: no new
    # files → no-op; state and outputs unchanged
    _run(spark, src, path, str(tmp_path / "ck"), min_df=3)
    assert sorted(map(tuple, read_clean(spark, path).collect())) == before
    assert sorted(map(tuple,
                      read_df_table(spark, path).collect())) == tbl_before
    assert read_meta(spark, path)["last_batch"] == last

    # param change fails loudly on the same state path
    with pytest.raises(Exception, match="min_df"):
        _run(spark, src, path, str(tmp_path / "ck2"), min_df=5)


def test_last_batch_replay_is_idempotent_skip(spark, tmp_path):
    """A recovered checkpoint re-delivers the LAST batch with the same
    batch id: the processor must skip it without touching state — even
    when the replayed content WOULD have changed it (the strongest
    form of the idempotence contract)."""
    src = _write_src(spark, tmp_path, _batches(1))
    path = str(tmp_path / "bp")
    _run(spark, src, path, str(tmp_path / "ck"), min_df=3)
    before = sorted(map(tuple, read_clean(spark, path).collect()))
    tbl = sorted(map(tuple, read_df_table(spark, path).collect()))
    # a FRESH checkpoint over the same single file re-delivers batch 0
    # == the recorded watermark → idempotent skip, no error
    _run(spark, src, path, str(tmp_path / "ck_replay"), min_df=3)
    assert sorted(map(tuple, read_clean(spark, path).collect())) == before
    assert sorted(map(tuple, read_df_table(spark, path).collect())) == tbl


def test_lineage_rewind_fails_loudly(spark, tmp_path):
    batches = _batches(3)
    src = _write_src(spark, tmp_path, batches)
    path = str(tmp_path / "bp")
    _run(spark, src, path, str(tmp_path / "ck"), min_df=3)
    # a FRESH checkpoint restarts batch ids at 0 — below the watermark
    with pytest.raises(Exception,
                       match="different\\s+checkpoint lineage"):
        _run(spark, src, path, str(tmp_path / "ck_fresh"), min_df=3)


def test_bad_params_rejected(spark):
    stream_like = None
    with pytest.raises(ValueError):
        start_boilerplate_stream(stream_like, path="x", checkpoint="y",
                                 min_df=0)
