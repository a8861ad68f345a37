"""DSIR importance resampling (operators/dsir.py): pure-Python model
parity (same md5 hashing, same fold order; ln ulp-tolerant), bitwise
repartition invariance, selection semantics (target-like pool docs
outrank alien ones), and plan shape (broadcast ratio join, TakeOrdered
selection, no Python rows). The cross-engine DuckDB differential is
the gated query ``dsir_select`` (tests/test_correctness.py)."""

from __future__ import annotations

import contextlib
import hashlib
import io
from collections import Counter
from math import log

from pyspark.sql import functions as F

from myhadoop_spark.operators.dsir import (
    bucket_log_ratios,
    dsir_select,
    dsir_weights,
    doc_bucket_counts,
)

B = 128  # small bucket space so the tiny corpora collide a little

TARGET = [
    (0, "the cat sat on the mat"),
    (1, "the dog sat on the log"),
    (2, "a cat and a dog sat"),
    (3, ""),                        # empty target doc: contributes nothing
]
POOL = [
    (10, "the cat sat on the mat again"),     # target-like
    (11, "the dog and the cat"),              # target-like
    (12, "zebra quark flux boson lepton"),    # alien vocabulary
    (13, "sat"),                              # single token: no bigrams
    (14, ""),                                 # empty: dropped entirely
]


def _bucket(feat: str) -> int:
    return int(hashlib.md5(feat.encode()).hexdigest()[:8], 16) % B


def _feats(text: str) -> list[str]:
    ws = [w for w in text.split() if w]
    return ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]


def _py_model(target_rows, pool_rows):
    """The paper's estimator, bucket-count tables in plain Python."""
    ct: Counter = Counter()
    cr: Counter = Counter()
    for _, t in target_rows:
        ct.update(_bucket(f) for f in _feats(t))
    for _, t in pool_rows:
        cr.update(_bucket(f) for f in _feats(t))
    t_tot, r_tot = sum(ct.values()), sum(cr.values())
    out = {}
    for i, t in pool_rows:
        fs = _feats(t)
        if not fs:
            continue
        # fold c·lr per DISTINCT bucket in sorted order — the engine's
        # (and the oracle's) exact arithmetic
        doc_c = Counter(_bucket(f) for f in fs)
        core = 0.0
        for b in sorted(doc_c):
            core += doc_c[b] * (log(ct[b] + 1.0) - log(cr[b] + 1.0))
        out[i] = (len(fs),
                  core + len(fs) * (log(r_tot + B) - log(t_tot + B)))
    return out


def _dfs(spark):
    t = spark.createDataFrame(TARGET, "doc_id long, text string")
    p = spark.createDataFrame(POOL, "doc_id long, text string")
    return t, p


def test_python_model_parity(spark):
    t, p = _dfs(spark)
    t_cnt = doc_bucket_counts(t, buckets=B)
    p_cnt = doc_bucket_counts(p, buckets=B)
    model = bucket_log_ratios(t_cnt, p_cnt, buckets=B)
    got = {r["doc_id"]: (r["n_feats"], r["logw"])
           for r in dsir_weights(p_cnt, model).collect()}
    want = _py_model(TARGET, POOL)
    assert set(got) == set(want)
    for i, (n, w) in want.items():
        assert got[i][0] == n, (i, got[i], n)
        assert abs(got[i][1] - w) < 1e-9, (i, got[i][1], w)


def test_target_like_docs_outrank_alien(spark):
    t, p = _dfs(spark)
    ranked = [r["doc_id"]
              for r in dsir_select(t, p, k=4, buckets=B).collect()]
    # both target-like docs strictly above the alien-vocab doc
    assert ranked.index(10) < ranked.index(12)
    assert ranked.index(11) < ranked.index(12)


def test_repartition_invariance(spark):
    t, p = _dfs(spark)

    def run(tp, pp):
        t_cnt = doc_bucket_counts(tp, buckets=B)
        p_cnt = doc_bucket_counts(pp, buckets=B)
        m = bucket_log_ratios(t_cnt, p_cnt, buckets=B)
        return sorted(
            (r["doc_id"], r["n_feats"], r["logw"])
            for r in dsir_weights(p_cnt, m).collect())

    a = run(t, p)
    b = run(t.repartition(7), p.repartition(5))
    assert a == b  # bitwise: the fold order is partitioning-free


def test_plan_shape(spark):
    t, p = _dfs(spark)
    df = dsir_select(t, p, k=3, buckets=B)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "TakeOrderedAndProject" in plan, plan       # no global sort
    assert "BroadcastHashJoin" in plan, plan           # ratio join
    assert "BatchEvalPython" not in plan, plan         # no Python rows
    assert "CartesianProduct" not in plan, plan        # totals broadcast


def test_model_roundtrip_bitwise(spark, tmp_path):
    from myhadoop_spark.operators.dsir import (
        load_dsir_model,
        save_dsir_model,
    )

    t, p = _dfs(spark)
    t_cnt = doc_bucket_counts(t, buckets=B)
    p_cnt = doc_bucket_counts(p, buckets=B).localCheckpoint()
    model = bucket_log_ratios(t_cnt, p_cnt, buckets=B)
    before = sorted(map(tuple, dsir_weights(p_cnt, model).collect()))
    save_dsir_model(model, str(tmp_path / "m"))
    loaded = load_dsir_model(spark, str(tmp_path / "m"))
    after = sorted(map(tuple, dsir_weights(p_cnt, loaded).collect()))
    assert after == before  # exact: doubles round-trip through parquet


def test_streaming_scoring_matches_batch(spark, tmp_path):
    """Micro-batched weighing through the stream face ≡ batch weighing
    of the same documents, bitwise; replay from a fresh checkpoint
    cannot double-emit."""
    import time

    from myhadoop_spark.operators.dsir import start_dsir_scoring_stream

    t, p = _dfs(spark)
    t_cnt = doc_bucket_counts(t, buckets=B)
    p_cnt = doc_bucket_counts(p, buckets=B).localCheckpoint()
    model = bucket_log_ratios(t_cnt, p_cnt, buckets=B)
    model["ratios"] = model["ratios"].localCheckpoint()
    model["totals"] = model["totals"].localCheckpoint()

    src = str(tmp_path / "src")
    p.repartition(3).write.parquet(src)
    out = str(tmp_path / "scored")

    def run(ckpt):
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = start_dsir_scoring_stream(stream, model, out_path=out,
                                      checkpoint=str(tmp_path / ckpt))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            time.sleep(0.2)

    run("ckpt1")
    got = sorted((r.doc_id, r.n_feats, r.logw)
                 for r in spark.read.parquet(out)
                 .select("doc_id", "n_feats", "logw").collect())
    want = sorted(map(tuple, dsir_weights(p_cnt, model).collect()))
    assert got == want  # BITWISE

    run("ckpt2")  # fresh checkpoint => batch 0 REPLAYED, not appended
    again = sorted((r.doc_id, r.n_feats, r.logw)
                   for r in spark.read.parquet(out)
                   .select("doc_id", "n_feats", "logw").collect())
    assert again == got


def test_resave_crash_window_serves_previous_model(spark, tmp_path):
    """A re-save that crashes after writing the new ratios directory
    but BEFORE the meta commit must leave the previous model fully
    consistent (the epoch discipline), and a completed re-save must
    sweep the superseded epoch directory."""
    import os

    from myhadoop_spark.operators.dsir import (
        load_dsir_model,
        save_dsir_model,
    )

    t, p = _dfs(spark)
    p_cnt = doc_bucket_counts(p, buckets=B).localCheckpoint()
    m1 = bucket_log_ratios(doc_bucket_counts(t, buckets=B), p_cnt,
                           buckets=B)
    path = str(tmp_path / "m")
    save_dsir_model(m1, path)
    want = sorted(map(tuple, dsir_weights(
        p_cnt, load_dsir_model(spark, path)).collect()))

    # crash-sim: a refit wrote its new ratios dir (epoch 1) and died
    # before the meta commit — fabricate it with DIFFERENT content
    m2 = bucket_log_ratios(doc_bucket_counts(p, buckets=B),
                           doc_bucket_counts(t, buckets=B), buckets=B)
    m2["ratios"].write.mode("overwrite").parquet(f"{path}/ratios-e1")
    got = sorted(map(tuple, dsir_weights(
        p_cnt, load_dsir_model(spark, path)).collect()))
    assert got == want  # still the epoch-0 model, bit for bit

    # a COMPLETED re-save commits epoch 2 (epoch 1 dir exists but was
    # never committed; the counter comes from the committed meta) ...
    save_dsir_model(m2, path)
    reloaded = load_dsir_model(spark, path)
    assert reloaded["buckets"] == B
    got2 = sorted(map(tuple, dsir_weights(p_cnt, reloaded).collect()))
    assert got2 != want  # the refit genuinely took effect
    # ... and sweeps every superseded ratios directory
    dirs = [d for d in os.listdir(path) if d.startswith("ratios")]
    assert len(dirs) == 1, dirs
