"""DSIR importance resampling (operators/dsir.py): pure-Python model
parity (same md5 hashing, same fold order; ln ulp-tolerant), bitwise
repartition invariance, selection semantics (target-like pool docs
outrank alien ones), and plan shape (broadcast ratio join, TakeOrdered
selection, no Python rows) of the three primitives composed as the
gated query ``dsir_select`` composes them. Its cross-engine DuckDB
differential is in tests/test_correctness.py."""

from __future__ import annotations

import contextlib
import hashlib
import io
from collections import Counter
from math import log

from pyspark.sql import functions as F

from myhadoop_spark.materialize import materialize
from myhadoop_spark.operators.dsir import (
    bucket_log_ratios,
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


def _select(target, pool, k):
    """The whole selection as the gated query composes it: fit on
    (target, pool) with the pool's count table materialized once,
    score the pool, keep the k highest-weight documents (ties by id),
    logw unfloored."""
    t_cnt = doc_bucket_counts(target, buckets=B)
    p_cnt = doc_bucket_counts(pool, buckets=B).transform(materialize)
    model = bucket_log_ratios(t_cnt, p_cnt, buckets=B)
    scored = dsir_weights(p_cnt, model)
    return scored.orderBy(F.desc("logw"), F.asc("doc_id")).limit(k)


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
              for r in _select(t, p, k=4).collect()]
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
    df = _select(t, p, k=3)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "TakeOrderedAndProject" in plan, plan       # no global sort
    assert "BroadcastHashJoin" in plan, plan           # ratio join
    assert "BatchEvalPython" not in plan, plan         # no Python rows
    assert "CartesianProduct" not in plan, plan        # totals broadcast
