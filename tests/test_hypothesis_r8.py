"""Property-based tests for the r8 operators: DSIR weight equality with
the hashed-Counter model on generated corpora."""

from __future__ import annotations

import hashlib
from collections import Counter
from math import log

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from myhadoop_spark.operators.dsir import (
    bucket_log_ratios,
    doc_bucket_counts,
    dsir_weights,
)

import pytest

# r14 (VERDICT r13 item 1): heavy parity/property battery — the
# slow tier; see pytest.ini. Run with -m "slow or not slow".
pytestmark = pytest.mark.slow

_B = 64
_text = st.lists(st.sampled_from(["a", "b", "c", "dd", "eee"]),
                 min_size=0, max_size=12).map(" ".join)


def _bucket(feat: str) -> int:
    return int(hashlib.md5(feat.encode()).hexdigest()[:8], 16) % _B


def _feats(text: str) -> list[str]:
    ws = [w for w in text.split() if w]
    return ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(_text, min_size=2, max_size=10))
def test_dsir_weights_match_counter_model(spark, texts):
    rows = list(enumerate(texts))
    target = [(i, t) for i, t in rows if i % 2 == 0]
    pool = [(i, t) for i, t in rows if i % 2 == 1]
    t_df = spark.createDataFrame(target or [(999, "pad")],
                                 "doc_id long, text string")
    p_df = spark.createDataFrame(pool or [(998, "pad")],
                                 "doc_id long, text string")
    t_cnt = doc_bucket_counts(t_df, buckets=_B)
    p_cnt = doc_bucket_counts(p_df, buckets=_B)
    got = {r.doc_id: (r.n_feats, r.logw)
           for r in dsir_weights(
               p_cnt, bucket_log_ratios(t_cnt, p_cnt,
                                        buckets=_B)).collect()}

    ct: Counter = Counter()
    cr: Counter = Counter()
    for _, t in (target or [(999, "pad")]):
        ct.update(_bucket(f) for f in _feats(t))
    for _, t in (pool or [(998, "pad")]):
        cr.update(_bucket(f) for f in _feats(t))
    t_tot, r_tot = sum(ct.values()), sum(cr.values())
    for i, t in (pool or [(998, "pad")]):
        fs = _feats(t)
        if not fs:
            assert i not in got
            continue
        doc_c = Counter(_bucket(f) for f in fs)
        core = 0.0
        for b in sorted(doc_c):
            core += doc_c[b] * (log(ct[b] + 1.0) - log(cr[b] + 1.0))
        want = core + len(fs) * (log(r_tot + _B) - log(t_tot + _B))
        assert got[i][0] == len(fs)
        assert abs(got[i][1] - want) < 1e-9
