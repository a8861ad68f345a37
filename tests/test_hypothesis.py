"""Property-based tests (hypothesis): engine semantics vs independent
Python oracles on generated inputs — beyond the fixture distributions."""

from __future__ import annotations

from collections import Counter

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from myhadoop_spark.mapreduce import wordcount_job
from myhadoop_spark.operators.asof import asof_join
from myhadoop_spark.queries.wordcount import wordcount_df

import pytest

# r14 (VERDICT r13 item 1): heavy parity/property battery — the
# slow tier; see pytest.ini. Run with -m "slow or not slow".
pytestmark = pytest.mark.slow

_text = st.text(
    alphabet=st.sampled_from("ab \t\né"),  # words, whitespace, non-ascii
    min_size=0, max_size=40,
)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(_text, min_size=1, max_size=8))
def test_wordcount_matches_python_split(spark, lines):
    """split+explode tokenization ≡ Python str.split() on arbitrary
    whitespace-mixed unicode text (the R2 reference contract)."""
    expected = Counter(w for line in lines for w in line.split())
    df = spark.createDataFrame([(line,) for line in lines], "text STRING")
    got = Counter({r["word"]: r["cnt"] for r in wordcount_df(df).collect()})
    assert got == expected


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(_text, min_size=1, max_size=5))
def test_rdd_job_api_matches_dataframe_path(spark, lines):
    df = spark.createDataFrame([(line,) for line in lines], "value STRING")
    slow = {(r["key"], r["value"])
            for r in wordcount_job().run_on_lines(df).collect()}
    fast = {(r["word"], r["cnt"]) for r in wordcount_df(df, "value").collect()}
    assert slow == fast


_events = st.lists(
    st.tuples(st.integers(0, 3),           # key
              st.integers(0, 1000),        # time
              st.integers(-100, 100)),     # value
    min_size=0, max_size=25)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(left=_events, right=_events)
def test_asof_join_matches_pandas_merge_asof(spark, left, right):
    """Union+window as-of join ≡ pandas merge_asof (strict <) on random
    keyed time series, including duplicate left timestamps and empty
    sides. Right side deduped on (k, t): with equal-timestamp right
    rows, 'which tie wins' is unspecified in both engines."""
    if not left:
        return
    right = list({(k, t): (k, t, v) for (k, t, v) in right}.values())
    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t, _) in enumerate(left)],
        "k INT, t INT, lid INT")
    rdf = spark.createDataFrame(
        [(k, t, v) for (k, t, v) in right], "k INT, t INT, rv INT") \
        if right else spark.createDataFrame([], "k INT, t INT, rv INT")
    got = {
        (r["lid"]): r["asof_rv"]
        for r in asof_join(ldf, rdf, on="k", time_col="t",
                           value_cols=["rv"], strict=True).collect()
    }
    # pandas oracle: merge_asof with allow_exact_matches=False;
    # ties on (k, t) in right resolved to the LAST in sort order, which
    # matches the window's running-last semantics
    lp = pd.DataFrame([(k, t, i) for i, (k, t, _) in enumerate(left)],
                      columns=["k", "t", "lid"]).sort_values(["t", "lid"])
    rp = pd.DataFrame(right, columns=["k", "t", "rv"]).sort_values("t") \
        if right else pd.DataFrame(columns=["k", "t", "rv"], dtype=int)
    if len(rp):
        m = pd.merge_asof(lp, rp, on="t", by="k",
                          allow_exact_matches=False, direction="backward")
        expected = {int(r.lid): (None if pd.isna(r.rv) else int(r.rv))
                    for r in m.itertuples()}
    else:
        expected = {int(r.lid): None for r in lp.itertuples()}
    assert got == expected


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(
    st.text(alphabet=st.sampled_from("abá9 !\n"), min_size=0, max_size=30),
    min_size=1, max_size=6))
def test_winnowing_matches_python_model(spark, texts):
    """k-gram polynomial hashing + window-min selection ≡ the pure-Python
    winnowing model on arbitrary short unicode text (incl. empty and
    shorter-than-k strings)."""
    from pyspark.sql import functions as F

    from myhadoop_spark.queries.text import _kgram_hashes, _window_mins
    from tests.test_text_metrics import py_winnow

    df = spark.createDataFrame(list(enumerate(texts)), "id int, text string")
    codes = F.transform(
        F.filter(F.split("text", ""), lambda c: c != F.lit("")), F.ascii)
    out = (df.withColumn("_codes", codes)
             .withColumn("_kh", _kgram_hashes(F.col("_codes")))
             .withColumn("sel", _window_mins(F.col("_kh"))))
    got = {r["id"]: r["sel"] for r in out.collect()}
    for i, t in enumerate(texts):
        assert got[i] == py_winnow(t), (t, got[i])


_doc_words = st.lists(st.sampled_from(["alpha", "beta", "gamma", "delta",
                                       "epsilon", "zeta"]),
                      min_size=0, max_size=12)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(_doc_words, min_size=2, max_size=8))
def test_decontam_matches_python_shingle_model(spark, docs):
    """contamination_pairs ≡ a pure-Python set model of distinct length-n
    shingle overlap on generated word documents (odd ids = corpus, even
    ids = benchmark). Hashing cancels out: the operator's 48-bit md5
    hash is injective in practice at this scale and identical on both
    sides, so set-of-shingle intersection counts must agree exactly."""
    from myhadoop_spark.operators.decontam import contamination_pairs

    n = 2
    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]

    def shingles(words):
        return {" ".join(words[i:i + n])
                for i in range(len(words) - n + 1)} if len(words) >= n else set()

    model = {}
    for ci, cw in enumerate(docs):
        if ci % 2 == 0:
            continue
        for bi, bw in enumerate(docs):
            if bi % 2 != 0:
                continue
            k = len(shingles(cw) & shingles(bw))
            if k:
                model[(ci, bi)] = k

    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    corpus = df.filter("doc_id % 2 = 1")
    bench = df.filter("doc_id % 2 = 0")
    got = {(r["corpus_id"], r["bench_id"]): r["n_shared"]
           for r in contamination_pairs(corpus, bench, n=n).collect()}
    assert got == model
