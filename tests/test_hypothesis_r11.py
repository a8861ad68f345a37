"""Property-based tests for the r11 operators: budget_select's banded
plan ≡ its spec window AND ≡ a pure-Python greedy model on generated
score/token distributions; line-ops laws on generated corpora
(word_lines conservation, clean ⊆ input, dedup keep-first model)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from myhadoop_spark.operators.budget_select import (
    budget_select,
    budget_select_window,
)
from myhadoop_spark.operators.line_dedup import line_dedup
from myhadoop_spark.operators.line_filter import clean_lines, word_lines

import pytest

# r14 (VERDICT r13 item 1): heavy parity/property battery — the
# slow tier; see pytest.ini. Run with -m "slow or not slow".
pytestmark = pytest.mark.slow

# --- banded budget select ≡ window ≡ python greedy ---------------------

_scored = st.lists(
    st.tuples(st.integers(min_value=-50, max_value=50),   # score
              st.integers(min_value=1, max_value=30)),    # n_tokens
    min_size=1, max_size=50)


def _py_budget(rows, budget):
    """Greedy prefix by (score desc, id): the spec."""
    out, before = [], 0
    for i, s, t in sorted(rows, key=lambda r: (-r[1], r[0])):
        if before < budget:
            out.append((i, s, t))
        before += t
    return sorted(out)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_scored, st.integers(min_value=0, max_value=100),
       st.sampled_from([1, 3, 64]))
def test_budget_select_triple_parity(spark, docs, pct, bands):
    rows = [(i, s, t) for i, (s, t) in enumerate(docs)]
    df = spark.createDataFrame(
        rows, "doc_id long, score long, n_tokens long")
    total = sum(t for _, _, t in rows)
    budget = total * pct // 100
    want = _py_budget(rows, budget)
    got_b = sorted(map(tuple, budget_select(df, budget,
                                            bands=bands).collect()))
    got_w = sorted(map(tuple, budget_select_window(df, budget)
                       .collect()))
    assert got_b == got_w == want, (budget, bands)


# --- line ops laws ------------------------------------------------------

_words = st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "x"]),
                  min_size=0, max_size=25)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_words, st.integers(min_value=1, max_value=7))
def test_word_lines_conserve_tokens(spark, words, k):
    text = " ".join(words)
    got = (spark.range(1)
           .select(word_lines(F.lit(text), k).alias("l"))
           .head()["l"])
    # re-splitting the chunks reproduces the token stream exactly
    rejoined = [w for line in got for w in line.split(" ") if w]
    assert rejoined == words
    assert all(len(line.split(" ")) <= k for line in got)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.lists(st.sampled_from(["p q r", "s t", "u v w x"]),
                         min_size=1, max_size=6),
                min_size=1, max_size=8))
def test_line_dedup_matches_python_keep_first(spark, docs):
    rows = [(i, "\n".join(lines)) for i, lines in enumerate(docs)]
    df = (spark.createDataFrame(rows, "doc_id long, text string")
          .withColumn("_l", F.split("text", r"\n")))
    got = {r["doc_id"]: r["clean_text"]
           for r in line_dedup(df, lines_col="_l").collect()}
    seen: set[str] = set()
    want: dict[int, str] = {}
    for i, lines in enumerate(docs):
        kept = []
        for ln in lines:
            if ln not in seen:
                seen.add(ln)
                kept.append(ln)
        if kept:
            want[i] = "\n".join(kept)
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.sampled_from(
    ["good line with words", "bad", "drop me javascript now ok"]),
    min_size=1, max_size=10))
def test_clean_lines_subset_and_order(spark, lines):
    df = (spark.createDataFrame([(1, "\n".join(lines))],
                                "doc_id long, text string")
          .withColumn("_l", F.split("text", r"\n")))
    out = clean_lines(df, lines_col="_l", min_words_per_line=2,
                      require_terminal_punct=False,
                      line_drop_substrings=("javascript",),
                      doc_drop_substrings=(), min_kept_lines=0).collect()
    if not out:
        return
    kept = out[0]["clean_text"].split("\n") if out[0]["clean_text"] else []
    # kept lines are an order-preserving subsequence of the input
    it = iter(lines)
    assert all(any(ln == x for x in it) for ln in kept)
    assert all("javascript" not in ln and len(ln.split()) >= 2
               for ln in kept)
