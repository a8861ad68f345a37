"""Line-level curation battery — operators/line_filter.py (C4 /
RefinedWeb line-wise rules, incl. the punctuation rule the fixture
cannot exercise) and operators/line_dedup.py (CCNet keep-first line
dedup), plus their plan pins."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from myhadoop_spark.operators.line_dedup import line_dedup
from myhadoop_spark.operators.line_filter import (clean_lines, split_lines,
                                                  word_lines)
from tests.conftest import SF_SMOKE
from tests.test_plans import _explain, plan_of


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------- lines

def test_word_lines_chunks(spark):
    df = spark.range(1).select(
        word_lines(F.lit("a b c d e f g h"), 3).alias("l"))
    assert df.head()["l"] == ["a b c", "d e f", "g h"]


def test_word_lines_empty_and_exact(spark):
    df = spark.range(1).select(
        word_lines(F.lit(""), 3).alias("e"),
        word_lines(F.lit("a b c"), 3).alias("x"))
    r = df.head()
    assert r["e"] == [] and r["x"] == ["a b c"]


def test_word_lines_rejects_bad_k(spark):
    with pytest.raises(ValueError):
        word_lines(F.lit("a"), 0)


def test_split_lines_drops_blanks(spark):
    df = spark.range(1).select(
        split_lines(F.lit("one\n\n  \ntwo\nthree"), r"\n").alias("l"))
    assert df.head()["l"] == ["one", "two", "three"]


# --------------------------------------------------------- clean_lines

def _clean(spark, rows, **kw):
    docs = _docs(spark, rows).withColumn(
        "_l", split_lines("text", r"\n"))
    defaults = dict(lines_col="_l", min_words_per_line=1,
                    require_terminal_punct=False,
                    line_drop_substrings=(), doc_drop_substrings=(),
                    min_kept_lines=0)
    defaults.update(kw)
    return {r["doc_id"]: r for r in
            clean_lines(docs, **defaults).collect()}


def test_terminal_punctuation_rule(spark):
    out = _clean(
        spark,
        [(1, 'Keep this line.\nAnd this one!\nQuote end."\n'
             'Question?\nno punctuation here\ntrailing spaces.   ')],
        require_terminal_punct=True)
    # rtrim'd last char must be . ! ? " — the unpunctuated line drops;
    # kept lines are NOT mutated (the rtrim is only for the check)
    assert out[1]["clean_text"] == (
        'Keep this line.\nAnd this one!\nQuote end."\nQuestion?'
        '\ntrailing spaces.   ')
    assert out[1]["n_lines"] == 6 and out[1]["n_kept"] == 5


def test_c4_line_and_doc_rules(spark):
    rows = [
        (1, "a good long line here.\nshort.\nhas javascript in it ok."),
        (2, "fine line number one.\nlorem ipsum somewhere."),   # doc drop
        (3, "object { literal } here.\nsecond line is fine."),  # doc drop
        (4, "only one surviving line here."),                   # < min kept
    ]
    out = _clean(spark, rows, min_words_per_line=5,
                 require_terminal_punct=True,
                 line_drop_substrings=("javascript",),
                 doc_drop_substrings=("lorem ipsum", "{"),
                 min_kept_lines=1)
    assert set(out) == {1, 4}
    # doc 1: 'short.' fails min words, javascript line drops
    assert out[1]["clean_text"] == "a good long line here."
    assert out[4]["n_kept"] == 1


def test_min_kept_lines_threshold(spark):
    rows = [(1, "one two.\nthree four."), (2, "solo line.")]
    out = _clean(spark, rows, min_kept_lines=2)
    assert set(out) == {1}


def test_max_removed_frac_exact_boundary(spark):
    # doc 1: 4 words total, 2 removed -> removed*2 <= total*1 KEEPS
    # doc 2: 4 words total, 3 removed -> 6 > 4 drops
    rows = [(1, "aa bb cc\nxx"), (2, "aa bb cc\nyy")]
    out = _clean(spark, rows, min_words_per_line=1,
                 line_drop_substrings=("x",),
                 max_removed_frac=(1, 2))
    # doc 1 loses 'xx' (1 word of 4): 1*2 <= 4*1 keeps
    assert 1 in out and out[1]["clean_text"] == "aa bb cc"
    out2 = _clean(spark, [(3, "xx yy\naa bb")], min_words_per_line=1,
                  line_drop_substrings=("x", "y"),
                  max_removed_frac=(1, 2))
    # doc 3 loses 2 of 4 words: 2*2 <= 4*1 exactly on the boundary
    assert 3 in out2 and out2[3]["clean_text"] == "aa bb"
    out3 = _clean(spark, [(4, "xx yy zz\naa")], min_words_per_line=1,
                  line_drop_substrings=("x", "y", "z"),
                  max_removed_frac=(1, 2))
    assert 4 not in out3  # 3 of 4 removed: 6 > 4


def test_clean_lines_rejects_bad_params(spark):
    docs = _docs(spark, [(1, "a")]).withColumn(
        "_l", split_lines("text", r"\n"))
    with pytest.raises(ValueError):
        clean_lines(docs, lines_col="_l", min_kept_lines=-1)
    with pytest.raises(ValueError):
        clean_lines(docs, lines_col="_l", max_removed_frac=(1, 0))


# ---------------------------------------------------------- line_dedup

def _dedup(spark, rows, **kw):
    docs = _docs(spark, rows).withColumn(
        "_l", split_lines("text", r"\n"))
    return {r["doc_id"]: r for r in
            line_dedup(docs, lines_col="_l", **kw).collect()}


def test_keep_first_across_docs(spark):
    rows = [(1, "shared footer\nunique one"),
            (2, "unique two\nshared footer"),
            (3, "shared footer")]
    out = _dedup(spark, rows)
    assert out[1]["clean_text"] == "shared footer\nunique one"
    assert out[2]["clean_text"] == "unique two"
    assert 3 not in out  # all lines were seen earlier -> doc dropped
    assert out[2]["n_lines"] == 2 and out[2]["n_kept"] == 1


def test_within_doc_repeat_loses_to_first(spark):
    out = _dedup(spark, [(1, "same line\nother\nsame line")])
    assert out[1]["clean_text"] == "same line\nother"


def test_normalize_ccnet_key(spark):
    rows = [(1, "Call 555 Now\nalpha"),
            (2, "call 123 now\nbeta")]
    out = _dedup(spark, rows, normalize=True)
    # normalized keys collide (case-folded, digits stripped):
    # doc 2 keeps only its unique line
    assert out[1]["clean_text"] == "Call 555 Now\nalpha"
    assert out[2]["clean_text"] == "beta"


def test_dedup_rejects_min_kept_zero(spark):
    docs = _docs(spark, [(1, "a")]).withColumn(
        "_l", split_lines("text", r"\n"))
    with pytest.raises(ValueError):
        line_dedup(docs, lines_col="_l", min_kept_lines=0)


def test_dedup_partitioning_invariance(spark):
    rows = [(i, f"common line\nuniq {i}") for i in range(1, 40)]
    docs = _docs(spark, rows).withColumn("_l", split_lines("text", r"\n"))
    a = sorted(map(tuple, line_dedup(docs, lines_col="_l")
                   .select("doc_id", "n_kept", "clean_text").collect()))
    b = sorted(map(tuple, line_dedup(docs.repartition(7),
                                     lines_col="_l")
                   .select("doc_id", "n_kept", "clean_text").collect()))
    assert a == b
    # keep-first: doc 1 holds the common line, everyone else loses it
    assert dict((d, k) for d, k, _ in a)[1] == 2
    assert all(k == 1 for d, k, _ in a if d != 1)


# ------------------------------------------------------------ plan pins

def test_c4_clean_plan_is_narrow(spark):
    """C4 line-wise cleaning is one narrow codegen pass over the
    load_wide round-robin widen — never a hash shuffle, a window, or a
    Python eval."""
    from myhadoop_spark.catalog import load_wide

    docs = load_wide(spark, SF_SMOKE, "documents")
    plan = _explain(clean_lines(
        docs.withColumn("_l", word_lines("text", 7)), lines_col="_l",
        min_words_per_line=5, require_terminal_punct=False,
        line_drop_substrings=("customer",),
        doc_drop_substrings=("lorem ipsum", "{"), min_kept_lines=3,
        max_removed_frac=(1, 2)))
    assert "hashpartitioning" not in plan.lower(), plan
    assert "Window" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_line_dedup_plan_no_window_no_cartesian(spark):
    """The survivor is the partial-aggregable min(struct) — a Window
    over raw occurrences would single-task hot lines (the oracle uses
    one as spec; the engine must not)."""
    for name in ("line_dedup",):
        plan = plan_of(spark, name)
        assert "Window" not in plan, f"{name}:\n{plan}"
        assert "CartesianProduct" not in plan, f"{name}:\n{plan}"
        assert "BatchEvalPython" not in plan, f"{name}:\n{plan}"
        assert re.search(r"partial_?min", plan.lower()) or \
            "partial" in plan.lower(), f"{name}:\n{plan}"


# ------------------------------------------------- within-doc dedup


def test_within_doc_dedup_model_parity(spark):
    """Keep-first WITHIN each doc only: repeats inside a doc drop,
    the same line in another doc survives (no corpus state)."""
    from myhadoop_spark.operators.line_dedup import within_doc_dedup

    docs = spark.createDataFrame(
        [(1, ["a b", "c d", "a b", "e f", "c d"]),
         (2, ["a b", "a b"]),          # survives once here too
         (3, ["x y"])],
        "doc_id long, _l array<string>")
    got = {r["doc_id"]: (r["n_lines"], r["n_kept"], r["clean_text"])
           for r in within_doc_dedup(docs, lines_col="_l").collect()}
    assert got == {1: (5, 3, "a b\nc d\ne f"),
                   2: (2, 1, "a b"),
                   3: (1, 1, "x y")}


def test_within_doc_dedup_normalized_keys(spark):
    """normalize=True compares CCNet keys but emits the ORIGINAL
    first-occurrence line."""
    from myhadoop_spark.operators.line_dedup import within_doc_dedup

    # digit-stripping makes 'Call 555 now' ≡ 'call  now' (the double
    # space survives normalization on both) — the twin drops, the
    # ORIGINAL first-occurrence text is emitted
    docs = spark.createDataFrame(
        [(1, ["Call 555 now", "call  now", "other"])],
        "doc_id long, _l array<string>")
    r = within_doc_dedup(docs, lines_col="_l", normalize=True).head()
    assert r["n_kept"] == 2 and r["clean_text"] == "Call 555 now\nother"
    # single-space 'call now' is a DIFFERENT key — both survive
    docs2 = spark.createDataFrame(
        [(1, ["Call 555 now", "call now", "other"])],
        "doc_id long, _l array<string>")
    r2 = within_doc_dedup(docs2, lines_col="_l", normalize=True).head()
    assert r2["n_kept"] == 3
    # without normalization nothing collides
    r3 = within_doc_dedup(docs, lines_col="_l", normalize=False).head()
    assert r3["n_kept"] == 3


def test_within_doc_dedup_zero_shuffle(spark):
    """The in-page face is a narrow pass — no exchange in the plan."""
    from myhadoop_spark.operators.line_dedup import within_doc_dedup
    from myhadoop_spark.operators.line_filter import word_lines

    docs = spark.createDataFrame([(1, "a b a b c d")],
                                 "doc_id long, text string")
    plan = (within_doc_dedup(docs.withColumn("_l",
                                             word_lines("text", 2)),
                             lines_col="_l")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan, plan


def test_within_doc_dedup_guards(spark):
    from myhadoop_spark.operators.line_dedup import within_doc_dedup

    docs = spark.createDataFrame([(1, ["a"])],
                                 "doc_id long, _l array<string>")
    import pytest as _pytest
    with _pytest.raises(ValueError):
        within_doc_dedup(docs, lines_col="_l", min_kept_lines=0)
