"""langid (operators/langid.py): held-out accuracy on corpora whose
languages genuinely differ, dense-argmax determinism, the UniMax
composition (derived lang feeding the balancer), and plan shape."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from myhadoop_spark.operators.langid import (
    char_ngrams,
    predict_lang,
    train_langid,
)

# three synthetic "languages" with disjoint alphabets — trivially
# separable, so held-out accuracy must be PERFECT, not just good
_ALPHABETS = {"aa": "abcdefg", "mm": "mnopqrs", "xx": "tuvwxyz"}


def _corpus(n_per_lang: int, seed: int = 7):
    rng = random.Random(seed)
    rows = []
    i = 0
    for lang, alpha in _ALPHABETS.items():
        for _ in range(n_per_lang):
            words = [
                "".join(rng.choice(alpha)
                        for _ in range(rng.randint(3, 8)))
                for _ in range(rng.randint(5, 15))]
            rows.append((i, " ".join(words), lang))
            i += 1
    return rows


def test_held_out_accuracy_disjoint_alphabets(spark):
    docs = spark.createDataFrame(
        _corpus(40), "doc_id long, text string, lang string")
    train = docs.filter(F.col("doc_id") % 4 != 0)
    held = docs.filter(F.col("doc_id") % 4 == 0)
    w = train_langid(train)
    pred = predict_lang(held, w)
    joined = pred.join(held.select("doc_id", "lang"), "doc_id")
    n = joined.count()
    correct = joined.filter(F.col("pred_lang") == F.col("lang")).count()
    assert n > 0 and correct == n  # disjoint alphabets: exact


def test_held_out_accuracy_shared_alphabet(spark):
    # harder: one alphabet, per-language skewed character preferences
    rng = random.Random(3)
    alpha = "abcdefghij"
    prefs = {"p0": "abc", "p1": "efg", "p2": "hij"}
    rows = []
    i = 0
    for lang, hot in prefs.items():
        for _ in range(60):
            words = []
            for _ in range(rng.randint(8, 16)):
                words.append("".join(
                    rng.choice(hot if rng.random() < 0.7 else alpha)
                    for _ in range(rng.randint(3, 7))))
            rows.append((i, " ".join(words), lang))
            i += 1
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string")
    w = train_langid(docs.filter(F.col("doc_id") % 4 != 0))
    held = docs.filter(F.col("doc_id") % 4 == 0)
    joined = predict_lang(held, w).join(
        held.select("doc_id", "lang"), "doc_id")
    n = joined.count()
    correct = joined.filter(F.col("pred_lang") == F.col("lang")).count()
    assert correct / n >= 0.9, (correct, n)


def test_partitioning_invariance_and_featureless_docs(spark):
    docs = spark.createDataFrame(
        _corpus(12) + [(999, "x", "aa"), (1000, "", "mm")],
        "doc_id long, text string, lang string")
    w = train_langid(docs)
    a = sorted(map(tuple, predict_lang(docs, w).collect()))
    b = sorted(map(tuple,
                   predict_lang(docs.repartition(17), w).collect()))
    assert a == b
    by = {r[0]: r for r in a}
    # len("x") < 3 and "" have no trigram: dense zeros -> smallest
    # lang, zero score, zero margin (maximally unconfident)
    assert by[999][1:] == ("aa", 0, 0)
    assert by[1000][1:] == ("aa", 0, 0)


def test_null_lang_trains_empty_string_class(spark):
    docs = spark.createDataFrame(
        [(1, "aaa bbb ccc", None), (2, "mmm nnn ooo", "mm")],
        "doc_id long, text string, lang string")
    langs = {r.lang for r in train_langid(docs).select("lang")
             .distinct().collect()}
    assert langs == {"", "mm"}


def test_char_ngrams_edges(spark):
    df = spark.createDataFrame(
        [("ABcd",), ("ab",), ("",), (None,)], "t string")
    got = [r[0] for r in df.select(
        char_ngrams(F.col("t"), 3).alias("g")).collect()]
    assert got[0] == ["abc", "bcd"]  # lowercased, overlapping
    assert got[1] == [] and got[2] == [] and got[3] == []


def test_composition_derived_lang_feeds_unimax(spark):
    """The VERDICT r9 wiring ask: langid as the ``lang`` PRODUCER for
    the balancer — train on a labeled split, relabel the whole corpus
    with PREDICTED langs, and run UniMax end-to-end on them."""
    from myhadoop_spark.operators.unimax import (
        doc_token_counts,
        unimax_allocate,
        unimax_select,
    )

    docs = spark.createDataFrame(
        _corpus(30), "doc_id long, text string, lang string")
    w = train_langid(docs.filter(F.col("doc_id") % 3 != 0))
    relabeled = (docs.drop("lang")
                 .join(predict_lang(docs, w)
                       .select("doc_id",
                               F.col("pred_lang").alias("lang")),
                       "doc_id"))
    dt = doc_token_counts(relabeled)
    alloc = unimax_allocate(dt, budget_ratio=(1, 2), epoch_cap=1)
    sel = unimax_select(dt, alloc)
    per_lang = {r["lang"]: r for r in
                sel.groupBy("lang")
                .agg(F.sum("n_tokens").alias("kept"),
                     F.first("lang_budget").alias("budget")).collect()}
    assert set(per_lang) == set(_ALPHABETS)  # all 3 derived langs flow
    total = dt.agg(F.sum("n_tokens")).collect()[0][0]
    budget = total // 2
    assert sum(r["budget"] for r in per_lang.values()) <= budget


def test_margin_semantics(spark):
    """margin = best − second-best score: positive where the alphabets
    separate, exactly 0 on a perfect two-language tie, and equal to
    the score when only one language is trained."""
    docs = spark.createDataFrame(
        _corpus(20), "doc_id long, text string, lang string")
    w = train_langid(docs)
    pred = predict_lang(docs, w)
    assert pred.filter(F.col("margin") < 0).count() == 0
    # disjoint alphabets: every doc's own-language evidence dominates
    assert pred.filter(F.col("margin") > 0).count() == pred.count()
    # two languages trained on IDENTICAL text → identical weight
    # vectors → every score ties → margin 0, smallest lang wins
    tie_train = spark.createDataFrame(
        [(1, "aaa bbb ccc", "p0"), (2, "aaa bbb ccc", "p1")],
        "doc_id long, text string, lang string")
    tie = predict_lang(
        spark.createDataFrame([(9, "aaa bbb ccc")],
                              "doc_id long, text string"),
        train_langid(tie_train)).collect()[0]
    assert (tie["pred_lang"], tie["margin"]) == ("p0", 0)
    assert tie["score"] > 0
    # single trained language: no runner-up → margin == score
    solo = predict_lang(
        spark.createDataFrame([(9, "aaa bbb ccc")],
                              "doc_id long, text string"),
        train_langid(tie_train.filter(F.col("lang") == "p0"))).collect()[0]
    assert solo["margin"] == solo["score"] > 0


def test_scoring_plan_is_broadcast_and_jvm_only(spark):
    import contextlib
    import io

    docs = spark.createDataFrame(
        _corpus(10), "doc_id long, text string, lang string")
    w = train_langid(docs)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        predict_lang(docs, w).explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
