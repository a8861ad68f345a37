"""Boilerplate span removal (operators/boilerplate.py): hand-built
ground truth, overlap-of-spans semantics, threshold edges, short/empty
docs, and partitioning invariance."""

from __future__ import annotations

from pyspark.sql import functions as F

from myhadoop_spark.operators.boilerplate import (
    boilerplate_grams,
    strip_boilerplate,
)

# "visit our site" appears in 3 docs (df=3 as bigrams "visit our",
# "our site"); unique content differs per doc
DOCS = [
    (1, "alpha beta visit our site gamma"),
    (2, "visit our site delta epsilon"),
    (3, "zeta visit our site"),
    (4, "alpha gamma delta"),           # no boilerplate
    (5, "x"),                           # shorter than the shingle
    (6, ""),                            # empty
]


def _df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_ground_truth_strip(spark):
    out = {r.doc_id: (r.n_removed, r.clean_text)
           for r in strip_boilerplate(_df(spark), n=2,
                                      min_df=3).collect()}
    # "visit our" and "our site" both have df=3 → positions of
    # visit/our/site are covered in docs 1-3 (overlapping spans merge)
    assert out[1] == (3, "alpha beta gamma")
    assert out[2] == (3, "delta epsilon")
    assert out[3] == (3, "zeta")
    assert out[4] == (0, "alpha gamma delta")
    assert out[5] == (0, "x")
    assert out[6] == (0, "")


def test_threshold_edges(spark):
    df = _df(spark)
    # min_df above any df: nothing stripped, text round-trips
    out = {r.doc_id: r.clean_text
           for r in strip_boilerplate(df, n=2, min_df=4).collect()}
    assert out[1] == "alpha beta visit our site gamma"
    # min_df=1: every bigram is "boilerplate" → docs with >=2 tokens
    # are fully stripped
    out1 = {r.doc_id: (r.n_removed, r.clean_text)
            for r in strip_boilerplate(df, n=2, min_df=1).collect()}
    assert out1[1] == (6, "")
    assert out1[5] == (0, "x")  # shorter than a shingle: untouched


def test_boilerplate_grams_df_counts(spark):
    got = {r.g: r.df for r in
           boilerplate_grams(_df(spark), n=2, min_df=2).collect()}
    assert got == {"visit our": 3, "our site": 3}


def test_partitioning_invariance(spark):
    df = _df(spark)
    a = sorted(map(tuple, strip_boilerplate(df, n=2, min_df=3)
                   .select("doc_id", "n_removed", "clean_text")
                   .collect()))
    b = sorted(map(tuple,
                   strip_boilerplate(df.repartition(5), n=2, min_df=3)
                   .select("doc_id", "n_removed", "clean_text")
                   .collect()))
    assert a == b


def test_duplicate_occurrences_count_one_doc(spark):
    # df counts DISTINCT docs: repeating the shingle inside one doc
    # must not reach min_df=2
    docs = spark.createDataFrame(
        [(1, "spam ham spam ham spam ham"), (2, "other words here")],
        "doc_id long, text string")
    assert boilerplate_grams(docs, n=2, min_df=2).count() == 0


def test_rebuild_matches_r10_array_contains_path(spark):
    """The r11 array_except rebuild (VERDICT r10 what's-wrong #2) is
    pinned bitwise to the r10 per-token array_contains expression on a
    generated corpus with repeated chrome, overlapping spans, fully
    covered docs and untouched docs."""
    rows = []
    for i in range(120):
        body = " ".join(f"w{i}_{j}" for j in range(i % 9))
        chrome = "nav home about contact"
        if i % 3 == 0:
            rows.append((i, f"{chrome} {body}".strip()))
        elif i % 3 == 1:
            rows.append((i, f"{body} {chrome} tail{i}".strip()))
        else:
            rows.append((i, body))
    rows += [(900, ""), (901, "x"), (902, "nav home about contact")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    from myhadoop_spark.functions.text import tokens
    from myhadoop_spark.operators.boilerplate import (
        _shingles,
        boilerplate_grams,
    )

    def r10_strip(docs, n, min_df):
        base = docs.withColumn("_toks", tokens("text"))
        sh = base.select(F.col("doc_id"),
                         F.explode(_shingles(n)).alias("_s")) \
            .select("doc_id", F.col("_s.pos").alias("pos"),
                    F.col("_s.g").alias("g"))
        bp = boilerplate_grams(docs, n=n, min_df=min_df).select("g")
        covered = (sh.join(bp, "g")
                   .select("doc_id",
                           F.explode(F.expr(
                               f"sequence(pos, pos + {n - 1})")).alias("p"))
                   .groupBy("doc_id")
                   .agg(F.collect_set("p").alias("_cov")))
        kept = F.expr(
            "filter(transform(_toks, (t, i) -> struct(t AS t, i + 1 AS p)),"
            " s -> NOT array_contains(coalesce(_cov, array()), s.p))")
        return (base.join(covered, "doc_id", "left")
                .withColumn("_kept", kept)
                .withColumn("n_removed",
                            (F.size("_toks") - F.size("_kept")).cast("long"))
                .withColumn("clean_text",
                            F.array_join(
                                F.expr("transform(_kept, s -> s.t)"), " "))
                .drop("_toks", "_cov", "_kept"))

    for n, min_df in ((2, 3), (3, 2), (2, 1)):
        want = sorted(map(tuple,
                          r10_strip(docs, n, min_df)
                          .select("doc_id", "n_removed", "clean_text")
                          .collect()))
        got = sorted(map(tuple,
                         strip_boilerplate(docs, n=n, min_df=min_df)
                         .select("doc_id", "n_removed", "clean_text")
                         .collect()))
        assert got == want, (n, min_df)
