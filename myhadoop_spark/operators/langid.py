"""Language identification — the CCNet pipeline's fastText-langid
stage (Wenzek et al. 2020) re-expressed as a deterministic hashed
char-n-gram scorer, so the multilingual operators (operators/
unimax.py, operators/dsir.py) can
DERIVE their ``lang`` column instead of consuming a fixture label.

Model — a per-language unigram-rate centroid over hashed character
n-grams, all INTEGER arithmetic (the operators/classifier.py
fixed-point discipline, for the same reason: ln()/float log-odds
differ in the last ulp across engines; BIGINT ×/DIV/Σ are exact
everywhere, so train + predict are engine-bitwise and the DuckDB
differential asserts equality, not tolerance):

    feat(d)        = {md5-bucket(g) : g ∈ char n-grams of lower(d)}
    w(l, b)        = count_l(b) · SCALE DIV total_l
    score(d, l)    = Σ_{b ∈ feat(d)} w(l, b)      (bag semantics)
    pred(d)        = argmax_l score(d, l), ties → lexicographically
                     smallest lang; featureless docs (|text| < n)
                     score 0 for every language and fall to the same
                     dense argmax (smallest lang) — dense-zero
                     semantics on BOTH engines, never a sparse
                     present-rows-only argmax (a 0-tie between a
                     scored and an unscored language must resolve the
                     same way everywhere).

Scale shape (100 TB): training is one explode + (lang, bucket) count
partial-agg — shuffle bounded by #langs × ``buckets`` (configuration,
not corpus) — plus a #langs-row total. The weight table pivots to ONE
integer vector per bucket (≤ buckets rows, langs in sorted order) and
BROADCASTS into the scoring join, so scoring is: corpus scan →
explode → broadcast hash join → one groupBy(doc) with k element-wise
integer sums — a single doc-sized shuffle, no UDFs, whole-stage
codegen end to end. The language list itself is a bounded driver
collect (≤ #languages rows — house-legal by construction).

Overflow: w needs count·SCALE ≤ 2^63, i.e. per-language n-gram totals
≤ ~9.2e12 — the weight expression branches into DECIMAL(38,0) above
that (the classifier.py BIGINT_SAFE_TOTAL idiom; quotients are
≤ SCALE so the output column never widens).

Reference analog: none — §2.3 extension surface (text-analysis
family, VERDICT r9 frontier item #2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from myhadoop_spark.functions.text import hash_bucket
from myhadoop_spark.operators.hof import let

SCALE = 1_000_000
BIGINT_SAFE_TOTAL = (1 << 63) // SCALE - 1


def char_ngrams(col: Column, n: int = 3) -> Column:
    """All character n-grams of lower(col) — empty array when the
    text is shorter than n (or NULL). Pure built-ins: a sequence of
    start positions transformed through substring.

    The lowered text is LET-BOUND (operators/hof.py): the transform
    lambda substrings it per gram, and an unbound reference would
    re-lowercase the full text per produced gram — O(chars * grams)
    recompute, measured 87 s -> 0.8 s on the sf0.01 documents
    fixture (bitwise-identical output)."""
    t0 = F.lower(F.coalesce(col, F.lit("")))

    def _grams(t: Column) -> Column:
        last = F.length(t) - (n - 1)
        return F.when(last >= 1,
                      F.transform(F.sequence(F.lit(1), last),
                                  lambda i: t.substr(i, F.lit(n)))
                      ).otherwise(F.array().cast("array<string>"))

    return let(t0, _grams)


def train_langid(labeled: DataFrame, *, lang_col: str = "lang",
                 text_col: str = "text", n: int = 3,
                 buckets: int = 4096) -> DataFrame:
    """(lang, bucket, w) integer weight table from labeled rows.
    NULL langs train the empty-string language (the dsir.py NULL-lang
    lesson — a silent drop on one engine only is the hash-mismatch
    factory). Shuffle ∝ #langs × buckets."""
    rows = labeled.select(
        F.coalesce(F.col(lang_col), F.lit("")).alias("lang"),
        F.explode(char_ngrams(F.col(text_col), n)).alias("_g"))
    feats = rows.select(
        "lang", hash_bucket(F.col("_g"), buckets).alias("bucket"))
    counts = (feats.groupBy("lang", "bucket")
              .agg(F.count(F.lit(1)).alias("_c")))
    totals = feats.groupBy("lang").agg(F.count(F.lit(1)).alias("_t"))
    narrow = F.expr(f"_c * {SCALE} DIV _t")
    wide = F.expr(f"CAST(_c AS DECIMAL(38,0)) * {SCALE} DIV _t")
    w = F.when(F.col("_t") > BIGINT_SAFE_TOTAL, wide).otherwise(narrow)
    return (counts.join(F.broadcast(totals), "lang")
            .select("lang", "bucket", w.cast("long").alias("w")))


def predict_lang(docs: DataFrame, weights: DataFrame, *,
                 id_col: str = "doc_id", text_col: str = "text",
                 n: int = 3, buckets: int = 4096) -> DataFrame:
    """(id, pred_lang, score, margin): dense argmax over every trained
    language. One broadcast join + one groupBy(doc) shuffle; the k
    element-wise sums compile to k integer aggregates (k = #langs,
    bounded — the vector never touches a UDF).

    ``margin`` is the CCNet-style confidence signal: best minus
    second-best score (integer subtraction — bitwise across engines);
    with a single trained language there is no runner-up and margin
    equals the score. Featureless docs score dense zeros, so their
    margin is 0 — maximally unconfident, exactly what a reject
    threshold should see."""
    langs = sorted(r["lang"] for r in
                   # control: the trained languages fix the score columns
                   weights.select("lang").distinct().collect())
    if not langs:
        raise ValueError("predict_lang: empty weight table")
    k = len(langs)
    # bucket -> dense per-lang weight vector (≤ buckets rows, broadcast)
    vecs = (weights.groupBy("bucket")
            .agg(*[F.sum(F.when(F.col("lang") == lang, F.col("w"))
                         .otherwise(0)).alias(f"_w{i}")
                   for i, lang in enumerate(langs)]))
    feats = docs.select(
        F.col(id_col),
        F.explode(char_ngrams(F.col(text_col), n)).alias("_g"))
    feats = feats.select(
        id_col, hash_bucket(F.col("_g"), buckets).alias("bucket"))
    scored = (feats.join(F.broadcast(vecs), "bucket", "left")
              .groupBy(id_col)
              .agg(*[F.sum(F.coalesce(F.col(f"_w{i}"), F.lit(0)))
                     .cast("long").alias(f"_s{i}") for i in range(k)]))
    s = F.array(*[F.col(f"_s{i}") for i in range(k)])
    lang_arr = F.array(*[F.lit(lang) for lang in langs])
    best = F.element_at(lang_arr,
                        F.array_position(s, F.array_max(s)).cast("int"))
    # second-best via one ascending sort of the k-element score array
    # (k bounded); k == 1 → no runner-up → margin = score
    runner_up = (F.element_at(F.array_sort(s), -2) if k >= 2
                 else F.lit(0).cast("long"))
    picked = scored.select(id_col, best.alias("pred_lang"),
                           F.array_max(s).alias("score"),
                           (F.array_max(s) - runner_up).alias("margin"))
    # featureless docs (no exploded rows): dense zeros → smallest lang
    return (docs.select(id_col).join(picked, id_col, "left")
            .select(id_col,
                    F.coalesce(F.col("pred_lang"),
                               F.lit(langs[0])).alias("pred_lang"),
                    F.coalesce(F.col("score"),
                               F.lit(0).cast("long")).alias("score"),
                    F.coalesce(F.col("margin"),
                               F.lit(0).cast("long")).alias("margin")))
