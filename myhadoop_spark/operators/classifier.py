"""Classifier-based quality filtering — the CCNet/DCLM pipeline shape:
bootstrap a linear text classifier from cheap labels (a heuristic rule,
or a reference corpus vs the raw crawl), then score the full corpus at
scan speed and filter on the score.

The model is a bag-of-tokens linear scorer with INTEGER weights:

    w(t)     = n_pos(t)·SCALE DIV N_pos  −  n_neg(t)·SCALE DIV N_neg
    score(d) = Σ_{t ∈ d} w(t)            (duplicates count, bag semantics)
    pred(d)  = score(d) > 0

i.e. the difference of per-class token RATES, fixed-point scaled — a
Rocchio/naive-Bayes-flavored centroid difference. Integer arithmetic is
deliberate: log-odds weights would differ in the last ulp between
engines' ln() implementations, while DIV/×/Σ over BIGINTs are exact
everywhere, so scores are engine-bitwise and the DuckDB differential
(tests/test_classifier.py) can assert equality, not tolerance.

Scale shape (100 TB): training is two narrow explode+count aggregations
over the labeled sample (shuffle ∝ vocabulary, not corpus) plus one
2-row total; scoring is an explode + BROADCAST join against the weight
table (vocabularies fit executors; hash-bucket the features if not) +
one per-doc sum — no all-pairs, no UDF, no driver state. Overflow
margins (r5, wired): SCALE=1e6 needs class token totals ≤ ~9.2e12 for
the n·SCALE product to stay in BIGINT; the weight expression branches
per row on the joined class totals — above the threshold the products
run in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB), whose integral DIV
both engines return as exact BIGINT, so weights stay engine-bitwise on
BOTH sides of the boundary (hypothesis-tested around 2^63/SCALE in
tests/test_classifier.py). The quotient itself is ≤ SCALE (n ≤ total),
so the OUTPUT type never widens.

Reference analog: none — §2.3 extension surface (SURVEY.md §2.3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from myhadoop_spark.functions.text import tokens

SCALE = 1_000_000  # fixed-point rate scale

# function words used for the ratio marker feature (the stopword
# family, queries/text.py::STOPWORDS)
MARKER_WORDS = ("the", "a", "of", "and", "to", "in")


MARKER_BOOST = 8  # marker multiplicity in the bag (see feature_tokens)


def feature_tokens(col: str = "text",
                   marker_words: tuple[str, ...] = MARKER_WORDS,
                   marker_boost: int = MARKER_BOOST) -> Column:
    """Bag-of-features for a document: its tokens plus three binned
    engineered markers — '#len:<n_tokens DIV 8>',
    '#stop:<16·marker_hits DIV n_tokens>' and
    '#div:<16·distinct_tokens DIV n_tokens>'. Token identity alone cannot
    express length or ratio signals a teacher heuristic (or a reference-
    vs-crawl contrast) encodes; binned count features are the standard
    linear-model answer (fastText-style buckets). Integer bins keep
    engine-exactness; the '#' prefix cannot collide with whitespace
    tokens that would need to contain '#' + ':' in this corpus family.

    marker_boost repeats the marker features in the bag: with rate-
    difference weights a feature's influence is its occurrence count,
    so 3 markers against ~50 content tokens would be diluted 17:1 —
    the multiplicity is the bag-model analog of a per-feature weight
    magnitude (held-out accuracy on the fixture teacher: 0.60 at
    boost 1 → 0.84 at boost 8; markers alone reach 0.84, content
    tokens alone 0.60)."""
    toks = tokens(col)
    n = F.greatest(F.size(toks), F.lit(1)).cast("long")
    hits = F.size(F.filter(toks,
                           lambda t: t.isin(*marker_words))).cast("long")
    # floor-of-double division == exact integer division here: with
    # numerator/denominator < 2^24 the double quotient's deficit below
    # the next integer is >= 2^-24, far above ulp — both engines floor
    # to the same bin
    len_bin = F.concat(F.lit("#len:"),
                       F.floor(F.size(toks) / F.lit(8)).cast("string"))
    stop_bin = F.concat(F.lit("#stop:"),
                        F.floor((hits * F.lit(16)) / n).cast("string"))
    distinct = F.size(F.array_distinct(toks)).cast("long")
    div_bin = F.concat(F.lit("#div:"),
                       F.floor((distinct * F.lit(16)) / n).cast("string"))
    markers = F.array(len_bin, stop_bin, div_bin)
    return F.concat(toks, F.flatten(
        F.array_repeat(markers, marker_boost)))


def train_token_weights(labeled: DataFrame, label_col: str = "label",
                        text_col: str = "text") -> DataFrame:
    """(tok, w) integer weight table from (text, label bool) rows.

    One explode, one (tok, label) count aggregation, one 2-row class
    total, broadcast-combined — weights are a pure function of the
    labeled sample, independent of partitioning."""
    tok_rows = labeled.select(F.col(label_col).alias("_lbl"),
                              F.explode(feature_tokens(text_col)).alias("tok"))
    counts = (tok_rows.groupBy("tok")
              .agg(F.sum(F.when(F.col("_lbl"), 1).otherwise(0)).alias("n_pos"),
                   F.sum(F.when(F.col("_lbl"), 0).otherwise(1)).alias("n_neg")))
    # class totals fold over the BOUNDED per-token count table, not a
    # second explode of the training split (r13 stage fusion):
    # t_pos = Σ_tok n_pos(tok) exactly, and Catalyst cannot share the
    # explode across the two aggregations on a lazy chain
    totals = counts.agg(F.sum("n_pos").alias("t_pos"),
                        F.sum("n_neg").alias("t_neg"))
    # single-class training is a caller bug, not a silent model: Spark's
    # integer DIV 0 yields NULL (all-null weights) while DuckDB's //
    # raises — fail loudly and identically here instead
    totals = totals.select(
        F.assert_true((F.col("t_pos") > 0) & (F.col("t_neg") > 0),
                      F.lit("train_token_weights: both label classes "
                            "must be present")).alias("_chk"),
        "t_pos", "t_neg").drop("_chk")
    return (counts.crossJoin(F.broadcast(totals))
            .select("tok", weight_expr().alias("w")))


# largest class total for which n*SCALE is safe in BIGINT (n <= total)
BIGINT_SAFE_TOTAL = (1 << 63) // SCALE - 1


def weight_expr() -> Column:
    """The integer rate-difference weight over columns (n_pos, n_neg,
    t_pos, t_neg), branching per row into DECIMAL(38,0) arithmetic
    when a class total is big enough for n*SCALE to overflow BIGINT.
    Spark's integral DIV on decimals returns an exact BIGINT (and
    DuckDB's HUGEINT // agrees), so both branches are engine-bitwise
    and the branch point changes representation, never values."""
    narrow = (F.expr(f"n_pos * {SCALE} DIV t_pos")
              - F.expr(f"n_neg * {SCALE} DIV t_neg"))
    wide = (F.expr(f"CAST(n_pos AS DECIMAL(38,0)) * {SCALE} DIV t_pos")
            - F.expr(f"CAST(n_neg AS DECIMAL(38,0)) * {SCALE} DIV t_neg"))
    return F.when((F.col("t_pos") > BIGINT_SAFE_TOTAL)
                  | (F.col("t_neg") > BIGINT_SAFE_TOTAL),
                  wide).otherwise(narrow)


def score_documents(docs: DataFrame, weights: DataFrame, *,
                    id_col: str = "doc_id",
                    text_col: str = "text",
                    broadcast: bool = True,
                    with_n_tokens: bool = False,
                    join_back: bool = True) -> DataFrame:
    """(id, score, pred): fixed-point linear score per document.
    Out-of-vocabulary tokens score 0 (left join); empty docs score 0.

    ``broadcast`` picks the weight-join strategy (the r4 ledger's
    "weight table past executor memory" case, closed here):

      * True (default): broadcast hash join — one corpus scan, zero
        shuffle of the exploded tokens. Right whenever the vocabulary
        fits an executor (fastText-bucket-sized models always do).
      * False: hash-partitioned sort-merge join — both sides shuffle
        on ``tok``, so the weight table can be arbitrarily large
        (each task holds only its hash range; spilling SMJ bounds
        memory). Costs one extra shuffle of the exploded corpus; the
        per-doc sum is the same second shuffle either way.

    ``with_n_tokens=True`` (r14, guide §2.4/§3.3) additionally emits
    the document's TOKEN count as ``n_tokens`` — for free inside the
    scoring aggregate: the feature bag is exactly the tokens plus
    3·MARKER_BOOST marker features per document, so
    n_tokens = count(*) − 3·MARKER_BOOST in the same partial agg.
    Callers that need (score, n_tokens) per doc (the budget-selection
    compositions) previously re-tokenized the corpus in a second
    branch and paid a shuffle join to attach the counts.

    ``join_back=False`` (r14) skips the trailing
    ``docs.select(id).join(scored, left)`` re-attachment join: the
    scored aggregate already contains EVERY doc whose feature bag is
    non-empty, and the marker features make the bag non-empty for any
    non-NULL text, so callers that pre-filter NULL/empty docs (the
    qf_scores labeled frame) get identical rows one join cheaper.
    Keep the default for frames that may carry NULL-text docs — those
    score 0 via the left join.

    Scores are integer sums — order- and partitioning-independent —
    so the two paths are BIT-IDENTICAL (pinned in
    tests/test_classifier.py with auto-broadcast disabled)."""
    tok_rows = docs.select(id_col,
                           F.explode(feature_tokens(text_col)).alias("tok"))
    w = F.broadcast(weights) if broadcast else weights
    aggs = [F.sum(F.coalesce(F.col("w"), F.lit(0))).alias("score")]
    if with_n_tokens:
        aggs.append((F.count(F.lit(1)) - F.lit(3 * MARKER_BOOST))
                    .cast("long").alias("n_tokens"))
    scored = tok_rows.join(w, "tok", "left").groupBy(id_col).agg(*aggs)
    if not join_back:
        return scored.withColumn("pred", F.col("score") > 0)
    carry = ["n_tokens"] if with_n_tokens else []
    return (docs.select(id_col).join(scored, id_col, "left")
            .select(id_col,
                    F.coalesce(F.col("score"), F.lit(0)).alias("score"),
                    *[F.coalesce(F.col(c), F.lit(0)).alias(c)
                      for c in carry])
            .withColumn("pred", F.col("score") > 0))
