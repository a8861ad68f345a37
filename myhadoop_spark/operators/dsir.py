"""DSIR — Data Selection via Importance Resampling (Xie et al.,
NeurIPS 2023, arXiv:2302.03169): pick the raw-pool documents whose
hashed-n-gram distribution looks most like a small trusted target
corpus. The standard "make my crawl look like Wikipedia" selection
step of LLM pretraining pipelines; complements the discriminative
classifier gate (operators/classifier.py) with the paper's generative
bag-of-hashed-ngrams formulation.

Model (the paper's unigram-over-hashed-features estimator):

    features(doc)  = unigrams ∪ bigrams, hashed into B buckets
    p̂_t[b]         = (Ct_b + 1) / (T + B)      add-1 smoothed target
    p̂_r[b]         = (Cr_b + 1) / (R + B)      add-1 smoothed raw
    log w(doc)     = Σ_b c_b · (ln p̂_t[b] − ln p̂_r[b])
                   = Σ_b c_b · (ln(Ct_b+1) − ln(Cr_b+1))
                     + n_feats · (ln(R+B) − ln(T+B))

The constant term is factored out so the per-bucket log-ratio table
needs only the raw counts — ln of INTEGERS on both engines.

The module holds the three primitives (doc_bucket_counts,
bucket_log_ratios, dsir_weights); the gated query ``dsir_select``
(queries/dsir.py) composes them into the whole selection.

Scale shape: feature extraction is one narrow codegen projection
(split + slice/concat, no UDF) feeding ONE (id, bucket) aggregation
whose map-side combine compresses the shuffle from occurrences to
distinct (doc, bucket) pairs; the caller materializes that count table
once and both the fit and the scoring read it. The fit's joint bucket
table is ≤ B rows by construction, so it is collected (bounded) and
re-broadcast as a local DataFrame — one Spark job, nothing to
recompute under the broadcast builds. Scoring is a broadcast join +
one groupBy(id); selection is TakeOrderedAndProject (partial top-k
per partition), never a global sort. Identical plan at 500 docs and
100 TB; B (default 4096; the paper uses 10k) bounds every broadcast
and the collect.

Float-determinism discipline: a per-doc
SUM over shuffled join output has no addition order, so the c·lr
terms are re-assembled sorted by bucket id — a TOTAL order, buckets
are distinct within a doc — and reduced with a left fold:
bitwise-reproducible on any partitioning, and order-matched by the
DuckDB oracle's ``list_reduce(list(c*lr ORDER BY b))``. ln() itself
is last-ulp-unsafe across engines, so the compared weight is floored
at 1e-6; the bitwise
contract is pinned against the pure-Python model in
tests/test_dsir.py.

Feature hashing uses the engine-portable md5 bucket
(functions/text.py::hash_bucket) — xxhash64/murmur differ across engines.
Unigram/bigram features need no type marker: tokens are
whitespace-split, so a space-joined bigram can never collide with a
unigram.

Reference analog: none — §2.3 extension surface (project brief:
training-data curation operators).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from myhadoop_spark.functions.text import hash_bucket, tokens

BUCKETS = 4096


def hashed_features(docs: DataFrame, *, id_col: str = "doc_id",
                    text_col: str = "text",
                    buckets: int = BUCKETS) -> DataFrame:
    """One row per feature OCCURRENCE: (id, b) — unigrams + bigrams of
    the whitespace tokenization, hashed into ``buckets``. Narrow until
    the explode; empty documents contribute nothing."""
    toks = docs.select(F.col(id_col),
                       tokens(text_col).alias("_toks"))
    toks = toks.filter(F.size("_toks") > 0)
    feats = toks.select(
        F.col(id_col),
        F.concat(
            F.col("_toks"),
            F.when(
                F.size("_toks") >= 2,
                F.zip_with(
                    F.slice(F.col("_toks"), 1, F.size("_toks") - 1),
                    F.slice(F.col("_toks"), 2, F.size("_toks") - 1),
                    lambda a, b: F.concat_ws(" ", a, b)))
            .otherwise(F.array().cast("array<string>")),
        ).alias("_feats"))
    occ = feats.select(F.col(id_col), F.explode("_feats").alias("_f"))
    return occ.select(F.col(id_col),
                      hash_bucket(F.col("_f"), buckets).alias("b"))


def doc_bucket_counts(docs: DataFrame, *, id_col: str = "doc_id",
                      text_col: str = "text",
                      buckets: int = BUCKETS) -> DataFrame:
    """(id, b, c): per-document bucket multiplicities — the canonical
    DSIR intermediate. One text pass + one (id, b) aggregation whose
    map-side combine compresses the shuffle from feature OCCURRENCES
    to distinct (doc, bucket) pairs (≤ min(doc_len, B) per doc); both
    the fit and the scoring read THIS table, so the expensive
    tokenize+md5 pipeline runs once when the caller materializes it
    (queries/dsir.py::dsir_select does)."""
    occ = hashed_features(docs, id_col=id_col, text_col=text_col,
                          buckets=buckets)
    return occ.groupBy(id_col, "b").agg(F.count(F.lit(1)).alias("c"))


def bucket_log_ratios(target_counts: DataFrame, raw_counts: DataFrame,
                      *, buckets: int = BUCKETS) -> dict:
    """Fit the importance model from two (id, b, c) count tables
    (doc_bucket_counts output). Returns
    {"ratios": DF(b, lr), "totals": DF(t_total, r_total)} where
    lr = ln(Ct_b+1) − ln(Cr_b+1) over buckets seen in EITHER corpus
    (unseen buckets have lr = 0 by construction — coalesce at join
    time).

    The joint count table is ≤ B rows by construction, so it is
    COLLECTED once (the bounded-driver-collect discipline — B caps it
    at any corpus size) and ratios/totals are rebuilt as LOCAL
    DataFrames: the fit is exactly one Spark job, and the two
    broadcast builds downstream have no upstream to recompute.
    ln stays a Spark expression over the local rows so the arithmetic
    engine never changes."""
    ct = target_counts.groupBy("b").agg(F.sum("c").alias("ct"))
    cr = raw_counts.groupBy("b").agg(F.sum("c").alias("cr"))
    both = (ct.join(cr, "b", "full")
            .select("b",
                    F.coalesce("ct", F.lit(0)).alias("ct"),
                    F.coalesce("cr", F.lit(0)).alias("cr")))
    rows = [(r["b"], r["ct"], r["cr"]) for r in both.collect()]  # ≤ B
    spark = target_counts.sparkSession
    counts = spark.createDataFrame(rows or [(0, 0, 0)],
                                   "b long, ct long, cr long")
    if not rows:
        counts = counts.filter(F.lit(False))
    ratios = counts.select(
        "b",
        (F.log((F.col("ct") + 1).cast("double"))
         - F.log((F.col("cr") + 1).cast("double"))).alias("lr"))
    totals = spark.createDataFrame(
        [(sum(r[1] for r in rows), sum(r[2] for r in rows))],
        "t_total long, r_total long")
    return {"ratios": ratios, "totals": totals, "buckets": buckets}


def dsir_weights(pool_counts: DataFrame, model: dict,
                 *, id_col: str = "doc_id") -> DataFrame:
    """(id, n_feats, logw): per-document importance log-weight of the
    pool under the fitted model. ``pool_counts`` is a
    doc_bucket_counts table (normally the same one the raw side of
    the model was fitted on). Broadcast join + one groupBy(id)
    shuffle; the per-doc fold runs over c·lr terms sorted by bucket
    id — a TOTAL order (buckets are distinct within a doc), so the
    sum is order-fixed on any partitioning and mirrored exactly by
    the oracle's ``list_reduce(list(c*lr ORDER BY b))``."""
    b = F.lit(model["buckets"]).cast("double")
    terms = (pool_counts
             .join(F.broadcast(model["ratios"]), "b", "left")
             .select(F.col(id_col), F.col("b"), F.col("c"),
                     (F.col("c").cast("double")
                      * F.coalesce("lr", F.lit(0.0))).alias("t")))
    folded = (terms.groupBy(id_col).agg(
        F.sum("c").alias("n_feats"),
        F.reduce(
            F.array_sort(F.collect_list(F.struct("b", "t"))),
            F.lit(0.0),
            lambda acc, x: acc + x["t"]).alias("_core")))
    return (folded.crossJoin(F.broadcast(model["totals"]))
            .select(
                F.col(id_col),
                F.col("n_feats"),
                (F.col("_core")
                 + F.col("n_feats").cast("double")
                 * (F.log(F.col("r_total").cast("double") + b)
                    - F.log(F.col("t_total").cast("double") + b)))
                .alias("logw")))
