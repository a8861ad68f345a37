r"""Fuzzy (near-duplicate) benchmark decontamination — the cross-set
face of the MinHash-LSH dedup family: a corpus document is
contaminated when its token-set Jaccard against ANY benchmark
document reaches the threshold, even with no verbatim n-gram overlap
(operators/decontam.py covers the exact-collision face; this covers
paraphrase-level leakage, the "fuzzy decontamination" stage of the
published LLM data pipelines).

Spark-first shape — never all-pairs:

    corpus:  hashed token sets → 16 minhashes → 4 LSH band signatures
    bench:   the same (eval sets are KBs-MBs against a 100 TB corpus)
    candidates = corpus bands ⋈ BROADCAST bench bands on
                 (band, band_sig); exact Jaccard verify joins the
                 candidate pairs against the corpus sets
                 (hash-partitioned) and the BROADCAST bench sets;
                 threshold; per-doc summary aggregation.

With the bench side broadcast the corpus never shuffles for candidate
generation — the only wide ops are the candidate distinct and the
per-doc summary, both candidate-sized. ``broadcast_bench=False``
switches both joins to hash partitioning for bench sets too large for
the driver (then the LSH join is the banded-bucket shape of
dedup_minhash).

Both engines run the SAME LSH algorithm (identical affine family,
band width, 48→32-bit md5 token hashes), so candidate recall < 1 is
mirrored and the differential compares bitwise — the
dedup_minhash/ppjoin discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myhadoop_spark.catalog import load
from myhadoop_spark.functions.text import (
    JACCARD_THRESHOLD,
    SQL_MINHASH_CTES,
    hashed_token_set,
)
from myhadoop_spark.queries.dedup import minhash_signatures
from myhadoop_spark.registry import register
from myhadoop_spark.materialize import materialize


def fuzzy_contaminated(spark: SparkSession, corpus_sets: DataFrame,
                       bench_sets: DataFrame, *,
                       threshold: float = JACCARD_THRESHOLD,
                       broadcast_bench: bool = True) -> DataFrame:
    """(doc_id, bench_id, jaccard): every (corpus doc, bench doc)
    candidate pair whose exact token-set Jaccard >= threshold.
    ``*_sets`` are (doc_id, toks) frames of hashed token sets
    (functions/text.py::hashed_token_set)."""
    maybe_b = F.broadcast if broadcast_bench else (lambda d: d)
    sig_c = minhash_signatures(spark, "", sets=corpus_sets)
    sig_b = minhash_signatures(spark, "", sets=bench_sets)
    cand = (sig_c.select(F.col("doc_id"), "band", "band_sig")
            .join(maybe_b(sig_b.select(
                F.col("doc_id").alias("bench_id"), "band", "band_sig")),
                ["band", "band_sig"])
            .select("doc_id", "bench_id")
            .distinct())
    s1 = corpus_sets.select("doc_id", F.col("toks").alias("s1"))
    s2 = bench_sets.select(F.col("doc_id").alias("bench_id"),
                           F.col("toks").alias("s2"))
    inter = F.size(F.array_intersect("s1", "s2")).cast("double")
    tot = (F.size("s1") + F.size("s2")).cast("double")
    # keep the verify wide: pairs are small in bytes but each costs an
    # int-set intersect (the dedup_minhash AQE-coalescing pin)
    par = spark.sparkContext.defaultParallelism
    jac = (cand.repartition(par, "doc_id")
           .join(s1, "doc_id").join(maybe_b(s2), "bench_id")
           .select("doc_id", "bench_id",
                   (inter / (tot - inter)).alias("jaccard")))
    return jac.filter(F.col("jaccard") >= F.lit(threshold))


def fuzzy_decontam(spark: SparkSession, corpus: DataFrame,
                   bench: DataFrame, *,
                   threshold: float = JACCARD_THRESHOLD,
                   broadcast_bench: bool = True) -> DataFrame:
    """The drop face: ``corpus`` rows whose text is NOT a near-dup of
    any ``bench`` row (both are (doc_id, text, ...) frames)."""
    cs = corpus.select("doc_id", hashed_token_set("text").alias("toks"))
    bs = bench.select("doc_id", hashed_token_set("text").alias("toks"))
    hits = (fuzzy_contaminated(spark, cs, bs, threshold=threshold,
                               broadcast_bench=broadcast_bench)
            .select("doc_id").distinct())
    return corpus.join(hits, "doc_id", "left_anti")


_BENCH = "doc_id % 17 = 3"


@register(
    "fuzzy_decontam",
    oracle=rf"""
    WITH {SQL_MINHASH_CTES},
    cand AS (SELECT DISTINCT c.doc_id, b.doc_id AS bench_id
             FROM bsig c JOIN bsig b
               ON c.band = b.band AND c.band_sig = b.band_sig
              AND NOT (c.doc_id % 17 = 3) AND b.doc_id % 17 = 3),
    ds AS (SELECT doc_id, list_sort(list_distinct(list(th))) AS s
           FROM th GROUP BY doc_id),
    j AS (SELECT cand.doc_id, cand.bench_id,
                 CAST(len(list_intersect(s1.s, s2.s)) AS DOUBLE) AS i,
                 CAST(len(s1.s) + len(s2.s) AS DOUBLE) AS t
          FROM cand JOIN ds s1 ON cand.doc_id = s1.doc_id
                    JOIN ds s2 ON cand.bench_id = s2.doc_id)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
           max(i / (t - i)) AS best_jaccard
    FROM j WHERE i / (t - i) >= {JACCARD_THRESHOLD}
    GROUP BY doc_id ORDER BY doc_id
    """,
    gate=True,  # promoted r12 — fuzzy decontamination pin (VERDICT r11 #1)
    tags=("dedup", "curation", "extension"),
)
def fuzzy_decontam_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_hits, best_jaccard): per contaminated corpus doc,
    how many benchmark near-dups it has and the best Jaccard — the
    fuzzy-decontamination report over documents, with docs
    doc_id % 17 == 3 playing the held-out benchmark and the rest the
    corpus. Both engines run the identical LSH → exact-verify
    algorithm, so the report compares bitwise."""
    docs = load(spark, sf_dir, "documents")
    corpus = docs.filter(~(F.col("doc_id") % 17 == 3))
    bench = docs.filter(F.col("doc_id") % 17 == 3)
    cs = (corpus.repartition(spark.sparkContext.defaultParallelism)
          .select("doc_id", hashed_token_set("text").alias("toks"))
          .transform(materialize))
    bs = bench.select("doc_id", hashed_token_set("text").alias("toks"))
    hits = fuzzy_contaminated(spark, cs, bs)
    return (hits.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_hits"),
                 F.max("jaccard").alias("best_jaccard"))
            .orderBy("doc_id"))
