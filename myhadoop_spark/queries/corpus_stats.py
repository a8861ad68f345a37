"""Corpus-level text analytics: per-document TF-IDF top terms, a
statistic a training-data pipeline computes before and after curation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from myhadoop_spark.catalog import load
from myhadoop_spark.functions.text import sql_tokens, tokens
from myhadoop_spark.registry import register

# ---------------------------------------------------------------------------
# TF-IDF (rational idf — ln() differs across engines in the last ulp,
# so the idf factor is kept as an exact ratio)
# ---------------------------------------------------------------------------


@register(
    "tfidf_top_terms",
    oracle=rf"""
    WITH toks AS (SELECT doc_id, unnest({sql_tokens('text')}) AS term
                  FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
           GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (SELECT tf.doc_id, tf.term,
                      CAST(tf.tf AS DOUBLE) * (SELECT n_docs FROM n) / df.df
                        AS tfidf
               FROM tf JOIN df ON tf.term = df.term),
    r AS (SELECT doc_id, term, tfidf,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY tfidf DESC, term ASC) AS rn
          FROM scored)
    SELECT doc_id, term, tfidf, CAST(rn AS INT) AS rn
    FROM r WHERE rn <= 3
    """,
    tags=("text", "extension"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf·(N/df) — linear
    idf so every score is a ratio of exact integers (bit-identical
    across engines, unlike log-idf whose libm rounding differs)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens()).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    # lazy corpus size — an eager .count() here would run an extra scan
    # job at every plan build (same pattern as vocab_coverage)
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .select("doc_id", "term",
                (F.col("tf").cast("double") * F.col("n_docs") / F.col("df"))
                .alias("tfidf"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(),
                                             F.col("term").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf", "rn")
    )
