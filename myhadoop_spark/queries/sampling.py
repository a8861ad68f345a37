"""Deterministic sampling operators for training-data pipelines.

Random sampling (`df.sample`) is seed- and partitioning-dependent —
unreproducible across engines and across reruns on different cluster
layouts. Pipelines that must be auditable sample by CONTENT HASH:
hash(id) mod N < k selects a stable pseudo-random k/N fraction that any
engine reproduces bit-for-bit, survives repartitioning, and composes
(the same doc lands in the same split everywhere). md5-derived hashes
keep it engine-portable (functions/text.py::hash_bucket).

All four sampling strategies are declared as ONE tagged battery query
(`sampling`) so the driver gate checks every method in a single row:
  hash20      deterministic ~20% id-hash sample
  split_*     80/10/10 train/val/test assignment
  strat20     exactly 20 docs per language stratum
  qweighted   acceptance sampling with probability ∝ quality
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from myhadoop_spark.catalog import load
from myhadoop_spark.functions.text import (
    hash_bucket,
    sql_hash_bucket,
    sql_tokens,
    tokens,
)
from myhadoop_spark.registry import register




@register(
    "sampling",
    oracle=f"""
    WITH b AS (SELECT doc_id, lang,
                      {sql_hash_bucket('doc_id', 100)} AS bucket
               FROM documents),
    t AS (SELECT doc_id, lang, {sql_tokens()} AS toks FROM documents),
    q AS (SELECT doc_id, lang,
                 0.5 * least(1.0, CAST(len(toks) AS DOUBLE) / 50.0)
                   + 0.5 * (CAST(len(list_distinct(toks)) AS DOUBLE)
                            / CAST(len(toks) AS DOUBLE)) AS quality
          FROM t WHERE len(toks) > 0),
    r AS (SELECT doc_id, lang,
                 ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY {sql_hash_bucket('doc_id', 1000000)}
                            ASC, doc_id ASC) AS rn
          FROM documents)
    SELECT 'hash20' AS method, doc_id, lang FROM b WHERE bucket < 20
    UNION ALL
    SELECT concat('split_', CASE WHEN bucket < 80 THEN 'train'
                                 WHEN bucket < 90 THEN 'val'
                                 ELSE 'test' END), doc_id, lang FROM b
    UNION ALL
    SELECT 'strat20', doc_id, lang FROM r WHERE rn <= 20
    UNION ALL
    SELECT 'qweighted', doc_id, lang FROM q
    WHERE CAST({sql_hash_bucket('doc_id', 1000)} AS DOUBLE) / 1000.0
          < quality * 0.5
    """,
    tags=("sampling", "extension"),
)
def sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sampling battery (method, doc_id, lang):

      * ``hash20`` — ~20% sample by id-hash bucket;
      * ``split_train/val/test`` — 80/10/10 assignment by the same
        bucket, reproducible on any engine / partitioning / rerun;
      * ``strat20`` — exactly 20 docs per language, rank by id-hash
        within each stratum (one shuffle on the stratum key; the
        per-stratum top-k goes through partial top-k, not a full sort);
      * ``qweighted`` — acceptance sampling with probability ∝ a
        quality heuristic (id-hash uniform < quality/2), so better
        documents are kept more often, still deterministically.

    Every method is a narrow projection + filter except strat20's one
    bounded window; nothing here collects or depends on row order."""
    docs = load(spark, sf_dir, "documents")
    b = hash_bucket(F.col("doc_id"))
    hash20 = docs.filter(b < 20).select(
        F.lit("hash20").alias("method"), "doc_id", "lang")
    split = docs.select(
        F.concat(F.lit("split_"),
                 F.when(b < 80, "train").when(b < 90, "val").otherwise("test"))
        .alias("method"),
        "doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(
        hash_bucket(F.col("doc_id"), 1_000_000).asc(), F.col("doc_id").asc())
    strat = (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select(F.lit("strat20").alias("method"), "doc_id", "lang")
    )
    toks = tokens()
    n_tokens = F.size(toks).cast("double")
    n_distinct = F.size(F.array_distinct(toks)).cast("double")
    quality = (F.lit(0.5) * F.least(F.lit(1.0), n_tokens / F.lit(50.0))
               + F.lit(0.5) * (n_distinct / n_tokens))
    u = hash_bucket(F.col("doc_id"), 1000).cast("double") / F.lit(1000.0)
    qweighted = (
        docs.filter(F.size(toks) > 0)
        .filter(u < quality * 0.5)
        .select(F.lit("qweighted").alias("method"), "doc_id", "lang")
    )
    return hash20.unionAll(split).unionAll(strat).unionAll(qweighted)
