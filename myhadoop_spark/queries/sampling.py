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

from pyspark.sql import Column, DataFrame, SparkSession, Window
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


# ---------------------------------------------------------------------------
# weighted sampling WITHOUT replacement (r6) — Efraimidis & Spirakis
# 2006: key_i = u_i^(1/w_i) with u_i uniform; the n largest keys are
# exactly a weight-proportional sample without replacement. One pass,
# no sequential state — THE distributed algorithm for "sample docs
# ∝ token count", and with the deterministic id-hash u_i it is
# reproducible on any engine/partitioning (the module's discipline).
# pow() is transcendental, but selection flips only if two keys
# collide within an ulp — with distinct 6-digit u's the margin is
# astronomically wider (and the differential would fail loudly at dev
# time, not flake: everything here is deterministic).
# ---------------------------------------------------------------------------

_WS_N = 50


def weighted_sample_keys(id_col: Column, weight_col: Column) -> Column:
    """The A-ES key u^(1/w): u from the deterministic id-hash
    (hash_bucket, 1e6 resolution, shifted off 0 and 1)."""
    u = ((hash_bucket(id_col, 1_000_000).cast("double") + F.lit(1.0))
         / F.lit(1_000_002.0))
    return F.pow(u, F.lit(1.0) / weight_col.cast("double"))


@register(
    "weighted_sample",
    oracle=f"""
    WITH t AS (SELECT doc_id, len({sql_tokens()}) AS w FROM documents),
    k AS (SELECT doc_id, w,
                 power((CAST({sql_hash_bucket('doc_id', 1000000)}
                        AS DOUBLE) + 1.0) / 1000002.0,
                       1.0 / CAST(w AS DOUBLE)) AS key
          FROM t WHERE w > 0)
    SELECT doc_id, w, rn FROM (
      SELECT doc_id, w,
             ROW_NUMBER() OVER (ORDER BY key DESC, doc_id ASC) AS rn
      FROM k) WHERE rn <= {_WS_N}
    """,
    tags=("sampling", "extension"),
    gate=False,
)
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, w, rn): the top-{N} token-count-weighted sample of the
    documents table, without replacement — longer documents
    proportionally more likely, every run and every engine selecting
    the identical set. The plan is one narrow projection + TakeOrdered
    (per-partition top-N combined at the merge — no global sort and no
    corpus-wide single-partition window); ranks attach to the N
    survivors afterwards."""
    docs = load(spark, sf_dir, "documents")
    toks = tokens()
    t = (docs.select("doc_id", F.size(toks).alias("w"))
         .filter(F.col("w") > 0))
    keyed = t.withColumn(
        "key", weighted_sample_keys(F.col("doc_id"), F.col("w")))
    # TakeOrdered first (per-partition top-N, no corpus-wide single-
    # partition window), THEN number the N survivors — the tiny window
    # runs over _WS_N rows only
    top = (keyed.orderBy(F.col("key").desc(), F.col("doc_id").asc())
           .limit(_WS_N))
    win = Window.orderBy(F.col("key").desc(), F.col("doc_id").asc())
    return (top.withColumn("rn", F.row_number().over(win))
            .select("doc_id", "w", "rn"))
