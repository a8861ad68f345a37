"""Corpus drift detection — the monitoring face of a continuously-fed
training pipeline: which terms' frequencies moved most between a
reference snapshot and the current corpus, scored by per-term
Jensen-Shannon divergence contribution.

    p(t) = ref count / ref tokens,  q(t) = cand count / cand tokens
    m(t) = (p + q) / 2
    jsc(t) = 0.5·p·ln(p/m) + 0.5·q·ln(q/m)     (absent side ⇒ 0 term)

Design for the cross-engine gate: there is NO corpus-wide float SUM
(whose addition order no engine guarantees) — the query emits the
TOP-K PER-TERM contributions, each a scalar expression mirrored
parenthesis-for-parenthesis in the oracle, with ln ulp differences
absorbed by the 1e-6 floor (the lm_perplexity / simsearch precedent)
and the RANKING computed on the FLOORED value (term ASC tie-break),
so ordering can never flip on a last-ulp disagreement. Counts are
exact integers. Scale shape: two narrow explode+count aggs, one
single-row totals broadcast, one top-K.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myhadoop_spark.catalog import load
from myhadoop_spark.functions.text import sql_tokens, tokens
from myhadoop_spark.registry import register
_TOP = 10


@register(
    "corpus_drift",
    oracle=f"""
    WITH t AS (SELECT doc_id % 20 = 0 AS is_ref,
                      unnest({sql_tokens()}) AS term FROM documents),
    c AS (SELECT term,
                 SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS ref_cnt,
                 SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS cand_cnt
          FROM t GROUP BY term),
    tot AS (SELECT SUM(ref_cnt) AS ref_n, SUM(cand_cnt) AS cand_n FROM c),
    d AS (SELECT term, ref_cnt, cand_cnt,
                 CAST(ref_cnt AS DOUBLE) / CAST(ref_n AS DOUBLE) AS p,
                 CAST(cand_cnt AS DOUBLE) / CAST(cand_n AS DOUBLE) AS q
          FROM c CROSS JOIN tot),
    j AS (SELECT term, ref_cnt, cand_cnt,
                 floor((
                   (CASE WHEN p > 0
                         THEN (0.5 * p) * ln(p / ((p + q) / 2.0))
                         ELSE 0.0 END)
                   + (CASE WHEN q > 0
                           THEN (0.5 * q) * ln(q / ((p + q) / 2.0))
                           ELSE 0.0 END)) * 1e6) / 1e6 AS js_contrib
          FROM d)
    SELECT term, CAST(ref_cnt AS BIGINT) AS ref_cnt,
           CAST(cand_cnt AS BIGINT) AS cand_cnt, js_contrib FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY js_contrib DESC,
                                   term ASC) AS rn FROM j)
    WHERE rn <= {_TOP}
    """,
    tags=("drift", "extension"),
    gate=False,
)
def corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(term, ref_cnt, cand_cnt, js_contrib): the {TOP} terms whose
    frequency shifted most between the reference split (doc_id%20==0)
    and the rest, by floored per-term JS contribution."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    t = docs.select((F.col("doc_id") % 20 == 0).alias("is_ref"),
                    F.explode(tokens("text")).alias("term"))
    c = t.groupBy("term").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("ref_cnt"),
        F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).alias("cand_cnt"))
    tot = c.agg(F.sum("ref_cnt").alias("ref_n"),
                F.sum("cand_cnt").alias("cand_n"))
    d = c.crossJoin(F.broadcast(tot)).select(
        "term", "ref_cnt", "cand_cnt",
        (F.col("ref_cnt").cast("double")
         / F.col("ref_n").cast("double")).alias("p"),
        (F.col("cand_cnt").cast("double")
         / F.col("cand_n").cast("double")).alias("q"))
    p, q = F.col("p"), F.col("q")
    m = (p + q) / F.lit(2.0)
    contrib = (F.when(p > 0, (F.lit(0.5) * p) * F.log(p / m))
               .otherwise(F.lit(0.0))
               + F.when(q > 0, (F.lit(0.5) * q) * F.log(q / m))
               .otherwise(F.lit(0.0)))
    j = d.select("term", "ref_cnt", "cand_cnt",
                 (F.floor(contrib * 1e6) / 1e6).alias("js_contrib"))
    # orderBy().limit() compiles to TakeOrdered (per-partition top-K +
    # merge) — an unpartitioned row_number window would instead move
    # the whole vocabulary through ONE task
    return (j.orderBy(F.col("js_contrib").desc(), F.col("term").asc())
            .limit(_TOP)
            .select("term", "ref_cnt", "cand_cnt", "js_contrib"))
