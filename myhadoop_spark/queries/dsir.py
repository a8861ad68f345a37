"""DSIR data-selection query (operators/dsir.py) as a DuckDB
differential: fit the hashed-n-gram importance model with the
English doc_id%10==0 slice as the trusted target, score the rest of
the corpus as the raw pool, keep the top-k.

Ranking for the cross-engine compare uses the FLOORED weight (ties →
doc_id ascending) on BOTH sides so last-ulp ln() drift cannot reorder
the cut. This query is the engine's one DSIR selection: it composes
the operator's three primitives itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myhadoop_spark.catalog import load_wide
from myhadoop_spark.functions.text import sql_hash_bucket, sql_tokens
from myhadoop_spark.operators.dsir import (
    bucket_log_ratios,
    doc_bucket_counts,
    dsir_weights,
)
from myhadoop_spark.registry import register
from myhadoop_spark.materialize import materialize

_B = 4096
_K = 100



@register(
    "dsir_select",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {sql_tokens()} AS toks FROM documents),
    f AS (SELECT doc_id,
                 (coalesce(lang, '') = 'en' AND doc_id % 10 = 0) AS is_t,
                 list_concat(toks,
                   list_transform(generate_series(1, len(toks) - 1),
                                  i -> toks[i] || ' ' || toks[i + 1]))
                   AS feats
          FROM t WHERE len(toks) > 0),
    occ AS (SELECT doc_id, is_t,
                   {sql_hash_bucket('ft', _B)} AS b
            FROM (SELECT doc_id, is_t, unnest(feats) AS ft FROM f)),
    pc AS (SELECT doc_id, is_t, b, COUNT(*) AS c
           FROM occ GROUP BY doc_id, is_t, b),
    c AS (SELECT b,
                 SUM(CASE WHEN is_t THEN c ELSE 0 END) AS ct,
                 SUM(CASE WHEN is_t THEN 0 ELSE c END) AS cr
          FROM pc GROUP BY b),
    lr AS (SELECT b, ln(CAST(ct + 1 AS DOUBLE))
                      - ln(CAST(cr + 1 AS DOUBLE)) AS lr FROM c),
    tot AS (SELECT CAST(SUM(ct) AS DOUBLE) AS t_total,
                   CAST(SUM(cr) AS DOUBLE) AS r_total FROM c),
    terms AS (SELECT p.doc_id, p.b,
                     CAST(p.c AS DOUBLE) * coalesce(lr.lr, 0.0) AS t,
                     p.c
              FROM pc p LEFT JOIN lr ON p.b = lr.b
              WHERE NOT p.is_t),
    w AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_feats,
                 list_reduce(list(t ORDER BY b), (a, x) -> a + x)
                   AS core
          FROM terms GROUP BY doc_id)
    SELECT doc_id, n_feats,
           floor((core + CAST(n_feats AS DOUBLE)
                  * (ln(r_total + {_B}.0) - ln(t_total + {_B}.0)))
                 * 1e6) / 1e6 AS logw
    FROM w CROSS JOIN tot
    ORDER BY logw DESC, doc_id ASC
    LIMIT {_K}
    """,
    tags=("dsir", "curation", "extension"),
    # r8: gated on arrival — the named data-selection method of the
    # LLM-curation surface, bitwise at both SFs in both local harnesses,
    # with a real broadcast/shuffle scale story (dsir_scaling.tsv)
)
def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_feats, logw): the {K} raw-pool documents whose
    hashed-n-gram distribution is most target-like, logw floored at
    1e-6. Target = English doc_id%10==0 slice; pool = everything
    else."""
    # load_wide: the md5-per-occurrence feature pipeline is compute-
    # dense narrow work — widen the single-split fixture scan (no-op
    # on real multi-file data)
    docs = load_wide(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text")
    # coalesce: a NULL lang must fall on the POOL side in BOTH engines
    # (bare `lang == 'en'` is NULL there — Spark's filter(~is_t) would
    # drop the row while the oracle's CASE/NOT branches disagree)
    is_t = ((F.coalesce(F.col("lang"), F.lit("")) == "en")
            & (F.col("doc_id") % 10 == 0))
    t_cnt = doc_bucket_counts(docs.filter(is_t), buckets=_B)
    # ONE pool text pass: the count table is materialized and read by
    # the fit's bounded collect and then the scoring join
    p_cnt = doc_bucket_counts(docs.filter(~is_t),
                              buckets=_B).transform(materialize)
    model = bucket_log_ratios(t_cnt, p_cnt, buckets=_B)
    scored = dsir_weights(p_cnt, model)
    return (scored
            .select("doc_id", "n_feats",
                    (F.floor(F.col("logw") * 1e6) / 1e6).alias("logw"))
            .orderBy(F.desc("logw"), F.asc("doc_id"))
            .limit(_K))
