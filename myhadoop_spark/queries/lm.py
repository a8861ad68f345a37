"""LM-perplexity quality queries (operators/lm_filter.py) — the
KenLM-shaped curation signals as (ungated) DuckDB differentials.

``lm_perplexity``: train the add-α bigram LM on the reference split
(doc_id % 20 == 0, the curation_gate bench-split convention), score
the remaining documents. ln/exp are last-ulp-unsafe across engines
(the bm25 measurement), so the compared ppl is floored at 1e-6 — the
simsearch cosine precedent; the fixed-order fold itself is mirrored
exactly (Spark F.reduce with 0.0 init ≡ DuckDB list_reduce, since
0.0 + x == x for the strictly-negative log-probs).

``ccnet_buckets``: the CCNet head/middle/tail split (Wenzek et al.
2020, arXiv:1911.00359) over those perplexities — per-language tertile
THRESHOLDS (exact interpolated quantiles of the floored ppl, a
few-rows-per-language aggregate) broadcast back and applied by VALUE
comparison. Deliberately not a rank window partitioned by language:
with a handful of languages that window is a near-single-partition
sort at 100 TB, while threshold-compare keeps the corpus side narrow —
and value thresholds are what CCNet itself ships (thresholds computed
once, applied per shard). Quantile inputs are the 1e-6-floored ppls,
bitwise identical on both engines; Spark's exact ``percentile`` and
DuckDB's ``quantile_cont`` share the h = p·(n−1) linear-interpolation
definition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myhadoop_spark.catalog import load
from myhadoop_spark.functions.text import sql_tokens
from myhadoop_spark.operators.lm_filter import (
    ALPHA,
    score_perplexity,
    train_bigram_lm,
)
from myhadoop_spark.registry import register
from myhadoop_spark.materialize import materialize


# shared CTE chain: documents → add-α bigram LM on the doc_id%20==0
# reference split → per-candidate floored perplexity in `scored`
_PPL_CTES = f"""
    t AS (SELECT doc_id, lang, {sql_tokens()} AS toks FROM documents),
    ref AS (SELECT toks FROM t WHERE doc_id % 20 = 0 AND len(toks) > 0),
    uni AS (SELECT w1, count(*) AS c1
            FROM (SELECT unnest(toks) AS w1 FROM ref) GROUP BY w1),
    big AS (SELECT bg.w1 AS w1, bg.w2 AS w2, count(*) AS c2 FROM (
              SELECT unnest(list_transform(
                       generate_series(1, len(toks) - 1),
                       i -> struct_pack(w1 := toks[i],
                                        w2 := toks[i + 1]))) AS bg
              FROM ref WHERE len(toks) >= 2) GROUP BY bg.w1, bg.w2),
    v AS (SELECT count(*) AS vs FROM uni),
    cand AS (SELECT doc_id, len(toks) AS n, toks FROM t
             WHERE doc_id % 20 <> 0 AND len(toks) >= 2),
    pairs AS (SELECT doc_id, n, bg.pos AS pos, bg.w1 AS w1, bg.w2 AS w2
              FROM (SELECT doc_id, n,
                      unnest(list_transform(
                        generate_series(1, n - 1),
                        i -> struct_pack(pos := i, w1 := toks[i],
                                         w2 := toks[i + 1]))) AS bg
                    FROM cand)),
    lp AS (SELECT p.doc_id, p.n, p.pos,
             ln((CAST(coalesce(b.c2, 0) AS DOUBLE) + {ALPHA})
                / (CAST(coalesce(u.c1, 0) AS DOUBLE)
                   + ({ALPHA} * CAST(v.vs AS DOUBLE)))) AS lp
           FROM pairs p
           LEFT JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
           LEFT JOIN uni u ON p.w1 = u.w1
           CROSS JOIN v),
    scored AS (SELECT doc_id, n - 1 AS n_bigrams,
                 floor(exp(-(list_reduce(list(lp ORDER BY pos),
                                         (a, b) -> a + b))
                           / CAST(n - 1 AS DOUBLE)) * 1e6) / 1e6 AS ppl
               FROM lp GROUP BY doc_id, n)
"""

_P1 = 1.0 / 3.0
_P2 = 2.0 / 3.0


def _floored_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_bigrams, ppl): the Spark side of `scored`."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    lm = train_bigram_lm(docs.filter(F.col("doc_id") % 20 == 0))
    out = score_perplexity(docs.filter(F.col("doc_id") % 20 != 0),
                           lm, broadcast_lm=True)
    return out.select(
        "doc_id", "n_bigrams",
        (F.floor(F.col("ppl") * 1e6) / 1e6).alias("ppl"))


@register(
    "lm_perplexity",
    oracle=f"""
    WITH {_PPL_CTES}
    SELECT doc_id, n_bigrams, ppl FROM scored
    """,
    tags=("lm", "extension"),
    gate=False,
)
def lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_bigrams, ppl): add-α bigram perplexity of the
    non-reference documents under the reference-split LM, ppl floored
    at 1e-6 for the cross-engine comparison."""
    return _floored_ppl(spark, sf_dir)


@register(
    "ccnet_buckets",
    oracle=f"""
    WITH {_PPL_CTES},
    s AS (SELECT sc.doc_id, d.lang, sc.ppl
          FROM scored sc JOIN documents d ON sc.doc_id = d.doc_id),
    th AS (SELECT lang,
                  quantile_cont(ppl, {_P1!r}) AS t1,
                  quantile_cont(ppl, {_P2!r}) AS t2
           FROM s GROUP BY lang)
    SELECT s.doc_id, s.lang, s.ppl,
           CASE WHEN s.ppl <= th.t1 THEN 'head'
                WHEN s.ppl <= th.t2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM s JOIN th ON s.lang = th.lang
    """,
    tags=("lm", "curation", "extension"),
    gate=False,
)
def ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, ppl, bucket): every scored document labelled
    head / middle / tail by per-language perplexity tertile thresholds
    (lower perplexity = more reference-like = head)."""
    langs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    # materialize once: the threshold aggregate AND the final join both
    # read `s` — without this the whole LM train+score pipeline (the
    # expensive part) executes twice in one action
    s = (_floored_ppl(spark, sf_dir).join(langs, "doc_id")
         .transform(materialize))
    th = s.groupBy("lang").agg(
        F.percentile("ppl", F.lit(_P1)).alias("t1"),
        F.percentile("ppl", F.lit(_P2)).alias("t2"))
    return (s.join(F.broadcast(th), "lang")
            .select("doc_id", "lang", "ppl",
                    F.when(F.col("ppl") <= F.col("t1"), "head")
                    .when(F.col("ppl") <= F.col("t2"), "middle")
                    .otherwise("tail").alias("bucket")))
