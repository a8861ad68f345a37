"""Language-identification differential (operators/langid.py): train
the hashed char-trigram scorer on the 80% split of ``documents``
(doc_id % 5 != 0, fixture labels as the teacher) and predict the held
20% — the CCNet langid stage as one deterministic train+score plan.

Every number is an integer (n-gram counts, fixed-point DIV rates,
score sums), computed identically on both engines, so the compare is
bitwise: same weights, same dense scores, same argmax (score DESC,
lang ASC tie-break — featureless docs score 0 everywhere and resolve
to the lexicographically smallest language on both sides).

NOTE the fixture's ``lang`` label is synthetic and NOT derivable from
its text (all languages share one vocabulary; token-rate spreads are
~1%), so this differential pins train/predict DETERMINISM — the
held-out ACCURACY bound lives in tests/test_langid.py on a corpus
whose languages genuinely differ (distinct alphabets / skewed
character rates), where the scorer must actually separate them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myhadoop_spark.catalog import load_wide
from myhadoop_spark.functions.text import sql_hash_bucket
from myhadoop_spark.operators.langid import predict_lang, train_langid
from myhadoop_spark.registry import register

_SQL_GRAMS = ("list_transform(generate_series(1, length(t) - 2), "
              "i -> substring(t, i, 3))")


@register(
    "langid_predict",
    oracle=f"""
    WITH docs AS (SELECT doc_id, coalesce(lang, '') AS lang,
                         lower(coalesce(text, '')) AS t
                  FROM documents),
    tr AS (SELECT lang, {sql_hash_bucket('g', 4096)} AS bucket
           FROM (SELECT lang, unnest({_SQL_GRAMS}) AS g
                 FROM docs WHERE doc_id % 5 <> 0)),
    wt AS (SELECT lang, bucket,
                  CAST(COUNT(*) * 1000000
                       // SUM(COUNT(*)) OVER (PARTITION BY lang)
                       AS BIGINT) AS w
           FROM tr GROUP BY lang, bucket),
    hf AS (SELECT doc_id, {sql_hash_bucket('g', 4096)} AS bucket
           FROM (SELECT doc_id, unnest({_SQL_GRAMS}) AS g
                 FROM docs WHERE doc_id % 5 = 0)),
    sums AS (SELECT doc_id, lang, CAST(SUM(w) AS BIGINT) AS s
             FROM hf JOIN wt USING (bucket) GROUP BY doc_id, lang),
    dense AS (SELECT d.doc_id, l.lang,
                     CAST(coalesce(s.s, 0) AS BIGINT) AS score
              FROM (SELECT doc_id FROM docs WHERE doc_id % 5 = 0) d
              CROSS JOIN (SELECT DISTINCT lang FROM wt) l
              LEFT JOIN sums s
                ON s.doc_id = d.doc_id AND s.lang = l.lang),
    pick AS (SELECT doc_id, lang AS pred_lang, score,
                    ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, lang ASC)
                      AS rn
             FROM dense)
    SELECT p1.doc_id, p1.pred_lang, p1.score,
           CAST(p1.score - coalesce(p2.score, 0) AS BIGINT) AS margin
    FROM (SELECT * FROM pick WHERE rn = 1) p1
    LEFT JOIN (SELECT doc_id, score FROM pick WHERE rn = 2) p2
      USING (doc_id)
    ORDER BY doc_id
    """,
    gate=True,  # promoted into the driver gate window in r11 (VERDICT r10 #1)
    tags=("text", "curation", "extension"),
)
def langid_predict_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pred_lang, score, margin): hashed char-trigram language
    predictions for the held 20% of documents, trained on the rest;
    margin = best − second-best score, the CCNet-style confidence
    signal."""
    docs = load_wide(spark, sf_dir, "documents")
    weights = train_langid(docs.filter(F.col("doc_id") % 5 != 0))
    held = docs.filter(F.col("doc_id") % 5 == 0)
    return predict_lang(held, weights).orderBy("doc_id")
