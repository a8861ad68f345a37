"""corpus_prep — the end-to-end training-data preparation pipeline as a
single declared query: normalize → exact-dedup (content hash, keep
lowest doc_id) → quality gate → language gate → tokenize/stat. This is
the composition story: every stage is one of the engine's operators, the
whole chain is one Catalyst plan with exactly one shuffle (the dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from myhadoop_spark.catalog import load
from myhadoop_spark.functions.text import sql_tokens, tokens
from myhadoop_spark.queries.text import STOPWORDS, _hits, _sql_hits
from myhadoop_spark.registry import register

MIN_TOKENS = 30
MIN_QUALITY = 0.5


@register(
    "corpus_prep",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, lang, lower(trim(text)) AS text
      FROM documents
    ),
    dedup AS (
      SELECT doc_id, lang, text,
             ROW_NUMBER() OVER (PARTITION BY md5(text)
                                ORDER BY doc_id ASC) AS rn
      FROM norm
    ),
    toks AS (
      SELECT doc_id, lang, text, {sql_tokens('text')} AS t
      FROM dedup WHERE rn = 1
    ),
    stats AS (
      SELECT doc_id, lang,
             CAST(len(t) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(t)) AS DOUBLE) AS n_distinct,
             CAST({_sql_hits('t', STOPWORDS)} AS DOUBLE) AS stop_hits
      FROM toks
    ),
    scored AS (
      SELECT doc_id, lang, n_tokens,
             0.4 * least(1.0, n_tokens / 50.0)
               + 0.3 * (n_distinct / n_tokens)
               + 0.3 * (1.0 - stop_hits / n_tokens) AS quality
      FROM stats
    )
    SELECT doc_id, lang, n_tokens, quality
    FROM scored
    WHERE n_tokens >= {MIN_TOKENS} AND quality >= {MIN_QUALITY}
      AND lang IN ('en', 'de', 'fr', 'es', 'zh')
    """,
    tags=("pipeline", "dedup", "text", "extension"),
)
def corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full prep chain a 100 TB corpus would run: normalization and
    scoring are narrow projections; exact dedup is the single shuffle
    (on md5(text)); the quality/language gates prune before anything
    wide happens downstream. Survivors carry token counts + quality for
    downstream sampling."""
    docs = load(spark, sf_dir, "documents")
    norm = docs.select(
        "doc_id", "lang", F.lower(F.trim(F.col("text"))).alias("text"))
    w = Window.partitionBy(F.md5("text")).orderBy(F.col("doc_id").asc())
    dedup = (
        norm.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    toks = tokens("text")
    n_tokens = F.size(toks).cast("bigint")
    n_distinct = F.size(F.array_distinct(toks)).cast("double")
    stop_hits = _hits(toks, STOPWORDS).cast("double")
    quality = (
        F.lit(0.4) * F.least(F.lit(1.0), n_tokens.cast("double") / F.lit(50.0))
        + F.lit(0.3) * (n_distinct / n_tokens.cast("double"))
        + F.lit(0.3) * (F.lit(1.0) - stop_hits / n_tokens.cast("double"))
    )
    scored = dedup.select(
        "doc_id", "lang",
        n_tokens.alias("n_tokens"),
        quality.alias("quality"),
    )
    return scored.filter(
        (F.col("n_tokens") >= MIN_TOKENS)
        & (F.col("quality") >= MIN_QUALITY)
        & F.col("lang").isin("en", "de", "fr", "es", "zh")
    )
