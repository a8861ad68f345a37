"""Exact phrase search — the positional half of the lexical-search
surface. Two faces with pinned equality:

  * this module's direct from-text count: one shuffle-free narrow
    expression over the token array (for i in [0, n-k]: all k phrase
    slots match — F.filter over a position sequence, JVM-side), with
    a bitwise DuckDB oracle (`phrase_search`, counts are integers);
  * the index-backed ``phrase_search_index`` (operators/bm25_index.py)
    answering the same query from positional postings, reading only
    the phrase terms' shard directories — equality with this direct
    count is pinned in tests/test_bm25_index.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from myhadoop_spark.catalog import load
from myhadoop_spark.functions.text import sql_tokens, tokens
from myhadoop_spark.registry import register

PHRASE = ["part", "filter"]


def count_phrase_col(toks: Column, phrase: list[str]) -> Column:
    """Occurrences of the consecutive ``phrase`` inside a token array:
    filter the anchor positions [1, n−k+1] keeping those where every
    phrase slot matches — pure built-in expressions, shuffle-free."""
    k = len(phrase)

    def _match(i):
        m = F.element_at(toks, i) == F.lit(phrase[0])
        for off in range(1, k):
            m = m & (F.element_at(toks, i + off) == F.lit(phrase[off]))
        return m

    # guard: F.sequence(1, 0) counts DOWN ([1, 0]) rather than being
    # empty, which would probe element_at out of range under ANSI —
    # short docs get an explicitly empty anchor list
    anchors = F.when(
        F.size(toks) >= k,
        F.sequence(F.lit(1), F.size(toks) - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.size(F.filter(anchors, _match))


@register(
    "phrase_search",
    oracle=f"""
    WITH t AS (SELECT doc_id, {sql_tokens()} AS toks FROM documents),
    c AS (SELECT doc_id,
                 len(list_filter(
                   generate_series(1, greatest(len(toks) - 1, 0)),
                   i -> toks[i] = 'part' AND toks[i + 1] = 'filter'))
                 AS n_occurrences
          FROM t)
    SELECT doc_id, n_occurrences FROM c WHERE n_occurrences > 0
    """,
    tags=("search", "extension"),
    gate=False,
)
def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_occurrences) of the fixture phrase — exact integer
    counts, bitwise cross-engine."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("_toks"))
    return (toks.select(
        "doc_id",
        count_phrase_col(F.col("_toks"), PHRASE).alias("n_occurrences"))
        .filter(F.col("n_occurrences") > 0))

