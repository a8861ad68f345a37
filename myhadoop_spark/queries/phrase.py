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


# standing phrase alerts for the percolation face — one constant
# drives BOTH the Spark query table and the DuckDB oracle, so the two
# sides cannot desynchronize. q3's anchor term never occurs in the
# fixture (the no-hit path must stay silent, not error).
STANDING_PHRASES = {
    "q_part_filter": ["part", "filter"],
    "q_scan_3": ["table", "key", "scan"],
    "q_never": ["zebra", "table"],
}


def _phrase_block(qid: str, phrase: list[str]) -> str:
    k = len(phrase)
    conds = " AND ".join(f"toks[i + {j}] = '{t}'"
                         for j, t in enumerate(phrase))
    return (f"SELECT doc_id, '{qid}' AS query_id, "
            f"len(list_filter(generate_series(1, greatest(len(toks) - {k - 1}, 0)), "
            f"i -> {conds})) AS n_occurrences FROM t")


@register(
    "phrase_percolate",
    oracle="WITH t AS (SELECT doc_id, " + sql_tokens() + " AS toks FROM documents), "
           "u AS (" + " UNION ALL ".join(
               _phrase_block(qid, ph)
               for qid, ph in STANDING_PHRASES.items()) + ") "
           "SELECT doc_id, query_id, n_occurrences FROM u "
           "WHERE n_occurrences > 0",
    tags=("search", "percolate", "extension"),
    gate=False,
)
def phrase_percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse phrase search (operators/percolate.percolate_phrases):
    the standing phrase table is broadcast with one anchor term per
    phrase; the document side stays exchange-free (exploded distinct
    tokens carrying the token array, broadcast hash join, in-place
    positional verify). Integer occurrence counts — bitwise
    cross-engine."""
    from myhadoop_spark.operators.percolate import percolate_phrases

    queries = spark.createDataFrame(
        [(qid, ph) for qid, ph in STANDING_PHRASES.items()],
        "query_id string, phrase array<string>")
    return percolate_phrases(load(spark, sf_dir, "documents"), queries)
