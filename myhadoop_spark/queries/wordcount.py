"""WordCount — the reference's flagship (and only registered) query.

Reference semantics (/root/reference/app.py:6-14, datanode.py:598-607):
tokenize each line with ``str.split()`` (any whitespace run, no empties),
emit (word, 1), fold counts by key with ``+``. Here: split/explode +
groupBy().count() — Spark's partial/final HashAggregate is the exact
analog of the reference's combiner + final reduce two-round fold
(/root/reference/utilities.py:170-185).

Scale: the shuffle carries (word, partial_count) pairs after map-side
combine — same data-volume reduction the reference's ICPP/NEW plans buy
with their local-reduce phase (/root/reference/datanode.py:449-496).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myhadoop_spark.catalog import load
from myhadoop_spark.registry import register


def wordcount_df(text_df: DataFrame, column: str = "text") -> DataFrame:
    """word → count over a string column, reference tokenization: the
    tokens of functions/text.py (see its ASCII-whitespace parity
    caveat), in the explode-then-filter form."""
    words = text_df.select(
        F.explode(F.split(F.col(column), r"\s+")).alias("word")
    ).filter(F.col("word") != "")
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "wc",
    oracle=r"""
    SELECT word, COUNT(*) AS cnt
    FROM (SELECT unnest(string_split_regex(text, '\s+')) AS word
          FROM documents) t
    WHERE word <> ''
    GROUP BY word
    """,
    tags=("wordcount", "reference-parity"),
)
def wc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordCount over documents.text with reference tokenization."""
    return wordcount_df(load(spark, sf_dir, "documents"), "text")


def wordcount_text_dir(spark: SparkSession, path: str) -> DataFrame:
    """WordCount straight off a text directory — the reference's actual
    input layout (one dataset = one dir of plain files,
    /root/reference/tools.py:132-163)."""
    return wordcount_df(spark.read.text(path), "value")
