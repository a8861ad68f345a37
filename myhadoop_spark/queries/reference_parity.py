"""Reference-corpus parity query: WordCount over a corpus in the
reference's own input layout, oracle-verified.

This is the reference's production workload (run_client_times.py
hardwires ``wordcount/<volume>``; tokenization semantics
datanode.py:598-603, fold app.py:13-14) run through the engine's
DataFrame path AND hash-matched against DuckDB reading the same raw
text files. The corpus is the committed, seed-generated
``myhadoop_spark/data/wordcount/combined_*`` (scripts/
gen_wordcount_corpus.py): pre-lowercased, whitespace-tokenised text
files like the reference's inputs. The sf_dir parameter is ignored:
the corpus is fixed (and tiny — 64 KiB).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from myhadoop_spark.queries.wordcount import wordcount_text_dir
from myhadoop_spark.registry import register

REF_CORPUS = str(Path(__file__).resolve().parent.parent
                 / "data" / "wordcount")


@register(
    "wc_reference_corpus",
    oracle=rf"""
    SELECT word, COUNT(*) AS cnt
    FROM (SELECT unnest(string_split_regex(content, '\s+')) AS word
          FROM read_text('{REF_CORPUS}/combined_*')) t
    WHERE word <> ''
    GROUP BY word
    """,
    tags=("wordcount", "reference-parity"),
)
def wc_reference_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordCount over the committed parity corpus (ignores sf_dir — the
    reference's input is a fixed directory of text files)."""
    return wordcount_text_dir(spark, REF_CORPUS)
