"""Seventh wave: global indexing — contiguous ids and the reproducible
shuffle over operators/indexing.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from myhadoop_spark.catalog import load
from myhadoop_spark.registry import register


@register(
    "global_index",
    oracle="""
    SELECT CAST(row_number() OVER (ORDER BY lang, doc_id) - 1 AS BIGINT)
             AS idx,
           doc_id, lang
    FROM documents
    """,
    tags=("indexing", "extension"),
    gate=False,
)
def global_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(idx, doc_id, lang): contiguous 0-based ids in (lang, doc_id)
    order via the scalable three-step (operators/indexing.py — range
    shuffle + bounded offset collect + narrow Arrow numbering), NEVER
    the oracle's single-partition row_number window. Integer ids →
    bitwise differential."""
    from myhadoop_spark.operators.indexing import assign_global_index

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    out = assign_global_index(docs, ["lang", "doc_id"])
    return out.select("idx", "doc_id", "lang")


@register(
    "shuffle_ids",
    oracle="""
    SELECT CAST(row_number() OVER (
             ORDER BY md5(concat('0', chr(31), CAST(doc_id AS VARCHAR))),
                      doc_id) - 1 AS BIGINT) AS shuffle_idx,
           doc_id
    FROM documents
    """,
    tags=("indexing", "sampling", "extension"),
    gate=False,
)
def shuffle_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(shuffle_idx, doc_id): the reproducible training-epoch shuffle
    (operators/indexing.py::deterministic_shuffle, seed '0') — a
    pseudo-random permutation any engine reproduces; the oracle is the
    same md5 order through a row_number window, the engine is the
    scalable range-partition path. Integer ids → bitwise."""
    from myhadoop_spark.operators.indexing import deterministic_shuffle

    docs = load(spark, sf_dir, "documents").select("doc_id")
    return deterministic_shuffle(docs, ["doc_id"]).select(
        "shuffle_idx", "doc_id")
