"""Python UDTF (user-defined table function) — the row-expanding user
code path, Spark 4's generalization of the reference's per-record map
surface to one-to-many transforms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import udtf

from myhadoop_spark.catalog import load
from myhadoop_spark.functions.text import sql_tokens
from myhadoop_spark.registry import register


@udtf(returnType="token STRING, pos INT, token_len INT", useArrow=True)
class TokenizeUdtf:
    """One output row per whitespace token: (token, position, length) —
    reference tokenization (str.split, /root/reference/datanode.py:600)
    as a lateral table function.

    useArrow=True is explicit (not left to the
    spark.sql.execution.pythonUDTF.arrow.enabled conf) because the
    decorator resolves the eval type at DECORATION time — under import
    orders where no SparkSession exists yet (pytest collection, driver
    harnesses) the conf fallback silently lands on row-at-a-time
    BatchEvalPython."""

    def eval(self, text: str):  # noqa: D102
        for i, tok in enumerate((text or "").split()):
            yield tok, i, len(tok)


@register(
    "udtf_tokens",
    oracle=f"""
    WITH t AS (SELECT doc_id, unnest({sql_tokens()}) AS token
               FROM documents)
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(length(token)) AS BIGINT) AS total_len,
           CAST(SUM(CASE WHEN length(token) > 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_long
    FROM t GROUP BY doc_id
    """,
    tags=("udtf", "extension"),
)
def udtf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral-join the UDTF against documents and aggregate per doc.
    The UDTF executes in Python workers (shipping handles imports); the
    surrounding join/agg stays JVM-side."""
    from myhadoop_spark.shipping import ensure_shipped

    ensure_shipped(spark)
    load(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    spark.udtf.register("tokenize_udtf", TokenizeUdtf)
    return spark.sql("""
        SELECT doc_id,
               COUNT(*) AS n_tokens,
               CAST(SUM(token_len) AS BIGINT) AS total_len,
               CAST(SUM(CASE WHEN token_len > 5 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_long
        FROM documents, LATERAL tokenize_udtf(text)
        GROUP BY doc_id
    """)
