"""UniMax language-balancing query (operators/unimax.py) as a DuckDB
differential: budget = 80% of corpus tokens, epoch cap 1 — on this
corpus the four tail languages allocate in full and ``en`` (~43% of
tokens) is truncated to the leftover equal share, so BOTH allocator
branches are live in the oracle (a budget under the smallest fair
share, or over the total, would leave one branch vacuous).

Every number is an integer (token counts, floor division) computed
identically on both sides — the compare is bitwise, no float floors
needed. The budget B = (Σ tokens · 4) div 5 is derived IN-PLAN on
both sides (a window total over the k language rows here, the CROSS
JOIN tot CTE there) — no driver collect, one action end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from myhadoop_spark.catalog import load_wide
from myhadoop_spark.functions.text import sql_hash_bucket, sql_tokens
from myhadoop_spark.operators.unimax import (
    doc_token_counts,
    unimax_allocate,
    unimax_select,
)
from myhadoop_spark.registry import register



@register(
    "unimax_select",
    oracle=f"""
    WITH dt AS (SELECT coalesce(lang, '') AS lang, doc_id,
                       CAST(len({sql_tokens()}) AS BIGINT) AS n_tokens
                FROM documents),
    sz AS (SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS cap
           FROM dt GROUP BY lang),
    tot AS (SELECT CAST(CAST(SUM(n_tokens) AS BIGINT) * 4 // 5 AS BIGINT)
                     AS b
            FROM dt),
    g AS (SELECT lang, cap,
                 ROW_NUMBER() OVER (ORDER BY cap, lang) AS i,
                 CAST(SUM(cap) OVER (ORDER BY cap, lang
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                 COUNT(*) OVER () AS k
          FROM sz),
    g2 AS (SELECT g.*, cum - cap AS prev, b,
                  (cap * (k - i + 1) > b - (cum - cap)) AS fail
           FROM g CROSS JOIN tot),
    g3 AS (SELECT *, MIN(CASE WHEN fail THEN i END) OVER () AS t,
                  MIN(CASE WHEN fail THEN prev END) OVER () AS tprev
           FROM g2),
    a AS (SELECT lang,
                 CAST(CASE WHEN t IS NULL OR i < t THEN cap
                           ELSE (b - tprev) // (k - t + 1)
                                + (CASE WHEN (i - t + 1) >
                                        (k - t + 1)
                                        - (b - tprev) % (k - t + 1)
                                   THEN 1 ELSE 0 END) END
                      AS BIGINT) AS alloc
          FROM g3),
    r AS (SELECT lang, doc_id, n_tokens,
                 CAST(COALESCE(SUM(n_tokens) OVER (
                        PARTITION BY lang
                        ORDER BY {sql_hash_bucket('doc_id', 1000000)} ASC, doc_id ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING), 0) AS BIGINT) AS bfr
          FROM dt)
    SELECT r.lang, r.doc_id, r.n_tokens, a.alloc AS lang_budget
    FROM r JOIN a USING (lang)
    WHERE bfr < alloc
    ORDER BY lang, doc_id
    """,
    # r9: gated on arrival (the dsir_select precedent) — the round's
    # flagship named method, bitwise at both SFs in both local
    # harnesses, with a real flat-alloc/linear-select scale story
    # (unimax_study.tsv)
    tags=("mixing", "curation", "extension"),
)
def unimax_select_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, doc_id, n_tokens, lang_budget): the documents UniMax
    keeps under an 80%-of-corpus token budget at epoch cap 1."""
    docs = load_wide(spark, sf_dir, "documents")
    # budget_ratio keeps B inside the plan — ONE action end to end (no
    # total-collect job, no checkpoint; the token-count projection is
    # narrow and recomputing it beats a materialization barrier)
    dt = doc_token_counts(docs)
    alloc = unimax_allocate(dt, budget_ratio=(4, 5), epoch_cap=1)
    return (unimax_select(dt, alloc)
            .orderBy("lang", "doc_id"))


@register(
    "temperature_select",
    oracle=f"""
    WITH dt AS (SELECT coalesce(lang, '') AS lang, doc_id,
                       CAST(len({sql_tokens()}) AS BIGINT) AS n_tokens
                FROM documents),
    sz AS (SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS sz
           FROM dt GROUP BY lang),
    tot AS (SELECT CAST(CAST(SUM(n_tokens) AS BIGINT) * 4 // 5 AS BIGINT)
                     AS b
            FROM dt),
    w AS (SELECT lang, sz,
                 floor(pow(CAST(sz AS DOUBLE), 0.3)
                       / SUM(pow(CAST(sz AS DOUBLE), 0.3)) OVER (
                           ORDER BY lang ROWS BETWEEN UNBOUNDED PRECEDING
                           AND UNBOUNDED FOLLOWING)
                       * 1e6) / 1e6 AS weight
          FROM sz),
    a AS (SELECT lang,
                 CAST(floor(CAST(b AS DOUBLE) * weight) AS BIGINT) AS alloc
          FROM w CROSS JOIN tot),
    r AS (SELECT lang, doc_id, n_tokens,
                 CAST(COALESCE(SUM(n_tokens) OVER (
                        PARTITION BY lang
                        ORDER BY {sql_hash_bucket('doc_id', 1000000)} ASC, doc_id ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING), 0) AS BIGINT) AS bfr
          FROM dt)
    SELECT r.lang, r.doc_id, r.n_tokens, a.alloc AS lang_budget
    FROM r JOIN a USING (lang)
    WHERE bfr < alloc
    ORDER BY lang, doc_id
    """,
    gate=True,  # promoted into the driver gate window in r11 (VERDICT r10 #1)
    tags=("mixing", "curation", "extension"),
)
def temperature_select_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, doc_id, n_tokens, lang_budget): the documents α=0.3
    temperature sampling keeps under the same 80% token budget — the
    pre-UniMax multilingual mix (boosts tail languages, cuts the
    head) sharing UniMax's deterministic prefix-selection machinery.
    The α-weight is floored at 1e-6 before the integer multiply (the
    lm/bm25 pow/ln discipline); the window normalizer folds in lang
    order on both engines."""
    from myhadoop_spark.operators.unimax import temperature_allocate

    docs = load_wide(spark, sf_dir, "documents")
    dt = doc_token_counts(docs)
    alloc = temperature_allocate(dt, budget_ratio=(4, 5), alpha=0.3)
    return (unimax_select(dt, alloc.select("lang", "alloc"))
            .orderBy("lang", "doc_id"))
