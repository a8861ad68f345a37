"""Driver-gate faces for the round-3 curation operators (VERDICT r3
item 4): benchmark decontamination and PII scrubbing both have exact
SQL twins, so they take 50-entry gate slots.

Fixture framing:

decontam      corpus vs benchmark = a deterministic doc_id%20 split of
              `documents` (contamination guaranteed: the generator
              reuses sentence templates across docs). Same split and
              same SQL as tests/test_decontam.py, now hash-gated by the
              driver at sf0.01.
scrub_audit   the fixture corpus is PII-free (URL/email counts are
              zero at every sf), so the gate query
              unions four literal PII-bearing rows onto it — the
              differential then proves BOTH no-false-positives over the
              whole corpus AND every redaction rule firing, on both
              engines, from the same VALUES literals.

Reference provenance: no analog (the reference has no curation
surface, /root/reference/datanode.py:574-667); SURVEY.md §2.3.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myhadoop_spark.catalog import load
from myhadoop_spark.functions.text import sql_tokens
from myhadoop_spark.operators.decontam import contamination_pairs
from myhadoop_spark.operators.scrub import (
    DEFAULT_RULES,
    scrub_report,
    scrub_text,
)
from myhadoop_spark.registry import register

# deterministic corpus/benchmark split: every 20th doc is "benchmark"
_CORPUS_PRED = "doc_id % 20 <> 0"
_BENCH_PRED = "doc_id % 20 = 0"

# the gate uses 4-token shingles (operator default stays 5): the short
# fixture documents yield 51 contaminated pairs at sf0.01 under n=4 vs
# 2 under n=5 — a hash over 51 rows is a real differential, not a
# near-vacuous one
_GATE_N = 4

_DECONTAM_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         {sql_tokens()} AS tk
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         CAST(concat('0x', substr(md5(g), 1, 12)) AS BIGINT) AS sh
  FROM (
    SELECT doc_id, array_to_string(tk[i:i+{_GATE_N - 1}], ' ') AS g
    FROM toks, UNNEST(range(1, len(tk) - {_GATE_N - 1} + 1)) AS u(i)
    WHERE len(tk) >= {_GATE_N}
  )
)
SELECT c.doc_id AS corpus_id, b.doc_id AS bench_id,
       COUNT(*) AS n_shared
FROM sh c JOIN sh b ON c.sh = b.sh
WHERE c.doc_id % 20 <> 0 AND b.doc_id % 20 = 0
GROUP BY c.doc_id, b.doc_id
"""


@register("decontam", oracle=_DECONTAM_SQL,
          tags=("curation", "decontam", "extension"))
def decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination over the documents fixture: every
    corpus document (doc_id%20≠0) sharing ≥1 distinct 4-token shingle
    with a benchmark document (doc_id%20=0), with the shared-shingle
    count — the GPT-3-appendix-C contamination report, inverted-index
    shaped with the bench side broadcast (operators/decontam.py)."""
    docs = load(spark, sf_dir, "documents")
    return contamination_pairs(
        docs.filter(F.expr(_CORPUS_PRED)),
        docs.filter(F.expr(_BENCH_PRED)),
        n=_GATE_N,
    )


# four literal rows that make every scrub rule fire (the fixture corpus
# is span-free); doc_ids far above any fixture id
PII_ROWS: tuple[tuple[int, str], ...] = (
    (1_000_001, "contact a.b+tag@ex-ample.co.uk or https://x.y/z?u=me@p.com"),
    (1_000_002, "node 192.168.0.1 answered from 10.0.255.254 fast"),
    (1_000_003, "dial +44-20-7946-0958 or 1-800-555-1234 today"),
    (1_000_004, "mixed http://a.b/c then c.d@e.fg then 8.8.8.8 end"),
)

_PII_VALUES = ", ".join(
    "(" + str(i) + ", '" + t.replace("'", "''") + "')" for i, t in PII_ROWS)


def _scrub_sql() -> str:
    """Progressive redaction chain in DuckDB, mirroring scrub_text /
    scrub_report rule-by-rule: stage k counts matches on the text as
    scrubbed by rules 1..k-1 (so overlapping families attribute once,
    in rule order), then replaces them."""
    sel = "SELECT doc_id, text AS t0"
    stages = []
    prev = "t0"
    names = []
    for idx, (pattern, token) in enumerate(DEFAULT_RULES):
        name = token.strip("<>").lower()
        names.append(f"n_{name}")
        cur = f"t{idx + 1}"
        stages.append(
            f"s{idx + 1} AS (SELECT *, "
            f"CAST(len(regexp_extract_all({prev}, '{pattern}')) AS BIGINT)"
            f" AS n_{name}, "
            f"regexp_replace({prev}, '{pattern}', '{token}', 'g') AS {cur} "
            f"FROM s{idx})")
        prev = cur
    return (
        f"WITH src AS (SELECT doc_id, text FROM documents "
        f"UNION ALL SELECT * FROM (VALUES {_PII_VALUES}) v(doc_id, text)), "
        f"s0 AS ({sel} FROM src), " + ", ".join(stages) +
        f" SELECT doc_id, {prev} AS scrubbed, " + ", ".join(names) +
        f" FROM s{len(DEFAULT_RULES)}"
    )


@register("scrub_audit", oracle=_scrub_sql(),
          tags=("curation", "scrub", "extension"))
def scrub_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing with audit counters over the documents fixture plus
    four injected PII-bearing rows: (doc_id, scrubbed, n_url, n_email,
    n_ip, n_phone). One regexp_replace/regexp_count codegen chain —
    zero shuffle, zero Python (operators/scrub.py); runs at scan speed
    at any corpus size."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    extra = spark.createDataFrame(list(PII_ROWS), "doc_id LONG, text STRING")
    src = docs.unionByName(extra)
    return src.select(
        "doc_id",
        scrub_text("text").alias("scrubbed"),
        *scrub_report("text"),
    )
