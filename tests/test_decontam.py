"""Benchmark decontamination: DuckDB differential + structural checks.

The operator is tests-only (not a 50-entry gate slot), so the oracle
differential runs HERE, at the same bitwise bar as the gate: identical
tokenization, identical 48-bit md5 shingle hashing, identical threshold
semantics, compared row-for-row.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from myhadoop_spark.catalog import load
from myhadoop_spark.operators.decontam import (
    contamination_pairs,
    shingle_hashes,
)
from myhadoop_spark.oracle import duck_connection
from tests.conftest import SF_SMOKE

N = 5

# deterministic corpus/benchmark split of the documents fixture: every
# 20th doc plays the benchmark; contamination is guaranteed because the
# generator reuses sentence templates across docs
_CORPUS = "doc_id % 20 <> 0"
_BENCH = "doc_id % 20 = 0"

_PAIR_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tk
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         CAST(concat('0x', substr(md5(g), 1, 12)) AS BIGINT) AS sh
  FROM (
    SELECT doc_id, array_to_string(tk[i:i+{N - 1}], ' ') AS g
    FROM toks, UNNEST(range(1, len(tk) - {N - 1} + 1)) AS u(i)
    WHERE len(tk) >= {N}
  )
)
SELECT c.doc_id AS corpus_id, b.doc_id AS bench_id,
       COUNT(*) AS n_shared
FROM sh c JOIN sh b ON c.sh = b.sh
WHERE c.doc_id % 20 <> 0 AND b.doc_id % 20 = 0
GROUP BY c.doc_id, b.doc_id
ORDER BY corpus_id, bench_id
"""


@pytest.fixture(scope="module")
def split(spark):
    docs = load(spark, SF_SMOKE, "documents")
    return docs.filter(F.expr(_CORPUS)), docs.filter(F.expr(_BENCH))


def test_pairs_match_duckdb(spark, split):
    corpus, bench = split
    got = sorted(
        map(tuple, contamination_pairs(corpus, bench, n=N).collect()))
    con = duck_connection(SF_SMOKE)
    try:
        want = sorted(map(tuple, con.execute(_PAIR_SQL).fetchall()))
    finally:
        con.close()
    assert got == want
    assert len(got) > 0, "no contamination found — vacuous differential"


def test_shingle_count_matches_formula(spark, split):
    """A doc with t ≥ n tokens has ≤ t-n+1 shingles (dedup may remove
    repeats); a doc with t < n has none."""
    corpus, _ = split
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != F.lit(""))
    stats = (
        corpus.select("doc_id", F.size(toks).alias("t"))
        .join(
            shingle_hashes(corpus, "doc_id", "text", N)
            .groupBy("doc_id").agg(F.count(F.lit(1)).alias("s")),
            "doc_id", "left")
        .fillna(0, ["s"])
        .collect()
    )
    assert stats
    for r in stats:
        if r["t"] < N:
            assert r["s"] == 0, r
        else:
            assert 1 <= r["s"] <= r["t"] - N + 1, r


def test_threshold_monotone(spark, split):
    corpus, bench = split
    n1 = contamination_pairs(corpus, bench, n=N, min_shared=1).count()
    n3 = contamination_pairs(corpus, bench, n=N, min_shared=3).count()
    assert n3 <= n1


def test_broadcast_and_shuffle_regimes_agree(spark, split):
    corpus, bench = split
    a = sorted(map(tuple, contamination_pairs(
        corpus, bench, n=N, broadcast_bench=True).collect()))
    b = sorted(map(tuple, contamination_pairs(
        corpus, bench, n=N, broadcast_bench=False).collect()))
    assert a == b


def test_bench_side_is_broadcast(spark, split):
    """Production regime: the benchmark index must appear as a broadcast
    exchange, and the corpus side must not shuffle for the join."""
    import contextlib
    import io

    corpus, bench = split
    df = contamination_pairs(corpus, bench, n=N)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastExchange" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
