"""Property tests (SURVEY.md §5.3): results invariant under partitioning —
the engine-side guarantee mirroring the reference's two-round fold
contract (combiner + final reduce must compose associatively,
/root/reference/utilities.py:170-185)."""

from __future__ import annotations

import pytest

from myhadoop_spark import registry
from myhadoop_spark.oracle import canon_rows
from tests.conftest import SF_SMOKE

INVARIANT_QUERIES = ["agg_q1", "wc", "join_multi", "window_fns", "tpch_q3"]


@pytest.mark.parametrize("name", INVARIANT_QUERIES)
@pytest.mark.parametrize("partitions", [1, 7])
def test_result_invariant_under_shuffle_partitions(spark, name, partitions):
    fn = registry.get(name).fn
    base = canon_rows(*_run(fn, spark))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        alt = canon_rows(*_run(fn, spark))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert base == alt


def _run(fn, spark):
    df = fn(spark, SF_SMOKE)
    return df.columns, [tuple(r) for r in df.collect()]


def test_wordcount_invariant_under_input_repartition(spark):
    """Same multiset of (word, count) regardless of input layout —
    the analog of the reference's whole-file-per-map-task independence
    (/root/reference/namenode.py:401-405)."""
    from myhadoop_spark.catalog import load
    from myhadoop_spark.queries.wordcount import wordcount_df

    docs = load(spark, SF_SMOKE, "documents")
    a = sorted(map(tuple, wordcount_df(docs).collect()))
    b = sorted(map(tuple, wordcount_df(docs.repartition(13)).collect()))
    assert a == b
