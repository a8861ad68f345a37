"""Sampling invariants beyond oracle equality: stability under
repartitioning and sane stratum/fraction properties."""

from __future__ import annotations

from pyspark.sql import functions as F

from myhadoop_spark import registry
from myhadoop_spark.catalog import load
from myhadoop_spark.functions.text import hash_bucket
from tests.conftest import SF_SMOKE


def _battery(spark, method: str):
    out = registry.get("sampling").fn(spark, SF_SMOKE)
    return out.filter(F.col("method").startswith(method))


def test_sample_fraction_is_roughly_20pct(spark):
    docs = load(spark, SF_SMOKE, "documents")
    n = docs.count()
    s = _battery(spark, "hash20").count()
    assert 0.10 * n <= s <= 0.30 * n, (s, n)


def test_sample_stable_under_repartition(spark):
    docs = load(spark, SF_SMOKE, "documents")
    a = {r["doc_id"] for r in
         docs.filter(hash_bucket(F.col("doc_id")) < 20).collect()}
    b = {r["doc_id"] for r in
         docs.repartition(17).filter(hash_bucket(F.col("doc_id")) < 20).collect()}
    assert a == b


def test_split_partitions_are_exhaustive_and_disjoint(spark):
    out = _battery(spark, "split_")
    docs_n = load(spark, SF_SMOKE, "documents").count()
    per = {r["method"]: r["n"] for r in
           out.groupBy("method").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(per.values()) == docs_n
    assert set(per) == {"split_train", "split_val", "split_test"}
    assert per["split_train"] > per["split_val"]
    assert per["split_train"] > per["split_test"]


def test_stratified_exact_counts(spark):
    out = _battery(spark, "strat20")
    per = {r["lang"]: r["n"] for r in
           out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    langs = {r["lang"] for r in
             load(spark, SF_SMOKE, "documents").select("lang").distinct().collect()}
    assert set(per) == langs
    assert all(n == 20 for n in per.values()), per
