"""Persisted HLL sketch index (operators/hll_index.py): exactness in
the coupon-list regime, the 5x-rsd bound in the estimation regime,
merge algebra (union of sketches == sketch of union), rollups from
the index alone, partitioning invariance, parquet round-trip."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from myhadoop_spark.operators.hll_index import (
    build_index,
    estimate,
    group_sketches,
    merge_sketch_tables,
)


def _vals(spark, n, dup=3, grp=None):
    df = spark.range(n * dup).select((F.col("id") % n).alias("v"))
    if grp is not None:
        df = df.withColumn("g", (F.col("v") % grp).cast("string"))
    return df


def test_exact_below_coupon_threshold(spark):
    df = _vals(spark, 300).withColumn("g", F.lit("x"))
    est = estimate(group_sketches(df, ["g"], "v"), ["g"]).head()
    assert est["estimate"] == 300


def test_bound_in_estimation_regime(spark):
    n = 50_000
    df = _vals(spark, n, dup=2).withColumn("g", F.lit("x"))
    est = estimate(group_sketches(df, ["g"], "v"), ["g"]).head()
    assert abs(est["estimate"] - n) <= 0.081 * n


def test_merge_equals_sketch_of_union(spark):
    for n in (200, 20_000):  # both regimes
        a = _vals(spark, n).withColumn("g", F.lit("x"))
        b = (spark.range(n // 2).select(
            (F.col("id") + n // 2).alias("v"))  # overlaps a's top half
            .withColumn("g", F.lit("x")))
        sa = group_sketches(a, ["g"], "v")
        sb = group_sketches(b, ["g"], "v")
        merged = estimate(merge_sketch_tables(sa, sb, ["g"]),
                          ["g"]).head()
        direct = estimate(
            group_sketches(a.unionByName(b), ["g"], "v"), ["g"]).head()
        assert merged["estimate"] == direct["estimate"], n
        assert merged["n_rows"] == direct["n_rows"]


def test_rollup_from_index_only(spark):
    df = _vals(spark, 400, grp=8)
    idx = group_sketches(df, ["g"], "v")
    rolled = estimate(idx, []).head()
    direct = estimate(
        group_sketches(df.withColumn("a", F.lit(1)), ["a"], "v"),
        ["a"]).head()
    assert rolled["estimate"] == direct["estimate"] == 400
    assert rolled["n_rows"] == df.count()


def test_partitioning_invariance_regimes(spark):
    """Coupon regime: estimates are EXACT, so any partitioning gives
    the same numbers. Dense regime: the HLL4 union is merge-path
    dependent (measured: ±3 on ~1250 across partitionings), so the
    pin is the error bound per partitioning, not cross-partitioning
    equality — documented in operators/hll_index.py."""
    small = _vals(spark, 300, grp=4)
    e1 = sorted(map(tuple, estimate(group_sketches(small, ["g"], "v"),
                                    ["g"]).collect()))
    e2 = sorted(map(tuple, estimate(
        group_sketches(small.repartition(13), ["g"], "v"),
        ["g"]).collect()))
    assert e1 == e2  # 75 distinct per group — exact everywhere
    big = _vals(spark, 20_000, grp=4)
    for d in (big, big.repartition(13)):
        for r in estimate(group_sketches(d, ["g"], "v"),
                          ["g"]).collect():
            assert abs(r["estimate"] - 5_000) <= 0.081 * 5_000, r


def test_stable_pins_dense_regime_bitwise(spark):
    """group_sketches(stable=True) gives cross-run, cross-input-
    partitioning BITWISE estimates even in the dense regime: the
    key-hash repartition leaves exactly one partial sketch per group,
    so there is no merge path left to vary (and the estimates still
    sit inside the rsd bound)."""
    big = _vals(spark, 20_000, grp=4)
    runs = [sorted(map(tuple, estimate(
                group_sketches(d, ["g"], "v", stable=True),
                ["g"]).collect()))
            for d in (big, big.repartition(13), big.repartition(3),
                      big.repartition(13))]
    assert all(r == runs[0] for r in runs[1:])
    for _, _, est in runs[0]:
        assert abs(est - 5_000) <= 0.081 * 5_000
    # stable must not change the coupon regime's exact answers
    small = _vals(spark, 300, grp=4)
    assert (sorted(map(tuple, estimate(
                group_sketches(small, ["g"], "v", stable=True),
                ["g"]).collect()))
            == sorted(map(tuple, estimate(
                group_sketches(small, ["g"], "v"),
                ["g"]).collect())))


def test_parquet_round_trip(spark, tmp_path):
    df = _vals(spark, 250, grp=5)
    path = str(tmp_path / "hll")
    build_index(df, ["g"], "v", path)
    idx = spark.read.parquet(path)
    got = {r["g"]: r["estimate"]
           for r in estimate(idx, ["g"]).collect()}
    assert got == {str(k): 50 for k in range(5)}


def test_empty_keys_rejected(spark):
    df = _vals(spark, 10)
    with pytest.raises(ValueError):
        group_sketches(df, [], "v")
