"""Interval-overlap join (operators/interval_join.py): brute-force
parity, exactly-once emission across bucket widths, half-open edge
semantics, antisymmetric self-join, and the equi-join plan shape."""

from __future__ import annotations

import itertools


from myhadoop_spark.operators.interval_join import interval_overlap_join

# (key, id, lo, hi) — lengths from 1 to far beyond any bucket width
LEFT = [(k, i, (i * 37) % 100, (i * 37) % 100 + 1 + (i * 13) % 90)
        for k in (1, 2) for i in range(30)]
RIGHT = [(k, 1000 + i, (i * 53) % 110, (i * 53) % 110 + 1 + (i * 7) % 60)
         for k in (1, 2) for i in range(25)]


def _brute(left, right, antisymmetric=False):
    out = set()
    for (ka, a, alo, ahi), (kb, b, blo, bhi) in itertools.product(
            left, right):
        if ka == kb and alo < bhi and blo < ahi:
            if antisymmetric and not a < b:
                continue
            out.add((ka, a, b))
    return out


def _dfs(spark):
    mk = lambda rows: spark.createDataFrame(
        rows, "key long, id long, lo long, hi long")
    return mk(LEFT), mk(RIGHT)


def test_brute_force_parity_across_bucket_widths(spark):
    la, rb = _dfs(spark)
    want = _brute(LEFT, RIGHT)
    for w in (1, 7, 64, 4096):
        rows = interval_overlap_join(la, rb, keys=("key",),
                                     bucket_width=w).collect()
        got = [(r.key, r.a_id, r.b_id) for r in rows]
        # exactly once: no owner-bucket duplicates at ANY width
        assert len(got) == len(set(got)), w
        assert set(got) == want, w
        for r in rows:
            assert r.ov_lo == max(r.a_lo, r.b_lo)
            assert r.ov_hi == min(r.a_hi, r.b_hi)
            assert r.ov_lo < r.ov_hi


def test_half_open_touching_intervals_do_not_overlap(spark):
    mk = lambda rows: spark.createDataFrame(
        rows, "id long, lo long, hi long")
    a = mk([(1, 0, 10)])
    b = mk([(2, 10, 20), (3, 9, 12), (4, 0, 10)])
    got = sorted(r.b_id for r in interval_overlap_join(
        a, b, bucket_width=4).collect())
    assert got == [3, 4]          # [10,20) touches [0,10) — excluded


def test_empty_intervals_dropped(spark):
    mk = lambda rows: spark.createDataFrame(
        rows, "id long, lo long, hi long")
    a = mk([(1, 5, 5), (2, 0, 10)])     # id 1 covers nothing
    b = mk([(3, 4, 6), (4, 7, 7)])      # id 4 covers nothing
    got = {(r.a_id, r.b_id) for r in interval_overlap_join(
        a, b, bucket_width=4).collect()}
    assert got == {(2, 3)}


def test_antisymmetric_self_join(spark):
    la, _ = _dfs(spark)
    rows = interval_overlap_join(la, la, keys=("key",), bucket_width=16,
                                 antisymmetric=True).collect()
    got = {(r.key, r.a_id, r.b_id) for r in rows}
    assert len(got) == len(rows)
    assert got == _brute(LEFT, LEFT, antisymmetric=True)
    assert all(a < b for _, a, b in got)


def test_plan_is_equi_join_not_nested_loop(spark):
    la, rb = _dfs(spark)
    plan = interval_overlap_join(
        la, rb, keys=("key",),
        bucket_width=64)._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan


# ---------------------------------------------------------------------------
# r10: timestamp wrapper + the sessionize composition (VERDICT item 7)
# ---------------------------------------------------------------------------


def test_bucket_width_guard(spark):
    """w <= 0 raises instead of silently returning an empty join
    (ADVICE r10 — the domain_cap/unimax guard convention)."""
    import pytest

    df = spark.createDataFrame([(1, 0, 10)], "id long, lo long, hi long")
    for bad in (0, -5):
        with pytest.raises(ValueError):
            interval_overlap_join(df, df, bucket_width=bad)
