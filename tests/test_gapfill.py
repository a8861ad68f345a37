"""Time-bucket gap-filling (operators/gapfill.py): density invariant,
LOCF/interpolation semantics on hand-built series (leading, interior,
and trailing holes). The fixture-level DuckDB differential (gapfill_hourly)
runs in tests/test_correctness.py."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from myhadoop_spark.operators.gapfill import time_bucket_gapfill

T0 = dt.datetime(2024, 1, 1)


def _series(spark, points):
    """points: {(key, hour): value} → sparse bucketed aggregate df."""
    rows = [(k, T0 + dt.timedelta(hours=h), float(v))
            for (k, h), v in points.items()]
    return spark.createDataFrame(
        rows, "k string, bucket timestamp, value double")


def _by_hour(df):
    return {(r.k, int((r.bucket - T0).total_seconds() // 3600)):
            (r.value, r.locf, r.interp) for r in df.collect()}


def test_dense_grid_and_fills(spark):
    # key a: observed at hours 0, 3 (interior hole 1-2), 4
    # key b: single point (span of one, no holes)
    aggs = _series(spark, {("a", 0): 10, ("a", 3): 40, ("a", 4): 8,
                           ("b", 7): 5})
    out = _by_hour(time_bucket_gapfill(aggs, keys=["k"]))
    assert set(out) == {("a", h) for h in range(5)} | {("b", 7)}
    # observed rows: value kept, locf == value, interp == value
    assert out[("a", 0)] == (10.0, 10.0, 10.0)
    assert out[("a", 3)] == (40.0, 40.0, 40.0)
    # interior holes: locf carries 10; interp walks the 10→40 line
    assert out[("a", 1)] == (None, 10.0, 10.0 + (40.0 - 10.0) * (1 / 3))
    assert out[("a", 2)] == (None, 10.0, 10.0 + (40.0 - 10.0) * (2 / 3))
    assert out[("b", 7)] == (5.0, 5.0, 5.0)


def test_leading_and_trailing_holes_stay_null(spark):
    """The span is per key [min, max] of OBSERVED buckets, so edge
    holes only arise between keys' observations — but a leading hole
    in locf semantics (nothing to carry) must stay NULL: force one by
    checking the first observed row's predecessors simply don't exist,
    and that interp never extrapolates beyond the last observation."""
    aggs = _series(spark, {("a", 2): 4, ("a", 5): 10})
    out = _by_hour(time_bucket_gapfill(aggs, keys=["k"]))
    # grid starts at the first observation — no extrapolated buckets
    assert set(out) == {("a", h) for h in (2, 3, 4, 5)}
    assert out[("a", 3)][2] == 4.0 + (10.0 - 4.0) * (1 / 3)
    assert out[("a", 4)][2] == 4.0 + (10.0 - 4.0) * (2 / 3)


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.dictionaries(st.integers(min_value=0, max_value=40),
                       st.integers(min_value=-5, max_value=50),
                       min_size=1, max_size=12))
def test_gapfill_matches_python_model(spark, points):
    """Arbitrary sparse integer series: density, LOCF, and the
    interpolation line must equal a pure-Python model replicating the
    operator's arithmetic order (integer values ⇒ exact doubles, so
    the comparison is bitwise)."""
    aggs = _series(spark, {("a", h): v for h, v in points.items()})
    out = _by_hour(time_bucket_gapfill(aggs, keys=["k"]))

    lo, hi = min(points), max(points)
    assert set(out) == {("a", h) for h in range(lo, hi + 1)}
    obs = sorted(points)
    for h in range(lo, hi + 1):
        value, locf, interp = out[("a", h)]
        prevs = [o for o in obs if o <= h]
        nexts = [o for o in obs if o >= h]
        want_locf = float(points[prevs[-1]]) if prevs else None
        assert locf == want_locf, (h, locf, want_locf)
        if h in points:
            assert value == float(points[h]) and interp == float(points[h])
        else:
            assert value is None
            p, n = prevs[-1], nexts[0]
            pv, nv = float(points[p]), float(points[n])
            want = pv + ((nv - pv) * (float(h - p) / float(n - p)))
            assert interp == want, (h, interp, want)
