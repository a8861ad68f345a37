"""Interval-overlap join — interval × interval, the missing sibling of
operators/range_join.py's point-in-interval form.

Spark's native plan for ``a.lo < b.hi AND b.lo < a.hi`` is a nested
loop (broadcast or cartesian): every interval against every interval
per key. The scale form buckets TIME: each interval explodes to the
fixed-width buckets it covers, the join becomes an equi-join on
(keys…, bucket) with the overlap predicate as a residual filter, and
each overlapping pair is emitted EXACTLY ONCE without a distinct —
only the bucket containing the overlap's start (``max(a_lo, b_lo)``,
which lies inside both half-open intervals, so both sides exploded
into it) keeps the pair. Candidates ∝ co-bucketed intervals, not
pairs; the dedup is a per-row predicate, not a shuffle.

All arithmetic is INTEGER (epoch seconds, floor division) — candidate
membership and the owner-bucket rule are bitwise across engines.

Bucket width tuning is the range_join rule: near the median interval
length — too narrow explodes intervals into many buckets, too wide
degrades toward per-key all-pairs. At 100 TB the bucketed join
shuffles on (keys…, bucket), so hot TIME ranges spread across keys
and hot keys across time. WIDTH IS ALSO THE SKEW REMEDY for a hot
(key, time-range) pile-up (interval_join_study.tsv hot_cell rows: a
2000-interval single-key pile draws 4M candidates under a
much-too-wide bucket but 71.8k at a width near the interval length —
within 2× of its 37.9k TRUE overlapping pairs); a pile of genuinely
co-overlapping intervals is quadratic in its OUTPUT, the edjoin
tiny-tier precedent — output-bound, not a plan defect.

Reference analog: none — §2.3 extension surface (join family, next to
operators/asof.py and operators/range_join.py).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_overlap_join(left: DataFrame, right: DataFrame, *,
                          keys: Sequence[str] = (),
                          bucket_width: int = 512,
                          antisymmetric: bool = False) -> DataFrame:
    """Pairs of overlapping half-open integer intervals.

    Both inputs need columns (keys…, id, lo, hi) with lo/hi integral
    and ``lo < hi``; overlap is ``a_lo < b_hi AND b_lo < a_hi``.
    Returns (keys…, a_id, b_id, a_lo, a_hi, b_lo, b_hi, ov_lo, ov_hi).
    ``antisymmetric=True`` keeps only ``a_id < b_id`` — the self-join
    form (each unordered pair once, no self-pairs)."""
    w = int(bucket_width)
    if w < 1:
        # w <= 0 would make `lo div 0` NULL → sequence() NULL →
        # explode drops every row: a silently-empty join instead of
        # an error (ADVICE r10 — the domain_cap/unimax guard
        # convention)
        raise ValueError(f"bucket_width must be >= 1, got {bucket_width}")

    def side(df: DataFrame, p: str) -> DataFrame:
        # half-open: the last covered point is hi-1, so the last
        # bucket is floor((hi-1)/w) — never a bucket past the end.
        # Empty intervals (lo >= hi) cover nothing and are dropped
        # here — without the guard, sequence(lo div w, (hi-1) div w)
        # would run DESCENDING and fabricate buckets.
        df = df.filter(F.col("lo") < F.col("hi"))
        return df.select(
            *keys,
            F.col("id").alias(f"{p}_id"),
            F.col("lo").cast("long").alias(f"{p}_lo"),
            F.col("hi").cast("long").alias(f"{p}_hi"),
        ).withColumn("_bucket", F.explode(F.sequence(
            F.expr(f"{p}_lo div {w}"),
            F.expr(f"({p}_hi - 1) div {w}"))))

    a, b = side(left, "a"), side(right, "b")
    ov_lo = F.greatest("a_lo", "b_lo")
    pairs = (a.join(b, [*keys, "_bucket"])
             .filter((F.col("a_lo") < F.col("b_hi"))
                     & (F.col("b_lo") < F.col("a_hi")))
             # owner-bucket rule: exactly one bucket emits the pair
             .filter(F.col("_bucket")
                     == F.expr(f"greatest(a_lo, b_lo) div {w}")))
    if antisymmetric:
        pairs = pairs.filter(F.col("a_id") < F.col("b_id"))
    return pairs.select(
        *keys, "a_id", "b_id", "a_lo", "a_hi", "b_lo", "b_hi",
        ov_lo.alias("ov_lo"), F.least("a_hi", "b_hi").alias("ov_hi"))
