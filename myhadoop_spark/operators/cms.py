"""Count-Min Sketch (Cormode & Muthukrishnan 2005) — the mergeable
POINT-FREQUENCY sketch beside the Misra-Gries TOP-K summary
(operators/heavy_hitters.py): MG answers "which terms are frequent",
CMS answers "how often is THIS term" for any term, in depth × width
integers regardless of vocabulary size.

Deterministic by construction: the d row-hashes are engine-portable
md5 buckets (functions/text.py::hash_bucket, salted by row index), so
the sketch — and therefore every estimate — is bit-identical across
engines, partitionings, and merge orders. The estimate guarantee
``est ≥ true`` is absolute (every occurrence lands in exactly one
bucket per row); the overshoot is bounded by colliding mass and
shrinks with width.

Scale shape: building the sketch is ONE aggregation whose key space
is depth × width (map-side combine compresses the shuffle to
partitions × depth × width rows — corpus-size-independent state, the
continuous-agg HLL discipline); merging sketches is integer addition
on the same bounded key space, so per-split sketches union exactly
(CMS(A ∪ B) = CMS(A) + CMS(B), bitwise — test-pinned), which is what
makes the sketch maintainable per micro-batch or per partition-era
without rescanning history. Estimation broadcasts the sketch: its
depth × width rows are bounded whatever the corpus or the query set.

Reference analog: none — §2.3 extension surface (sketch family).
"""

from __future__ import annotations

from functools import reduce as _reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from myhadoop_spark.functions.text import hash_bucket


def cms_table(occurrences: DataFrame, term_col: str, *, depth: int = 4,
              width: int = 1024, count_col: str | None = None) -> DataFrame:
    """(j, bucket, c): the depth × width sketch from one row per
    occurrence (or pre-aggregated rows weighted by ``count_col``)."""
    if depth < 1 or width < 1:
        raise ValueError(f"depth/width must be >= 1, got {depth}/{width}")
    t = F.col(term_col)
    c = (F.col(count_col).cast("long") if count_col
         else F.lit(1).cast("long"))
    rows = occurrences.select(
        c.alias("_c"),
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("j"),
                     hash_bucket(F.concat(F.lit(f"{j}:"), t),
                                 width).alias("bucket"))
            for j in range(depth)])).alias("_jb"))
    return (rows.groupBy(F.col("_jb.j").alias("j"),
                         F.col("_jb.bucket").alias("bucket"))
            .agg(F.sum("_c").alias("c")))


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Exact sketch union — integer addition on the bounded key space."""
    u = _reduce(lambda a, b: a.unionByName(b), sketches)
    return u.groupBy("j", "bucket").agg(F.sum("c").alias("c"))


def cms_estimate(cms: DataFrame, terms: DataFrame, term_col: str, *,
                 depth: int = 4, width: int = 1024) -> DataFrame:
    """(term_col…, est): min over rows of the term's bucket count.
    The sketch is broadcast to the probes (the left side of a left
    join, which Spark cannot build); a bucket no occurrence ever hit
    estimates 0."""
    t = F.col(term_col)
    probes = terms.select(
        "*",
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("j"),
                     hash_bucket(F.concat(F.lit(f"{j}:"), t),
                                 width).alias("bucket"))
            for j in range(depth)])).alias("_jb"))
    probes = probes.select(*terms.columns, F.col("_jb.j").alias("j"),
                           F.col("_jb.bucket").alias("bucket"))
    joined = (probes.join(F.broadcast(cms), ["j", "bucket"], "left")
              .withColumn("_c", F.coalesce("c", F.lit(0).cast("long"))))
    return (joined.groupBy(*terms.columns)
            .agg(F.min("_c").alias("est")))


def cms_verified_topk(df: DataFrame, term_col: str = "term", *,
                      k: int = 10, capacity: int = 256,
                      depth: int = 4, width: int = 1024) -> DataFrame:
    """The classic sketch pairing: Misra-Gries PROPOSES the top-k
    (an under-estimate with a summed decrement bound), Count-Min
    BRACKETS each survivor from above (an over-estimate), so every
    winner carries a two-sided interval certified by two independent
    bounded-memory passes — no exact full-vocabulary aggregation:

        mg_est ≤ true ≤ min(cms_est, mg_est + err_bound)

    (MG never overcounts; CMS never undercounts; the MG decrement
    bound caps the undercount.) Returns (term, mg_est, err_bound,
    cms_est, lo, hi) ordered by (mg_est DESC, term) — lo/hi is the
    certified bracket, pinned against exact counts in
    tests/test_cms.py. Scale shape: both sketches are one bounded-
    state pass each (partitions × capacity; depth × width); the probe
    broadcasts the depth × width sketch."""
    from myhadoop_spark.operators.heavy_hitters import heavy_hitters_topk

    cands = (heavy_hitters_topk(df, term_col, k=k, capacity=capacity)
             .select(F.col("term").alias(term_col),
                     F.col("est").alias("mg_est"), "err_bound"))
    sketch = cms_table(df, term_col, depth=depth, width=width)
    probed = cms_estimate(sketch, cands, term_col,
                          depth=depth, width=width)
    return (probed.select(
        term_col, "mg_est", "err_bound",
        F.col("est").alias("cms_est"),
        F.col("mg_est").alias("lo"),
        F.least(F.col("est"),
                F.col("mg_est") + F.col("err_bound")).alias("hi"))
        .orderBy(F.col("mg_est").desc(), F.col(term_col).asc()))
