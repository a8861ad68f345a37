"""PageRank (Page et al. 1999) over an edge-list DataFrame — the
link-centrality signal large-scale curation pipelines attach to web
documents (Common Crawl ships harmonic/PageRank centrality per page;
quality filters and dedup canonical-pick steps consume it). Here it
also serves the near-dup graph: within a duplicate family, the most
central member is the natural canonical representative
(queries/dedup_ext.py::neardup_pagerank).

Algorithm (the standard power iteration, damping d):

    r'(v) = (1−d)/N + d · ( Σ_{u→v} r(u)/outdeg(u) + dangling/N )

with the dangling mass (rank sitting on nodes with no out-edges)
redistributed uniformly — Σ r stays 1 every iteration (test-pinned).

Scale shape: each iteration is one equi-join (ranks ⋈ edges on src —
both sides partitioned by the SAME key, so a stable repartition makes
later iterations shuffle-reuse) and one groupBy(dst) aggregation;
per-iteration lineage is cut with localCheckpoint (the CC idiom), so
plan size stays flat at any iteration count. Convergence is an L1
delta computed in the SAME action that materializes the checkpoint —
one action per iteration, plus one tiny dangling-mass aggregate.

Float-determinism: the per-dst contribution SUM over shuffled join
output has no addition order, so by default ranks are reproducible
only to FP-commutativity (the tests' 1e-9 tolerance vs the numpy
model). ``deterministic=True`` re-assembles each dst's contributions in
sorted order and left-folds them (the lm_filter discipline) —
bitwise-stable on any partitioning, at the cost of a per-dst
collect_list bounded by max in-degree: use it when ranks feed a gate
or an audit, the default when they feed a threshold. (The fold sorts
the contribution VALUES — any fixed total order makes the sum
partitioning-free; doubles sort is one.) The two per-iteration
SCALARS — dangling mass and the L1 stopping delta — get the same
treatment in deterministic mode via a bucketed ordered fold
(_ordered_scalar_sum): with ≥2 dangling nodes an unordered dangling
sum would feed a partition-order-dependent constant into every rank,
and an L1 within an ulp of tol could flip the stop iteration.

Reference analog: none — §2.3 extension surface (iterative-algorithm
family, next to operators/connected_components.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from myhadoop_spark.materialize import materialize, materialize_lazy

_SCALAR_BUCKETS = 4096


def _ordered_scalar_sum(df: DataFrame, key: str, value) -> float:
    """Partitioning-independent float sum of ``value`` over ``df``:
    bucket rows by ``key`` % B, left-fold each bucket's SORTED values
    (any fixed total order de-ambiguates float addition; doubles-sort
    is one), then fold the ≤B bucket subtotals on the driver in
    ascending bucket order. Per-bucket array is n/B values — bounded
    executor-side; the driver sees only the subtotals."""
    per_bucket = (df.select(
        F.pmod(F.col(key), F.lit(_SCALAR_BUCKETS)).alias("_b"),
        value.alias("_v"))
        .groupBy("_b")
        .agg(F.reduce(F.array_sort(F.collect_list("_v")), F.lit(0.0),
                      lambda acc, x: acc + x).alias("_s")))
    total = 0.0
    # output: bounded bucket subtotals folded in a fixed order
    for row in sorted(per_bucket.collect(), key=lambda r: r["_b"]):
        total += row["_s"]
    return total


def pagerank(edges: DataFrame, *, src: str = "src", dst: str = "dst",
             damping: float = 0.85, max_iterations: int = 20,
             tol: float = 1e-9, deterministic: bool = False,
             stats: dict | None = None) -> DataFrame:
    """[src, dst] edge list → [id, rank] over the nodes appearing in
    any edge (union isolated nodes as self-loops upstream if needed;
    duplicate edges count as parallel links). Stops when the L1 rank
    change drops below ``tol`` or after ``max_iterations``. Pass
    ``stats`` to receive {"iterations": n, "l1_curve": [...]}."""
    e = edges.select(F.col(src).cast("long").alias("src"),
                     F.col(dst).cast("long").alias("dst"))
    e = e.transform(materialize)
    nodes = (e.select(F.col("src").alias("id"))
             .union(e.select(F.col("dst").alias("id")))
             .distinct().transform(materialize))
    # output: N sets the teleport and dangling shares of every rank
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # outdeg rides WITH the rank vector so the per-iteration join is
    # ranks ⋈ edges only (deg is joined once, re-checkpointed per round)
    ranks = (nodes.join(deg, nodes.id == deg.src, "left")
             .select("id", F.coalesce("deg", F.lit(0)).alias("deg"))
             .withColumn("rank", F.lit(1.0 / n))
             .transform(materialize))

    base = (1.0 - damping) / n
    curve: list[float] = []
    iterations = 0
    for _ in range(max_iterations):
        iterations += 1
        if deterministic:
            # unordered F.sum over ≥2 dangling nodes is partition-
            # order-dependent, and the scalar feeds EVERY rank this
            # iteration — fold it in a fixed order instead
            dangling = _ordered_scalar_sum(
                ranks.filter(F.col("deg") == 0), "id", F.col("rank"))
        else:
            dangling = (ranks.filter(F.col("deg") == 0)
                        .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
                        .collect()[0][0])  # output: dangling mass
        contrib = (e.join(ranks, e.src == ranks.id)
                   .select(F.col("dst"),
                           (F.col("rank") / F.col("deg")).alias("c")))
        if deterministic:
            sums = (contrib.groupBy("dst").agg(
                F.reduce(
                    F.array_sort(F.collect_list("c")),
                    F.lit(0.0),
                    lambda acc, x: acc + x).alias("s")))
        else:
            sums = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        new = (ranks.join(sums, ranks.id == sums.dst, "left")
               .select(
                   "id", "deg",
                   F.col("rank").alias("prev"),
                   (F.lit(base)
                    + F.lit(damping)
                    * (F.coalesce("s", F.lit(0.0))
                       + F.lit(dangling / n))).alias("rank")))
        new = new.transform(materialize_lazy)
        if deterministic:
            # the stop decision (l1 < tol) must not flip with
            # partitioning when l1 sits within an ulp of tol
            l1 = _ordered_scalar_sum(
                new, "id", F.abs(F.col("rank") - F.col("prev")))
        else:
            l1 = (new.agg(F.sum(F.abs(F.col("rank") - F.col("prev"))))
                  .collect()[0][0])  # control: the l1 < tol stop test
        ranks = new.select("id", "deg", "rank")
        curve.append(float(l1))
        if l1 < tol:
            break
    if stats is not None:
        stats["iterations"] = iterations
        stats["l1_curve"] = curve
    return ranks.select("id", "rank")
