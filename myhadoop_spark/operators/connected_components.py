"""Connected components by large-star / small-star edge contraction.

The missing last step of near-duplicate deduplication: LSH + verify
emits PAIRS; keep-one-per-group needs the transitive closure — cluster
ids. Spark has no built-in CC (GraphFrames isn't in the image), so
this module ships one DataFrame algorithm: alternating large-star /
small-star rounds (Kiveris et al. 2014, "Connected Components in
MapReduce and Beyond"). Each round rewires every edge toward a
component minimum, so the EDGE SET ITSELF CONTRACTS toward a star
forest (one edge per non-root node, pointing at its component's
smallest id): on dense components the per-round shuffle shrinks as
rounds proceed (a path's edge set does not), and the round count is
O(log² n) whatever the node-id order. On
id-permuted chains (edges ``(perm[i], perm[i+1])``) it takes 6 rounds
at 64 nodes and 8 at 256, where min-label propagation, the algorithm
this one replaced, needed 15–48 and 56–80.

One round is one eager pin (``materialize``) of one plan: the edges
are symmetrized with an ``explode``, the large-star minimum is a
window over each node's neighbours, the small-star minimum a window
over each edge's larger end, and one more ``explode`` emits both
small-star edges before the ``distinct``. The stop test rides the
large-star window as an ``Observation``, so no round collects or
counts anything: a round whose INPUT has no node with both a smaller
neighbour and a second neighbour was handed a star forest (every
such node is a leaf whose only neighbour has no smaller neighbour,
or it would have degree ≥ 2), and that input is the labelling. A
false stop is impossible by construction; an exhausted round budget
raises instead of returning half-contracted labels.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from myhadoop_spark.materialize import materialize

# O(log² n) rounds in theory, about log n in practice (8 rounds at 256
# permuted chain nodes); a graph that needs more is reported, never
# labelled from a half-contracted edge set
MAX_ROUNDS = 30


def _emit(df: DataFrame, *pairs: tuple[Column, Column]) -> DataFrame:
    """One (u, v) row per column pair per input row."""
    return (df.select(F.explode(F.array(*(
                F.struct(x.alias("u"), y.alias("v")) for x, y in pairs)))
                      .alias("p"))
            .select("p.u", "p.v"))


def _round(e: DataFrame, star: Observation) -> DataFrame:
    """One large-star then small-star round over distinct, loop-free
    edges (u, v), u > v; the output has the same shape. ``star``
    observes whether the input was already a star forest."""
    u, v, mn, m = F.col("u"), F.col("v"), F.col("mn"), F.col("m")
    by_u = Window.partitionBy("u")
    # large star: each larger neighbour v of u → min(Γ(u) ∪ {u})
    large = (_emit(e, (u, v), (v, u))
             .withColumn("mn", F.min("v").over(by_u))
             .withColumn("deg", F.count(F.lit(1)).over(by_u))
             .observe(star, F.max((mn < u) & (F.col("deg") > 1))
                      .alias("chained"))
             .filter(v > u)
             .select(v.alias("u"), F.least(u, mn).alias("v")))
    # small star: u and each smaller neighbour of u → min of the latter
    small = large.withColumn("m", F.min("v").over(by_u))
    return _emit(small, (v, m), (u, m)).filter(u != v).distinct()


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         stats: dict | None = None) -> DataFrame:
    """[src, dst] edge list → [id, component] where component is the
    smallest node id reachable from `id`. Nodes only appear if they
    occur in some edge (callers union isolated nodes as self-edges if
    they want them represented). Pass a dict as `stats` to receive
    {"iterations": rounds, "edge_curve": [edges after each round]},
    both observed on the rounds' own pins."""
    a, b = F.col("a"), F.col("b")
    # one pin of the caller's edge subtree (candidate joins, verifies):
    # the nodes and the first round both read it. Its non-loop count is
    # observed at the top of the pinned plan, where AQE cannot prune it
    links = Observation()
    raw = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .observe(links, F.count(F.when(a != b, 1)).alias("n"))
           .transform(materialize))
    e = (raw.filter(a != b)
         .select(F.greatest(a, b).alias("u"), F.least(a, b).alias("v"))
         .distinct())
    rounds, curve = 0, []
    # an empty edge set skips the loop: under the round's shuffles its
    # star observation would be pruned along with the empty input
    if links.get["n"]:
        for rounds in range(1, MAX_ROUNDS + 1):
            star, size = Observation(), Observation()
            e = _round(e, star)
            if stats is not None:
                e = e.observe(size, F.count(F.lit(1)).alias("n"))
            e = e.transform(materialize)
            if stats is not None:
                curve.append(size.get["n"])
            # a star forest maps to itself, so the output is the labelling
            if not star.get["chained"]:
                break
        else:
            raise RuntimeError(
                f"connected_components did not converge within "
                f"{MAX_ROUNDS} rounds")
    if stats is not None:
        stats["iterations"] = rounds
        stats["edge_curve"] = curve
    # each star leaf takes its root; roots, and nodes seen only in
    # self-loops, label themselves
    ends = raw.select(F.explode(F.array(a, b)).alias("id"))
    return (e.select(F.col("u").alias("id"), F.col("v").alias("component"))
            .unionByName(ends.select("id", F.col("id").alias("component")))
            .groupBy("id").agg(F.min("component").alias("component")))
