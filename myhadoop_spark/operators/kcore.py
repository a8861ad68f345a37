"""k-core decomposition — the fourth graph-analytics face over the
near-duplicate pair graph (beside connected components, PageRank, and
triangle counting): the k-core is the maximal subgraph in which every
vertex keeps degree ≥ k. On a dedup graph the high-k cores are the
dense duplicate families (template farms, mirror clusters) worth
auditing as a unit before keep-one collapses them; low core numbers
mark incidental near-dups.

Algorithm (the standard peeling fixpoint, distributed): repeatedly
drop every vertex whose CURRENT degree is < k until none changes.
Each round is one degree aggregation (partial-aggregable count) + one
semi-join edge restriction — no windows, no driver state beyond the
per-round change count (ONE action per round, localCheckpoint
between rounds, loud non-convergence). Rounds are bounded by the
peeling depth, in practice a handful; the loop raises rather than
returning a non-fixpoint subgraph.

``core_numbers`` runs the peel at increasing k and records the last
k at which each vertex survived — exact core numbers. Each k peels
the PREVIOUS core's surviving edge set (the k-core of G is the
k-core of its (k−1)-core), so the input only shrinks down the
peeling hierarchy; k_max on dedup graphs is small (bounded by the
densest duplicate family).

No SQL twin: the peeling fixpoint is a decreasing iteration that a
recursive CTE (monotone-append semantics) cannot express — the
pagerank/mmr precedent: correctness is pinned against a pure-Python
model on generated graphs plus hand-built structures
(tests/test_kcore.py).

Reference analog: none — §2.3 extension surface (graph family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from myhadoop_spark.materialize import materialize, materialize_lazy


def _sym(edges: DataFrame, src: str, dst: str) -> DataFrame:
    # materialize the caller's edge subtree once before the two-way
    # union references it (callers hand in candidate-generation joins;
    # guide §3.3 lineage truncation — same as connected_components)
    e = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
         .filter(F.col("a") != F.col("b")).transform(materialize))
    return (e.union(e.select(F.col("b").alias("a"),
                             F.col("a").alias("b")))
            .distinct())


def _peel(sym: DataFrame, n_edges: int, k: int,
          max_iterations: int) -> tuple[DataFrame, int, int]:
    """Peel an already-symmetrized, self-loop-free, distinct edge set
    to its k-core. Returns (surviving symmetric edges — already
    localCheckpointed, edge count, peel rounds)."""
    rounds = 0
    for _ in range(max_iterations):
        rounds += 1
        deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("a")
        nxt = (sym.join(keep, "a", "left_semi")
               .join(keep.select(F.col("a").alias("b")), "b",
                     "left_semi")
               .select("a", "b")
               .transform(materialize_lazy))
        # one action per round: the count both materializes the
        # checkpoint and detects the fixpoint (edge count is monotone
        # decreasing, so equality IS convergence)
        n_after = nxt.count()
        sym = nxt
        if n_after == n_edges:
            break
        n_edges = n_after
    else:
        raise RuntimeError(
            f"kcore did not converge within {max_iterations} "
            "iterations — raise max_iterations")
    return sym, n_edges, rounds


def kcore(edges: DataFrame, k: int, *, src: str = "src",
          dst: str = "dst", max_iterations: int = 50,
          stats: dict | None = None) -> DataFrame:
    """[id, degree] of the k-core of the undirected simple graph in
    ``edges`` (self-loops dropped, directions symmetrized) — empty
    when no k-core exists. Pass ``stats`` to receive
    {"iterations": n}."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    sym = _sym(edges, src, dst).transform(materialize)
    # control: the peel loop stops when the edge count stops changing
    sym, _, rounds = _peel(sym, sym.count(), k, max_iterations)
    if stats is not None:
        stats["iterations"] = rounds
    return (sym.groupBy(F.col("a").alias("id"))
            .agg(F.count(F.lit(1)).cast("long").alias("degree")))


def core_numbers(edges: DataFrame, *, src: str = "src",
                 dst: str = "dst", k_max: int = 64,
                 max_iterations: int = 50,
                 stats: dict | None = None) -> DataFrame:
    """[id, core]: each vertex's exact core number (the largest k
    whose k-core contains it), by peeling at k = 1, 2, … until the
    core empties. Each k peels the PREVIOUS core's surviving edge
    set, not the original graph — the k-core of G equals the k-core
    of its (k−1)-core (containment), so the input only shrinks as k
    rises and the total work is one pass down the peeling hierarchy
    rather than k_max full-graph peels. Raises if the graph still has
    a core at ``k_max`` (dedup graphs don't — the densest duplicate
    family bounds it). Pass ``stats`` to receive
    {"edges_per_k": [(k, surviving_edge_count), ...],
    "iterations_per_k": [(k, peel_rounds), ...]}."""
    sym = _sym(edges, src, dst).transform(materialize)
    # control: the first peel round's baseline edge count
    n_edges = sym.count()
    labels = None
    for k in range(1, k_max + 1):
        sym, n_edges, rounds = _peel(sym, n_edges, k, max_iterations)
        if stats is not None:
            stats.setdefault("edges_per_k", []).append((k, n_edges))
            stats.setdefault("iterations_per_k", []).append((k, rounds))
        lab = (sym.select(F.col("a").alias("id")).distinct()
               .select("id", F.lit(k).cast("long").alias("core")))
        if n_edges == 0:
            if labels is None:
                # no edges at all — every vertex (if any) has core 0
                return lab.select("id", "core").limit(0)
            return labels
        labels = (lab if labels is None else
                  labels.join(lab.withColumnRenamed("core", "_k"),
                              "id", "left")
                  .select("id", F.coalesce("_k", "core").alias("core"))
                  .transform(materialize))
    raise RuntimeError(f"graph still has a non-empty {k_max}-core — "
                       "raise k_max")


def core_numbers_hindex(edges: DataFrame, *, src: str = "src",
                        dst: str = "dst",
                        max_iterations: int = 100,
                        stats: dict | None = None) -> DataFrame:
    """[id, core] by the distributed h-index fixpoint (Lü et al.
    2016, "The H-index of a network node and its relation to degree
    and coreness"; Montresor et al. 2013 distributed k-core): start
    every vertex at its degree and repeatedly set
    core(v) = H({core(u) : u ~ v}) — the estimates decrease
    monotonically and converge to the EXACT core numbers. One
    fixpoint loop over the whole decomposition instead of one peel
    loop per k (``core_numbers``): rounds ∝ convergence depth, not
    Σ per-k peel rounds — the better shape when k_max is large.

    Scale shape per round: one equi-join of the (symmetric) edge set
    against the current estimates, one PARTIAL-AGGREGABLE
    groupBy(v, c) count (a hot vertex's million equal-estimate
    neighbors collapse map-side), then the h-index over ≤ distinct-c
    rows per vertex — the window is bounded by the current core
    estimate range, never adjacency-sized. One action per round: the
    estimate SUM is monotone decreasing and integer, so equality IS
    convergence. Pinned ≡ core_numbers in tests/test_kcore.py.

    Reference analog: none — §2.3 extension surface (graph family).
    """
    sym = _sym(edges, src, dst).transform(materialize)
    est = (sym.groupBy(F.col("a").alias("id"))
           .agg(F.count(F.lit(1)).cast("long").alias("c"))
           .transform(materialize))
    total = est.agg(F.sum("c")).head()[0]
    if total is None:
        return est.select("id", F.col("c").alias("core")).limit(0)
    rounds = 0
    for _ in range(max_iterations):
        rounds += 1
        nbr = (sym.join(est.select(F.col("id").alias("b"), "c"), "b")
               .groupBy(F.col("a").alias("id"), "c")
               .agg(F.count(F.lit(1)).alias("n")))
        w = (Window.partitionBy("id")
             .orderBy(F.col("c").desc())
             .rowsBetween(Window.unboundedPreceding, 0))
        # h = max over distinct values c (desc) of min(c, #nbrs >= c)
        hidx = (nbr.withColumn("_cum", F.sum("n").over(w))
                .groupBy("id")
                .agg(F.max(F.least(F.col("c"), F.col("_cum")))
                     .cast("long").alias("h")))
        nxt = (est.join(hidx, "id", "left")
               .select("id",
                       F.least(F.col("c"),
                               F.coalesce("h", F.lit(0).cast("long")))
                       .alias("c"))
               .transform(materialize_lazy))
        new_total = nxt.agg(F.sum("c")).head()[0]
        est = nxt
        if new_total == total:
            break
        total = new_total
    else:
        raise RuntimeError(
            f"core_numbers_hindex did not converge within "
            f"{max_iterations} rounds — raise max_iterations")
    if stats is not None:
        stats["iterations"] = rounds
    return est.select("id", F.col("c").alias("core"))
