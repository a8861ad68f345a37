"""Triangle counting — the graph-analytics companion of
operators/connected_components.py: local clustering structure over the
near-duplicate / link graph, and the classic join-based MapReduce
graph benchmark (Suri & Vassilvitskii, "Counting Triangles and the
Curse of the Last Reducer", WWW 2011).

Algorithm — compact-forward via DEGREE ordering: canonicalize to a
simple undirected graph, then orient every edge from its lower-
(degree, id) endpoint to the higher one. The oriented graph is a DAG
in which every triangle appears EXACTLY once as a→b, b→c, a→c, so

    triangles = (oriented ⋈ oriented on b)  ⋈semi  oriented on (a, c)

two equi-joins, no distinct, no double counting. Degree ordering is
the scale story ("the curse of the last reducer"): a hub of degree d
contributes wedges only through its ~√-bounded HIGHER-ordered
neighbors, capping the wedge blowup at m^(3/2) total work instead of
Σ d² — an id-ordered orientation (what the SQL oracle uses, and
which yields the SAME triangle set) puts every hub wedge on one
reducer. Both joins shuffle on a single vertex key; candidate wedges
are verified by the semi-join, so nothing wider than (a, b, c) rows
ever materializes.

Reference analog: none — §2.3 extension surface (graph family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from myhadoop_spark.materialize import materialize


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct undirected edges as (u, v) with u < v; self-loops
    dropped. Multi-edges collapse — triangles are set semantics."""
    u = F.least(F.col(src), F.col(dst)).cast("long")
    v = F.greatest(F.col(src), F.col(dst)).cast("long")
    return (edges.select(u.alias("u"), v.alias("v"))
            .filter(F.col("u") < F.col("v"))
            .distinct())


def oriented_edges(edges: DataFrame, *, src: str = "src",
                   dst: str = "dst") -> DataFrame:
    """(a, b): each canonical edge oriented low→high (degree, id)."""
    # materialize the canonical edge set once: it is referenced three
    # times below (the degree union reads it twice, the orientation
    # join once), and callers hand in expensive candidate subtrees
    # (the embed_neardup LSH self-join) that would otherwise execute
    # three times (guide §3.3 lineage truncation).
    e = _canonical_edges(edges, src, dst).transform(materialize)
    deg = (e.select(F.col("u").alias("id"))
           .union(e.select("v"))
           .groupBy("id").agg(F.count(F.lit(1)).alias("deg")))
    du = deg.select(F.col("id").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("id").alias("v"), F.col("deg").alias("dv"))
    j = e.join(du, "u").join(dv, "v")
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    return j.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"))


def triangles(edges: DataFrame, *, src: str = "src",
              dst: str = "dst") -> DataFrame:
    """Every triangle exactly once as (a, b, c) — the orientation's
    DAG order, NOT sorted by id (canonicalize downstream if needed)."""
    o = oriented_edges(edges, src=src, dst=dst).transform(materialize)
    wedge = (o.alias("x")
             .join(o.alias("y"), F.col("x.b") == F.col("y.a"))
             .select(F.col("x.a").alias("a"), F.col("x.b").alias("b"),
                     F.col("y.b").alias("c")))
    return wedge.join(
        o.select(F.col("a").alias("a2"), F.col("b").alias("c2")),
        (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2")),
        "leftsemi")


def vertex_triangle_counts(edges: DataFrame, *, src: str = "src",
                           dst: str = "dst") -> DataFrame:
    """(id, triangles) for every vertex in ≥1 triangle."""
    t = triangles(edges, src=src, dst=dst)
    member = t.select(F.explode(F.array("a", "b", "c")).alias("id"))
    return member.groupBy("id").agg(
        F.count(F.lit(1)).alias("triangles"))
