"""Connected-components cost-curve study (VERDICT r2 item 8).

dedup_clusters is the one iterative operator whose per-round job overhead
dominates at toy scale; the scale question is how iterations and wall
grow with the edge set. This script times connected_components on
synthetic near-dup-shaped graphs at 1×/10×/100× the sf0.1 edge count and
appends rows to cc_scaling.tsv:

    engine  scale  n_edges  n_nodes  n_components  iterations  wall_s

Graph shape mirrors a real near-dup graph: many 10-node clusters (the
common case) plus a few 100-node chains (the longest paths, whose
edge set does not shrink under contraction). Deterministic generation
(id arithmetic, no RNG) so runs are comparable.

Run: python scripts/cc_scaling.py [scales...]   (default: 1 10 100)
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from myhadoop_spark.operators import connected_components as cc_mod
from myhadoop_spark.session import get_spark

# sf0.1 embed_neardup yields ~3k edges; take that as 1×
BASE_EDGES = 3_000


def synth_edges(spark: SparkSession, scale: int):
    """Deterministic near-dup-shaped graph: 90% of edges in 10-node path
    clusters (9 edges link ids i..i+9 per block), 10% in 100-node
    chains. Built with range() + arithmetic — no driver data."""
    n_edges = BASE_EDGES * scale
    n_clique_edges = n_edges * 9 // 10
    n_chain_edges = n_edges - n_clique_edges
    # blocks of 9 consecutive edges over 10 consecutive node ids; the
    # +id/9 term skips one id between blocks so blocks don't connect
    clusters = (
        spark.range(n_clique_edges)
        .select(
            (F.col("id") + (F.col("id") / 9).cast("long")).alias("src"),
            (F.col("id") + (F.col("id") / 9).cast("long") + 1).alias("dst"),
        )
    )
    # chains: 100-node paths, offset far above the cluster ids
    chain_base = 10 * n_clique_edges + 1000
    chains = (
        spark.range(n_chain_edges)
        .select(
            (chain_base + F.col("id")
             + (F.col("id") / 99).cast("long")).alias("src"),
            (chain_base + F.col("id")
             + (F.col("id") / 99).cast("long") + 1).alias("dst"),
        )
    )
    return clusters.union(chains)


def run_one(spark: SparkSession, scale: int) -> dict:
    edges = synth_edges(spark, scale).localCheckpoint()
    n_edges = edges.count()
    stats: dict = {}
    t0 = time.time()
    labels = cc_mod.connected_components(edges, stats=stats)
    n_nodes = labels.count()
    wall = time.time() - t0
    n_comp = labels.select("component").distinct().count()
    return {"n_edges": n_edges, "n_nodes": n_nodes,
            "n_components": n_comp,
            "iterations": stats.get("iterations", -1),
            "wall_s": round(wall, 2)}


def main() -> None:
    scales = [int(a) for a in sys.argv[1:]] or [1, 10, 100]
    spark = get_spark("cc_scaling")
    out = Path("cc_scaling.tsv")
    header = ("engine\tscale\tn_edges\tn_nodes\tn_components\t"
              "iterations\twall_s\n")
    if not out.exists():
        out.write_text(header)
    for scale in scales:
        r = run_one(spark, scale)
        line = (f"myhadoop_spark\t{scale}\t{r['n_edges']}\t{r['n_nodes']}\t"
                f"{r['n_components']}\t{r['iterations']}\t{r['wall_s']}\n")
        with out.open("a") as f:
            f.write(line)
        print(line.strip())
    spark.stop()


if __name__ == "__main__":
    main()
