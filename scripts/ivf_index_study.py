"""Persistent-IVF-index rehearsal (r5): measure the bytes a probe
actually READS with bucket-partition pruning versus a full-corpus
exact scan — the file-skipping claim of operators/ivf_index.py as an
executed number, not a plan assertion.

Method: build the index over n synthetic vectors with K inverted
lists, then run (a) brute-force exact top-k over the full vectors
table and (b) search_index with n_probe lists, attributing each
phase's executor inputBytes from the Spark UI REST API. Expected:
pruned input ≈ n_probe/K of the full scan (plus the one-row-group
centroid read).

Bytes scale with the UNION of probed buckets across the query
batch (n_q queries x n_probe lists, deduplicated) — the per-query
n_probe/K claim compounds into |union|/K for a batch, so the study
records the bucket count alongside the bytes and runs both a
single-query and an 8-query batch.

Appends to ivf_index_study.tsv:

    engine  n  k  op  n_q  buckets_read  wall_s  input_bytes  rows_out

Run: python scripts/ivf_index_study.py [n] (default 50000)
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import Window
from pyspark.sql import functions as F

from myhadoop_spark.operators.ivf import _dot
from myhadoop_spark.operators.ivf_index import build_index, search_index
from myhadoop_spark.session import get_spark

K, N_PROBE, TOP_K, N_Q = 64, 4, 5, 8
DIM = 32


class InputMeter:
    """Cumulative executor inputBytes over completed stages (REST)."""

    def __init__(self, spark):
        self.base = spark.sparkContext.uiWebUrl
        self.app_id = spark.sparkContext.applicationId
        self.last = 0

    def delta(self) -> int:
        total = 0
        try:
            url = (f"{self.base}/api/v1/applications/{self.app_id}"
                   "/stages?status=complete")
            with urllib.request.urlopen(url, timeout=5) as r:
                for st in json.load(r):
                    total += st.get("inputBytes", 0)
        except Exception:
            pass
        d = total - self.last
        self.last = total
        return d


def synthetic_vectors(spark, n: int):
    """Deterministic pseudo-random unit-ish vectors; every 10th vector
    is its predecessor plus a tiny deterministic perturbation (planted
    near-dup at cosine ~0.999)."""
    base = spark.range(n).select(F.col("id").alias("vec_id"))
    seed = F.when(F.col("vec_id") % 10 == 0,
                  F.greatest(F.col("vec_id") - 1, F.lit(0))
                  ).otherwise(F.col("vec_id"))
    v = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda d: (F.pmod(F.hash(seed.cast("string"),
                                 d.cast("string")), F.lit(1000)).cast("double")
                   - F.lit(499.5)) / F.lit(500.0))
    bump = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda d: F.when(F.col("vec_id") % 10 == 0,
                         (F.pmod(F.hash(F.col("vec_id").cast("string"),
                                        d.cast("string")), F.lit(100))
                          .cast("double") - F.lit(49.5)) / F.lit(5000.0)
                         ).otherwise(F.lit(0.0)))
    return (base.select("vec_id", F.zip_with(v, bump,
                                             lambda a, b: a + b).alias("v"))
            .repartition(spark.sparkContext.defaultParallelism))


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_UI", "1")
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    spark = get_spark("ivf_index_study")

    out = Path("ivf_index_study.tsv")
    if not out.exists():
        out.write_text("engine\tn\tk\top\tn_q\tbuckets_read\t"
                       "wall_s\tinput_bytes\trows_out\n")
    meter = InputMeter(spark)

    emb = synthetic_vectors(spark, n).localCheckpoint()
    idx = "/tmp/ivf_index_study_idx"
    build_index(emb, idx, k=K)

    from myhadoop_spark.operators.ivf import probe_buckets
    from myhadoop_spark.operators.ivf_index import load_centroids

    cents = load_centroids(spark, idx)

    def queries_of(n_q):
        return (emb.filter(F.col("vec_id") < n_q)
                .select(F.col("vec_id").alias("q_id"),
                        F.col("v").alias("qv"),
                        F.sqrt(_dot("v", "v")).alias("qnrm"))
                .localCheckpoint())

    def record(op, n_q, buckets, thunk):
        meter.delta()
        t0 = time.time()
        rows = thunk()
        wall = time.time() - t0
        read = meter.delta()
        line = (f"myhadoop_spark\t{n}\t{K}\t{op}\t{n_q}\t{buckets}\t"
                f"{wall:.3f}\t{read}\t{rows}\n")
        with out.open("a") as f:
            f.write(line)
        print(line.strip())

    def _exact(queries):
        vec = spark.read.parquet(f"{idx}/vectors")
        cand = (vec.crossJoin(F.broadcast(queries))
                .filter(F.col("vec_id") != F.col("q_id"))
                .select("q_id", "vec_id",
                        (_dot("v", "qv") / (F.col("nrm") * F.col("qnrm")))
                        .alias("cos")))
        w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(),
                                               F.col("vec_id").asc())
        return (cand.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= TOP_K).count())

    def _pruned(queries):
        return search_index(spark, idx, queries, n_probe=N_PROBE,
                            top_k=TOP_K).count()

    # warm both paths once (uncounted), then measure per batch size
    warm = queries_of(1)
    _exact(warm); _pruned(warm)
    for n_q in (1, N_Q):
        queries = queries_of(n_q)
        n_buckets = (probe_buckets(queries, cents, n_probe=N_PROBE)
                     .select("bucket").distinct().count())
        meter.delta()
        record("exact_full_scan", n_q, K, lambda: _exact(queries))
        record(f"ivf_pruned_probe{N_PROBE}", n_q, n_buckets,
               lambda: _pruned(queries))
    spark.stop()


if __name__ == "__main__":
    main()
