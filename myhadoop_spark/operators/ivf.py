"""IVF (inverted-file) approximate nearest-neighbor index.

The industry-standard ANN scale path: k-means centroids partition the
corpus into buckets ("inverted lists"); a query scores only the vectors
in its top-P nearest buckets. Candidate count ≈ corpus·P/K regardless
of dimension — the knob that makes 100 TB of embeddings searchable.

Centroid training is deliberately driver-side numpy over a BOUNDED
deterministic sample (standard practice — FAISS trains on a sample too):
the sample size is fixed (≤ `sample_cap`) no matter how large the
corpus, so the driver never holds corpus-sized data. Initialization and
iteration order are deterministic (vec_id-ordered), so the index — and
therefore results — are reproducible run-to-run.

Assignment + search are pure Catalyst expressions: the centroid matrix
is inlined as literals (K×dim doubles), bucket assignment is a
higher-order argmax fold, and the probe join is an equi-join on
bucket id. No UDF anywhere.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def train_centroids(emb: DataFrame, vec_col: str = "v", id_col: str = "vec_id",
                    k: int = 16, iterations: int = 5,
                    sample_cap: int = 4096) -> list[list[float]]:
    """Deterministic sampled k-means (Lloyd): sample = the `sample_cap`
    smallest ids (bounded, reproducible), init = first k sample vectors,
    empty clusters keep their previous centroid."""
    sample = np.array(
        [r[0] for r in
         emb.select(vec_col).orderBy(F.col(id_col).asc())
         .limit(sample_cap).collect()],  # output: the bounded sample
        dtype=np.float64)
    cents = sample[:k].copy()
    for _ in range(iterations):
        d2 = ((sample[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(k):
            members = sample[assign == j]
            if len(members):
                cents[j] = members.mean(axis=0)
    return [[float(x) for x in c] for c in cents]


def _centroid_matrix(cents: list[list[float]]) -> Column:
    return F.array(*[F.array(*[F.lit(x) for x in c]) for c in cents])


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def assign_buckets(emb: DataFrame, cents: list[list[float]],
                   vec_col: str = "v") -> DataFrame:
    """Append `bucket` = argmax over centroids of dot(v, centroid)
    (cosine-equivalent for scoring against shared centroids). Each dot
    product is evaluated exactly once: scores are materialized into
    (score, idx) structs and array_max picks the lexicographic maximum
    (Catalyst does not CSE across lambda branches, so a compare-and-
    rebuild fold would pay 2× the multiply-adds)."""
    mat = _centroid_matrix(cents)
    k = len(cents)
    scored = F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.struct(
            _dot(F.col(vec_col), F.element_at(mat, i + 1)).alias("score"),
            i.alias("idx")),
    )
    return emb.withColumn("bucket", F.array_max(scored)["idx"])


def probe_buckets(queries: DataFrame, cents: list[list[float]],
                  vec_col: str = "qv", n_probe: int = 4) -> DataFrame:
    """Explode each query to its `n_probe` highest-scoring buckets."""
    mat = _centroid_matrix(cents)
    k = len(cents)
    scored = F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.struct(
            (-_dot(F.col(vec_col), F.element_at(mat, i + 1))).alias("neg"),
            i.alias("idx")),
    )
    probes = F.transform(F.slice(F.array_sort(scored), 1, n_probe),
                         lambda s: s["idx"])
    return queries.withColumn("bucket", F.explode(probes))


def ivf_topk(emb: DataFrame, queries: DataFrame,
             cents: list[list[float]], top_k: int = 5) -> DataFrame:
    """queries[q_id, qv, qnrm] × emb[vec_id, v, nrm] → per-query top-k
    cosine neighbors among the probed buckets."""
    corpus = assign_buckets(emb, cents)
    probed = probe_buckets(queries, cents)
    cand = (
        corpus.join(F.broadcast(probed), "bucket")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id",
                (_dot(F.col("v"), F.col("qv"))
                 / (F.col("nrm") * F.col("qnrm"))).alias("cos"))
        .distinct()
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(),
                                           F.col("vec_id").asc())
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "rn",
                (F.floor(F.col("cos") * 1e6) / 1e6).alias("cosine"))
    )
