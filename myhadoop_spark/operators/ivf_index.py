"""Persistent IVF index — the in-memory ANN (operators/ivf.py) as an
on-disk, incrementally-maintainable table, the shape a 100 TB
embedding corpus actually needs:

  * ``<path>/centroids``: the K trained centroids (tiny parquet, one
    row per bucket) — the index "metadata" any session can reload;
  * ``<path>/vectors``: the corpus with its bucket assignment and
    precomputed norm, written ``partitionBy("bucket")`` — one
    directory per inverted list.

Why partition-by-bucket is the point: a probe touches only ``n_probe``
buckets per query, and because bucket is a PARTITION column the search
filters with ``bucket IN (probed...)`` — static partition pruning at
the file level, so a K=1024-list index reads ~n_probe/K of the corpus
bytes per query batch (the scan's PartitionFilters line is asserted in
tests/test_ivf_index.py). This is file-skipping applied to ANN.

Incremental maintenance: ``append_to_index`` assigns NEW vectors under
the STORED centroids and appends their partitions — no retrain, no
rewrite of existing lists (the standard IVF discipline: centroids
drift only on explicit re-train; FAISS's add() works the same way).
Search after append ≡ search over the union built in one shot with the
same centroids (tested). The hybrid ingest
(streaming/hybrid_ingest.py) runs the same append per micro-batch:
per-batch cost ∝ batch (K dot folds + one partitioned append),
independent of index history. A replayed batch appends its rows
again; the search path's distinct() collapses the duplicate
(q_id, vec_id) candidates, so results are replay-stable.

Determinism: training reuses the bounded deterministic sample
(operators/ivf.py:28), assignment is a pure function of (vector,
centroids), and probed buckets are a pure function of (query,
centroids) — the index is reproducible and so are search results.

Reference analog: none — §2.3 extension surface (SURVEY.md §2.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myhadoop_spark.operators.ivf import (
    _dot,
    assign_buckets,
    probe_buckets,
    train_centroids,
)


MAX_ROWS_PER_FILE = 1_000_000


def _write_lists(assigned: DataFrame, path: str, mode: str) -> None:
    """Write inverted lists co-located: repartition on bucket puts each
    list wholly in one task (1 file per bucket per write — without this
    every shuffle task writes a sliver into every bucket directory, a
    32x file-count inflation measured in ivf_compact_study.tsv), while
    maxRecordsPerFile re-splits genuinely huge lists so a 100 TB corpus
    still gets parallel-readable, bounded-size files."""
    (assigned.repartition("bucket")
     .write.partitionBy("bucket")
     .option("maxRecordsPerFile", MAX_ROWS_PER_FILE)
     .mode(mode).parquet(f"{path}/vectors"))


def build_index(emb: DataFrame, path: str, *, k: int = 16,
                iterations: int = 5, vec_col: str = "v",
                id_col: str = "vec_id",
                payload_cols: tuple[str, ...] = ()) -> list[list[float]]:
    """Train centroids, assign every vector, write the index tables.
    Returns the centroid list (also persisted under the index).

    ``payload_cols`` stores extra metadata columns alongside each
    vector — the substrate for FILTERED ANN (``search_index(where=)``):
    the predicate then pushes into the pruned parquet scan instead of
    post-filtering ranked results (which silently shrinks top-k)."""
    cents = train_centroids(emb, vec_col=vec_col, id_col=id_col, k=k,
                            iterations=iterations)
    spark = emb.sparkSession
    (spark.createDataFrame([(i, c) for i, c in enumerate(cents)],
                           "bucket int, centroid array<double>")
     .coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids"))
    _write_lists(_assign(emb, cents, vec_col, id_col, payload_cols),
                 path, "overwrite")
    return cents


def _assign(emb: DataFrame, cents: list[list[float]], vec_col: str,
            id_col: str,
            payload_cols: tuple[str, ...] = ()) -> DataFrame:
    return (assign_buckets(
        emb.withColumn("nrm", F.sqrt(_dot(F.col(vec_col), F.col(vec_col)))),
        cents, vec_col=vec_col)
        .select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"),
                "nrm", "bucket", *payload_cols))


def load_centroids(spark: SparkSession, path: str) -> list[list[float]]:
    rows = (spark.read.parquet(f"{path}/centroids")
            .orderBy("bucket").collect())  # output: K centroid rows
    return [list(r.centroid) for r in rows]


def append_to_index(new_emb: DataFrame, path: str, *,
                    vec_col: str = "v", id_col: str = "vec_id",
                    payload_cols: tuple[str, ...] = ()) -> None:
    """Assign new vectors under the STORED centroids and append their
    bucket partitions — no retrain, existing lists untouched.
    ``payload_cols`` must match the build's (a schema mismatch would
    splinter the lists)."""
    cents = load_centroids(new_emb.sparkSession, path)
    _write_lists(_assign(new_emb, cents, vec_col, id_col, payload_cols),
                 path, "append")


def search_index(spark: SparkSession, path: str, queries: DataFrame, *,
                 n_probe: int = 4, top_k: int = 5,
                 exclude_self: bool = True,
                 where: str | None = None) -> DataFrame:
    """queries[q_id, qv, qnrm] → per-query top-k cosine neighbors among
    the probed inverted lists. The probed bucket set (≤ n_probe ×
    |queries| distinct values, collected driver-side — bounded like the
    centroid sample) is pushed into the vectors scan as a partition
    filter, so only those bucket directories are read.

    ``exclude_self=True`` (default) drops candidates whose vec_id
    equals q_id — correct when queries are drawn FROM the indexed
    corpus (the self-match carries no information). Pass
    ``exclude_self=False`` when query ids live in a separate id space:
    an accidental numeric collision would otherwise silently drop a
    legitimate neighbor.

    ``where`` is FILTERED ANN over the stored payload columns
    (``build_index(payload_cols=...)``): a SQL predicate string
    applied to the vectors BEFORE ranking, so each query's top-k is
    drawn from the matching vectors — NOT a post-filter of ranked
    results, which silently returns fewer than k (the vector-database
    pre-filter semantics). Simple comparisons reach the parquet scan
    as PushedFilters (row-group stats skipping); results equal a
    same-centroid search over only the matching vectors (tested)."""
    from pyspark.sql import Window

    cents = load_centroids(spark, path)
    probed = probe_buckets(queries, cents, n_probe=n_probe)
    buckets = sorted(r.bucket for r in
                     # control: ≤ K probed bucket ids prune the scan
                     probed.select("bucket").distinct().collect())
    vectors = (spark.read.parquet(f"{path}/vectors")
               .filter(F.col("bucket").isin(buckets)))
    if where is not None:
        vectors = vectors.filter(where)
    cand = vectors.join(F.broadcast(probed), "bucket")
    if exclude_self:
        cand = cand.filter(F.col("vec_id") != F.col("q_id"))
    cand = (cand
            .select("q_id", "vec_id",
                    (_dot(F.col("v"), F.col("qv"))
                     / (F.col("nrm") * F.col("qnrm"))).alias("cos"))
            .distinct())
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(),
                                           F.col("vec_id").asc())
    return (cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= top_k)
            .select("q_id", F.col("vec_id").alias("neighbor_id"), "rn",
                    (F.floor(F.col("cos") * 1e6) / 1e6).alias("cosine")))


def compact_index(spark: SparkSession, path: str, *,
                  max_files_per_bucket: int = 4) -> dict:
    """Rewrite FRAGMENTED inverted lists into one file each — the
    FAISS add()/periodic-rebuild discipline applied to the lakehouse
    index. A long-running ingest stream appends one file set per batch
    per bucket; left alone, the per-probe read advantage erodes as each
    bucket directory accumulates small files (listing + per-file open
    cost, not bytes). Compaction is SELECTIVE and partition-pruned:

      1. one bounded driver-side listing of the top-level bucket dirs,
         counting data files per bucket;
      2. buckets over ``max_files_per_bucket`` are read back (basePath
         + only those directories), hash-repartitioned on bucket (each
         bucket lands wholly in one task → one output file), and
         rewritten via dynamic partition overwrite — untouched buckets
         keep their files byte-identical.

    Search-equality across a compaction is pinned in
    tests/test_ivf_index.py; the bytes/files-read recovery after 20
    streamed appends is measured in ivf_compact_study.tsv (27 files
    fresh, 567 after the appends, 27 after compaction). Returns
    {compacted_buckets, files_before, files_after}."""
    from myhadoop_spark.operators.compaction import compact_partitions

    stats = compact_partitions(spark, f"{path}/vectors", "bucket",
                               max_files_per_part=max_files_per_bucket,
                               max_rows_per_file=MAX_ROWS_PER_FILE)
    return {"compacted_buckets": stats["compacted_parts"],
            "files_before": stats["files_before"],
            "files_after": stats["files_after"]}
