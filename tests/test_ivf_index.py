"""Persistent IVF index (operators/ivf_index.py): persisted search ≡
in-memory ivf_topk, partition-pruned probe scans, incremental append ≡
one-shot build under the same centroids, compaction search-equality
and filtered ANN. The streamed append is checked in
tests/test_hybrid_ingest.py."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from myhadoop_spark.catalog import load
from myhadoop_spark.operators.ivf import _dot, ivf_topk
from myhadoop_spark.operators.ivf_index import (
    append_to_index,
    build_index,
    load_centroids,
    search_index,
)
from tests.conftest import SF_SMOKE

N_Q, K, TOP_K = 5, 8, 5


def _emb(spark):
    return (load(spark, SF_SMOKE, "embeddings")
            .select("vec_id",
                    F.transform("embedding", lambda x: x.cast("double"))
                    .alias("v")))


def _queries(emb):
    return (emb.filter(F.col("vec_id") < N_Q)
            .select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"),
                    F.sqrt(_dot("v", "v")).alias("qnrm")))


def _res(df):
    return {(r.q_id, r.neighbor_id): (r.rn, r.cosine) for r in df.collect()}


def test_persisted_search_equals_in_memory(spark, tmp_path):
    emb = _emb(spark)
    path = str(tmp_path / "idx")
    cents = build_index(emb, path, k=K)
    assert load_centroids(spark, path) == cents
    q = _queries(emb)
    want = _res(ivf_topk(emb.withColumn("nrm", F.sqrt(_dot("v", "v"))),
                         q, cents, top_k=TOP_K))
    got = _res(search_index(spark, path, q, top_k=TOP_K))
    assert got == want and got


def test_probe_scan_is_partition_pruned(spark, tmp_path):
    """The probed bucket set must reach the vectors scan as a PARTITION
    filter — only those bucket directories are read."""
    emb = _emb(spark)
    path = str(tmp_path / "idx")
    build_index(emb, path, k=K)
    plan_io = io.StringIO()
    with contextlib.redirect_stdout(plan_io):
        search_index(spark, path, _queries(emb)).explain("formatted")
    plan = plan_io.getvalue()
    assert "PartitionFilters" in plan
    # the bucket IN (...) predicate sits in PartitionFilters, not a
    # post-scan Filter: find the scan block and check
    scan = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("bucket" in ln for ln in scan), plan


def test_append_equals_one_shot_build(spark, tmp_path):
    """Build on the first half, append the second: search must equal
    the one-shot assignment of the UNION under the same centroids (the
    no-retrain append contract)."""
    emb = _emb(spark)
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "idx")
    cents = build_index(half_a, path, k=K)
    append_to_index(half_b, path)
    q = _queries(emb)
    want = _res(ivf_topk(emb.withColumn("nrm", F.sqrt(_dot("v", "v"))),
                         q, cents, top_k=TOP_K))
    got = _res(search_index(spark, path, q, top_k=TOP_K))
    assert got == want


def test_compaction_preserves_search(spark, tmp_path):
    """Repeated appends fragment the inverted lists; compact_index must
    rewrite fragmented buckets to one file each with search results
    EXACTLY unchanged, and leave unfragmented buckets' files alone."""
    from myhadoop_spark.fsutil import count_data_files, list_partition_dirs
    from myhadoop_spark.operators.ivf_index import compact_index

    emb = _emb(spark).localCheckpoint()
    path = str(tmp_path / "idx")
    build_index(emb.filter(F.col("vec_id") % 6 == 0), path, k=K)
    for r in range(1, 6):  # five append rounds → ≥6 file sets/bucket
        append_to_index(emb.filter(F.col("vec_id") % 6 == r), path)

    dirs = [u for _, u in
            list_partition_dirs(spark, f"{path}/vectors", "bucket")]
    frag_files = count_data_files(spark, dirs)
    assert frag_files > len(dirs) * 4  # genuinely fragmented

    q = _queries(emb)
    before = _res(search_index(spark, path, q, top_k=TOP_K))
    stats = compact_index(spark, path, max_files_per_bucket=4)
    assert stats["compacted_buckets"] >= 1
    assert stats["files_after"] == stats["compacted_buckets"]
    assert count_data_files(spark, dirs) < frag_files
    after = _res(search_index(spark, path, q, top_k=TOP_K))
    assert after == before and after

    # idempotent: a second pass finds nothing to do
    assert compact_index(spark, path,
                         max_files_per_bucket=4)["compacted_buckets"] == 0


def test_filtered_ann_prefilter_semantics(spark, tmp_path):
    """where= is vector-database PRE-filter semantics: each query's
    top-k over an index with payload metadata must equal search over
    a same-centroid index holding ONLY the matching vectors — never a
    post-filter of ranked results (which under-fills top-k). The
    predicate must also reach the parquet scan as a PushedFilter."""
    emb = (load(spark, SF_SMOKE, "embeddings")
           .select("vec_id",
                   F.transform("embedding", lambda x: x.cast("double"))
                   .alias("v"),
                   (F.col("vec_id") % 3).alias("shard_tag"))
           .localCheckpoint())
    path = str(tmp_path / "idx")
    cents = build_index(emb, path, k=K, payload_cols=("shard_tag",))
    q = _queries(emb)
    got = _res(search_index(spark, path, q, top_k=TOP_K,
                            where="shard_tag = 1"))

    # twin: same centroids, index holding only the matching vectors
    from myhadoop_spark.operators.ivf_index import _assign, _write_lists

    twin = str(tmp_path / "twin")
    (spark.createDataFrame([(i, c) for i, c in enumerate(cents)],
                           "bucket int, centroid array<double>")
     .coalesce(1).write.mode("overwrite").parquet(f"{twin}/centroids"))
    _write_lists(_assign(emb.filter("shard_tag = 1"), cents, "v",
                         "vec_id"), twin, "overwrite")
    want = _res(search_index(spark, twin, q, top_k=TOP_K))
    assert got == want and got
    # every neighbor satisfies the predicate
    assert all(nid % 3 == 1 for (_, nid) in got)

    # the predicate reaches the scan (row-group pruning substrate)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        search_index(spark, path, q, top_k=TOP_K,
                     where="shard_tag = 1").explain("formatted")
    plan = buf.getvalue()
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("shard_tag" in ln for ln in pushed), plan


def test_filtered_append_carries_payload(spark, tmp_path):
    """Appends with matching payload_cols keep the filtered search
    exact over the union."""
    emb = (load(spark, SF_SMOKE, "embeddings")
           .select("vec_id",
                   F.transform("embedding", lambda x: x.cast("double"))
                   .alias("v"),
                   (F.col("vec_id") % 3).alias("shard_tag"))
           .localCheckpoint())
    path = str(tmp_path / "idx")
    build_index(emb.filter("vec_id % 2 = 0"), path, k=K,
                payload_cols=("shard_tag",))
    append_to_index(emb.filter("vec_id % 2 = 1"), path,
                    payload_cols=("shard_tag",))
    q = _queries(emb)
    got = _res(search_index(spark, path, q, top_k=TOP_K,
                            where="shard_tag = 2"))
    whole = str(tmp_path / "whole")
    cents = load_centroids(spark, path)
    from myhadoop_spark.operators.ivf_index import _assign, _write_lists

    (spark.createDataFrame([(i, c) for i, c in enumerate(cents)],
                           "bucket int, centroid array<double>")
     .coalesce(1).write.mode("overwrite").parquet(f"{whole}/centroids"))
    _write_lists(_assign(emb.filter("shard_tag = 2"), cents, "v",
                         "vec_id"), whole, "overwrite")
    want = _res(search_index(spark, whole, q, top_k=TOP_K))
    assert got == want and got
