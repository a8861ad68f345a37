"""Persistent-BM25-index rehearsal (r6): measure the bytes a lexical
probe actually READS with term-shard partition pruning versus the
per-query scorer's full-corpus scans — the file-skipping claim of
operators/bm25_index.py as an executed number, then the
fragmentation → compaction cycle (the ivf_compact_study.tsv
discipline applied to the postings table).

Method, over the real documents table (default $SPARK_GRAFT_SF_DIR):

  1. build the one-shot index (B term shards), pick three query terms
     at frequency ranks ~10/~50/~200 (deterministic from the data);
  2. ``bm25_per_query_scan``: operators/bm25.bm25_rank — the
     index-free path, two full corpus scans per query;
  3. ``probe_fresh``: search_bm25_index — reads only the query
     terms' shard directories;
  4. rebuild incrementally (1 build + 19 appends) → ``probe_fragmented``;
  5. compact → ``probe_compacted``.

Appends to bm25_index_study.tsv:

    engine  n_docs  n_buckets  op  buckets_read  files_probed  wall_s  input_bytes  rows_out

Run: python scripts/bm25_index_study.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

os.environ.setdefault("SPARK_GRAFT_UI", "1")

from pyspark.sql import functions as F

from myhadoop_spark.catalog import load
from myhadoop_spark.functions.text import tokens
from myhadoop_spark.operators.bm25 import bm25_rank
from myhadoop_spark.operators.bm25_index import (
    append_to_bm25_index,
    build_bm25_index,
    compact_bm25_index,
    search_bm25_index,
    term_bucket_py,
)
from myhadoop_spark.session import get_spark
from scripts.ivf_index_study import InputMeter

N_BUCKETS, TOP_K, SLICES = 256, 10, 20


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bm25_index_study")
    out = Path("bm25_index_study.tsv")
    if not out.exists():
        out.write_text("engine\tn_docs\tn_buckets\top\tbuckets_read\t"
                       "files_probed\twall_s\tinput_bytes\trows_out\n")
    meter = InputMeter(spark)

    docs = (load(spark, sf_dir, "documents")
            .select("doc_id", "text").localCheckpoint())
    n_docs = docs.count()

    # deterministic query terms at three frequency ranks
    freq = (docs.select(F.explode(tokens("text")).alias("term"))
            .groupBy("term").count()
            .orderBy(F.col("count").desc(), F.col("term").asc())
            .collect())
    ranks = sorted({min(r, len(freq) - 1)
                    for r in (10, len(freq) // 2, len(freq) - 5)})
    terms = [freq[r].term for r in ranks]
    buckets = sorted({term_bucket_py(t, N_BUCKETS) for t in terms})
    print(f"n_docs={n_docs} terms={terms} buckets={buckets}")

    idx = "/tmp/bm25_index_study_idx"

    def probed_files() -> int:
        from myhadoop_spark.fsutil import count_data_files
        return count_data_files(
            spark, [f"{idx}/postings/tbucket={b}" for b in buckets])

    def record(op, files, thunk):
        meter.delta()
        t0 = time.time()
        rows = thunk()
        wall = time.time() - t0
        read = meter.delta()
        line = (f"myhadoop_spark\t{n_docs}\t{N_BUCKETS}\t{op}\t"
                f"{len(buckets)}\t{files}\t{wall:.3f}\t{read}\t{rows}\n")
        with out.open("a") as f:
            f.write(line)
        print(line.strip())

    def _probe():
        return search_bm25_index(spark, idx, terms, top_k=TOP_K).count()

    build_bm25_index(docs, idx, n_buckets=N_BUCKETS)
    # warm both paths once (uncounted: Python-worker startup etc.)
    bm25_rank(docs, terms, top_k=TOP_K).count()
    _probe()

    record("bm25_per_query_scan", 0,
           lambda: bm25_rank(docs, terms, top_k=TOP_K).count())
    record("probe_fresh", probed_files(), _probe)

    # incremental rebuild: 1 build + 19 appends → fragmented shards
    build_bm25_index(docs.filter(F.col("doc_id") % SLICES == 0), idx,
                     n_buckets=N_BUCKETS)
    for s in range(1, SLICES):
        append_to_bm25_index(docs.filter(F.col("doc_id") % SLICES == s),
                             idx)
    record("probe_fragmented", probed_files(), _probe)

    stats = compact_bm25_index(spark, idx, max_files_per_bucket=1)
    print("compaction:", stats)
    record("probe_compacted", probed_files(), _probe)
    spark.stop()


if __name__ == "__main__":
    main()
