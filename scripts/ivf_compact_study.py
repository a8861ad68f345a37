"""IVF inverted-list compaction rehearsal (r6): fragmentation is the
cost that erodes the persistent index's probe advantage — each streamed
append lands one file set per touched bucket, so after B batches a
probe opens ~B files per probed bucket even though the BYTES are
unchanged. compact_index must restore the freshly-built shape.

Method: build the index, probe (phase=initial); run 20 streamed
appends through start_index_ingest_stream with NO auto-compaction,
probe again (phase=after_20_appends — files per probed bucket ~21);
compact_index, probe again (phase=after_compact — files back to ~1 per
bucket, search results identical, asserted here too).

Appends to ivf_compact_study.tsv:

    engine  n  k  phase  probed_buckets  files_in_probed  \
        input_bytes  wall_s  rows_out

Run: python scripts/ivf_compact_study.py [n] [n_appends]
(default 50000 20)
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from myhadoop_spark.fsutil import count_data_files, list_partition_dirs
from myhadoop_spark.operators.ivf import _dot, probe_buckets
from myhadoop_spark.operators.ivf_index import (
    build_index,
    compact_index,
    load_centroids,
    search_index,
    start_index_ingest_stream,
)
from myhadoop_spark.session import get_spark

K, N_PROBE, TOP_K, N_Q = 64, 4, 5, 8


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_UI", "1")
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    n_appends = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    spark = get_spark("ivf_compact_study")
    from scripts.ivf_index_study import InputMeter, synthetic_vectors

    out = Path("ivf_compact_study.tsv")
    if not out.exists():
        out.write_text("engine\tn\tk\tphase\tprobed_buckets\t"
                       "files_in_probed\tinput_bytes\twall_s\trows_out\n")
    meter = InputMeter(spark)
    base = "/tmp/ivf_compact_study"
    os.system(f"rm -rf {base}")
    idx = f"{base}/idx"

    emb = synthetic_vectors(spark, n).localCheckpoint()
    build_index(emb.filter(F.col("vec_id") % 2 == 0), idx, k=K)
    cents = load_centroids(spark, idx)

    queries = (emb.filter(F.col("vec_id") < N_Q)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("v").alias("qv"),
                       F.sqrt(_dot("v", "v")).alias("qnrm"))
               .localCheckpoint())
    probed = sorted(r.bucket for r in
                    probe_buckets(queries, cents, n_probe=N_PROBE)
                    .select("bucket").distinct().collect())

    def probed_dirs():
        return [u for v, u in
                list_partition_dirs(spark, f"{idx}/vectors", "bucket")
                if int(v) in probed]

    def record(phase):
        files = count_data_files(spark, probed_dirs())
        meter.delta()
        t0 = time.time()
        res = search_index(spark, idx, queries, n_probe=N_PROBE,
                           top_k=TOP_K)
        rows = res.count()
        wall = time.time() - t0
        read = meter.delta()
        line = (f"myhadoop_spark\t{n}\t{K}\t{phase}\t{len(probed)}\t"
                f"{files}\t{read}\t{wall:.3f}\t{rows}\n")
        with out.open("a") as f:
            f.write(line)
        print(line.strip())
        return {(r.q_id, r.neighbor_id): (r.rn, r.cosine)
                for r in res.collect()}

    search_index(spark, idx, queries).count()  # warm (uncounted)
    record("initial")

    # 20 streamed appends, no auto-compaction: maximal fragmentation
    src = f"{base}/src"
    (emb.filter(F.col("vec_id") % 2 == 1)
     .repartition(n_appends).write.parquet(src))
    stream = (spark.readStream.schema("vec_id long, v array<double>")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = start_index_ingest_stream(stream, path=idx,
                                  checkpoint=f"{base}/ckpt")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        time.sleep(0.2)

    frag = record(f"after_{n_appends}_appends")
    stats = compact_index(spark, idx, max_files_per_bucket=2)
    print(f"compact: {stats}")
    compacted = record("after_compact")
    assert compacted == frag, "compaction changed search results!"
    print("search results identical across compaction: OK")
    os.system(f"rm -rf {base}")
    spark.stop()


if __name__ == "__main__":
    main()
