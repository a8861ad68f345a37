"""UniMax scale rehearsal: the allocation must stay language-bounded
while selection grows linearly when the corpus grows 10×.

Runs token counting, allocation, and selection on the deterministic
synthetic document source at 1× and 10×, recording wall seconds and
shuffle-write bytes per stage (the dsir_scaling.py discipline).
Appends:

    engine  n_docs  op  wall_s  shuffle_write_bytes  rows_out

What the curve must show (and why it holds by construction):
  * unimax_alloc — the allocation window runs over ONE ROW PER
    LANGUAGE (rows_out = #langs at both scales); its shuffle carries
    the per-language totals, ∝ langs × partitions, ~flat in docs.
  * unimax_select — the per-language rank window is the only
    data-sized shuffle: bytes ∝ documents, linear, never docs².

Languages are derived from doc_id with a deliberate head language
(~40% of docs) so the truncation branch is live at both scales.

Run: python scripts/unimax_study.py [doc_counts...]  (default 5000 50000)
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from bench import StageMeter
from myhadoop_spark.operators.unimax import (
    doc_token_counts,
    unimax_allocate,
    unimax_select,
)
from myhadoop_spark.session import get_spark
from myhadoop_spark.sources.synthetic import register as register_source


def synthetic_docs(spark, n: int):
    docs = (spark.read.format("synthetic_docs")
            .option("rows", n)
            .option("vocabSize", 20_000)
            .load())
    lang = (F.when(F.col("doc_id") % 10 < 4, F.lit("en"))
            .otherwise(F.concat(F.lit("l"),
                                (F.col("doc_id") % 10).cast("string"))))
    return docs.withColumn("lang", lang)


def main() -> None:
    import os

    os.environ.setdefault("SPARK_GRAFT_UI", "1")
    counts = [int(a) for a in sys.argv[1:]] or [5_000, 50_000]
    spark = get_spark("unimax_study")
    register_source(spark)
    meter = StageMeter(spark)
    out = Path("unimax_study.tsv")
    if not out.exists():
        out.write_text(
            "engine\tn_docs\top\twall_s\tshuffle_write_bytes\trows_out\n")

    def run(n_docs: int, op: str, thunk):
        meter.delta()
        t0 = time.time()
        result, rows = thunk()
        wall = time.time() - t0
        shuffled = meter.delta()["shuffle_write_bytes"]
        line = (f"myhadoop_spark\t{n_docs}\t{op}\t{wall:.3f}\t"
                f"{shuffled}\t{rows}\n")
        with out.open("a") as f:
            f.write(line)
        print(line.strip())
        return result

    doc_token_counts(synthetic_docs(spark, 1_000)).count()  # warm-up

    for n in counts:
        dt = doc_token_counts(synthetic_docs(spark, n)).localCheckpoint()
        total = dt.agg(F.sum("n_tokens")).collect()[0][0]
        budget = int(total) * 4 // 5

        alloc_box = {}

        def _alloc():
            a = unimax_allocate(dt, total_budget=budget).localCheckpoint()
            alloc_box["a"] = a
            return a, a.count()

        run(n, "unimax_alloc", _alloc)

        def _select():
            s = unimax_select(dt, alloc_box["a"])
            return s, s.count()

        run(n, "unimax_select", _select)

    # --- hot-language rehearsal (VERDICT r9 #1): one language holds
    # ~95% of the corpus. The spec window sorts ALL of it on one
    # reducer; the banded path spreads it over `bands` partitions and
    # prunes past-budget bands before the sort. Rows record the max
    # single-sort size (rows_out = the largest window partition a task
    # must sort for the head language) plus wall clock for each path.
    from myhadoop_spark.functions.text import hash_bucket
    from myhadoop_spark.operators.unimax import (
        _HASH_BUCKETS,
        unimax_select_window,
    )

    n_hot = counts[-1] * 4
    docs = (spark.read.format("synthetic_docs")
            .option("rows", n_hot).option("vocabSize", 20_000).load())
    hot = docs.withColumn(
        "lang",
        F.when(F.col("doc_id") % 20 < 19, F.lit("en"))
        .otherwise(F.lit("tail")))
    dt = doc_token_counts(hot).localCheckpoint()
    total = dt.agg(F.sum("n_tokens")).collect()[0][0]
    alloc = unimax_allocate(dt, total_budget=int(total) // 5) \
        .localCheckpoint()

    bands = 32
    width = (_HASH_BUCKETS + bands - 1) // bands
    sizes = (dt.withColumn("_h", hash_bucket(F.col("doc_id"), _HASH_BUCKETS))
             .withColumn("_band", F.expr(f"_h div {width}"))
             .groupBy("lang", "_band").count()
             .groupBy("lang").agg(F.max("count").alias("mx"),
                                  F.sum("count").alias("tot"))
             .filter(F.col("lang") == "en").collect()[0])
    # window path: the head language is ONE sort partition of `tot`
    run(n_hot, "select_window_hot",
        lambda: (None, unimax_select_window(dt, alloc).count()
                 and int(sizes["tot"])))
    # banded path: the largest single sort is `mx` ≈ tot/bands
    run(n_hot, "select_banded_hot",
        lambda: (None, unimax_select(dt, alloc, bands=bands).count()
                 and int(sizes["mx"])))

    spark.stop()


if __name__ == "__main__":
    main()
