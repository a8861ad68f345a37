"""Dedup-family scale rehearsal (VERDICT r3 item 8): extend the CC and
media scaling curves to the full near-dup pipeline.

Runs minhash near-dup pairs, connected-component clustering over those
pairs, and benchmark decontamination on the deterministic synthetic
document source (sources/synthetic.py) at 1× and 10× the sf0.1 corpus
row count (5k → 50k docs), recording wall seconds AND shuffle-write
bytes per stage (the Spark-UI REST telemetry bench.py scrapes). Appends:

    engine  n_docs  op  wall_s  shuffle_write_bytes  rows_out

What the curve must show (and why it holds by construction):
  * minhash — signatures are a zero-shuffle narrow fold; the only wide
    ops are the band-bucket join and the candidate-pinned verify, so
    shuffle bytes grow ∝ docs + candidates, never docs².
  * clusters — pointer-jumping CC: iterations ∝ log(diameter), flat in
    row count (cc_scaling.tsv proved 3k→3M edges flat at 7).
  * decontam — the bench side broadcasts; the corpus streams narrow, so
    shuffle bytes stay ~flat while docs grow 10×.

Run: python scripts/dedup_scaling.py [--zipf] [doc_counts...]
(default 5000 50000; --zipf draws the vocabulary log-uniformly —
Zipf s≈1 — and suffixes the op names "_zipf": the distribution-honest
re-capture, since uniform token draws give every term frequency 1/V
and understate candidate volumes, max_df pressure, and head-term
shuffle skew)
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from bench import StageMeter
from myhadoop_spark.operators.bloom import bloom_build, bloom_probe
from myhadoop_spark.operators.connected_components import connected_components
from myhadoop_spark.operators.decontam import contamination_pairs
from myhadoop_spark.operators.substring import substring_pairs
from myhadoop_spark.queries.dedup import _hashed_token_sets, minhash_pairs
from myhadoop_spark.session import get_spark
from myhadoop_spark.sources.synthetic import register as register_source


def synthetic_docs(spark, n: int, zipf: bool = False):
    """Rehearsal corpus: 20k-token vocabulary (docs near-unique as
    token sets) with a planted near-dup every 10th document — without
    vocabSize the source's default 20-word list makes minhash declare
    ~half of ALL pairs near-dups (6.2M pairs from 5k docs), a
    degenerate all-pairs workload no banding can save. zipf=True draws
    the same vocabulary with a realistic heavy head instead of
    uniformly."""
    return (spark.read.format("synthetic_docs")
            .option("rows", n)
            .option("vocabSize", 20_000)
            .option("dupEvery", 10)
            .option("zipf", str(zipf).lower())
            .option("numPartitions", spark.sparkContext.defaultParallelism)
            .load()
            .select("doc_id", "text"))


def main() -> None:
    import os

    os.environ.setdefault("SPARK_GRAFT_UI", "1")  # REST telemetry
    args = sys.argv[1:]
    zipf = "--zipf" in args
    counts = [int(a) for a in args if a != "--zipf"] or [5_000, 50_000]
    suffix = "_zipf" if zipf else ""
    spark = get_spark("dedup_scaling")
    register_source(spark)
    meter = StageMeter(spark)
    out = Path("dedup_scaling.tsv")
    if not out.exists():
        out.write_text("engine\tn_docs\top\twall_s\tshuffle_write_bytes\trows_out\n")

    def run(n_docs: int, op: str, thunk) -> None:
        """Time the whole materialization (localCheckpoints included —
        they are eager, so they must sit INSIDE the timed region), and
        attribute its shuffle-write delta."""
        meter.delta()
        t0 = time.time()
        result, rows = thunk()
        wall = time.time() - t0
        shuffled = meter.delta()["shuffle_write_bytes"]
        line = f"myhadoop_spark\t{n_docs}\t{op}\t{wall:.3f}\t{shuffled}\t{rows}\n"
        with out.open("a") as f:
            f.write(line)
        print(line.strip())
        return result

    # uncounted warm-up: the synthetic source and the dedup folds are
    # Python/Arrow stages — the first job pays one worker spawn per core
    # (~50-100 ms × 32), which would otherwise inflate the 1× rows only
    warm = _hashed_token_sets(spark, "", docs=synthetic_docs(spark, 1_000),
                              wide=True)
    minhash_pairs(spark, warm).count()

    for n in counts:
        docs = synthetic_docs(spark, n, zipf)

        def _minhash():
            sets = _hashed_token_sets(spark, "", docs=docs, wide=True)
            pairs = minhash_pairs(spark, sets).localCheckpoint()
            return pairs, pairs.count()

        pairs = run(n, "minhash_pairs" + suffix, _minhash)

        def _clusters():
            cc = connected_components(
                pairs.select(F.col("doc1").alias("src"),
                             F.col("doc2").alias("dst")))
            return cc, cc.count()

        run(n, "clusters" + suffix, _clusters)

        def _decontam():
            cp = contamination_pairs(docs.filter("doc_id % 20 <> 0"),
                                     docs.filter("doc_id % 20 = 0"), n=4)
            return cp, cp.count()

        run(n, "decontam" + suffix, _decontam)

        # r4 additions: the planted dup (previous doc + 1 trailing
        # token) IS a full-document contiguous run, so substring_pairs
        # must recover ~n/dup_every pairs; windows grow ∝ tokens, the
        # banded join ∝ windows + matches — never docs².
        def _substring():
            sp = substring_pairs(docs)
            return sp, sp.count()

        run(n, "substring_pairs" + suffix, _substring)

        # Bloom: build shuffles ≤ partitions × m/32 words no matter how
        # many docs; the probe is a broadcast join (shuffle ≈ 0 on the
        # batch side beyond the final per-doc agg).
        def _bloom():
            bl = bloom_build(docs.filter("doc_id % 5 <> 0").select("text"),
                             "text").localCheckpoint()
            pr = bloom_probe(docs.select("doc_id", "text"), "text", bl,
                             id_cols=["doc_id"])
            return pr, pr.filter("bloom_hit").count()

        run(n, "bloom_build_probe" + suffix, _bloom)
    spark.stop()


if __name__ == "__main__":
    main()
