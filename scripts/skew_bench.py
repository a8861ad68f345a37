"""Skew benchmark — measures what the salted aggregation actually buys.

The driver fixtures are uniform, so this generates its own pathological
input: N rows where one key owns `hot_frac` of everything (the viral-
document / default-user-id shape that pins a stage at 100 TB). It then
times the same sum/count aggregation two ways, and a join against a
small dimension with AQE off and on:

  agg_direct        groupBy(key) with AQE off — the straggler plan
  agg_salted        two-round salted fold (operators/skew.py), AQE off
  join_direct       shuffle join, AQE off, then on (Spark's own remedy)

Both aggregations must return identical results (asserted). Writes
skew_bench.tsv.

Usage: python scripts/skew_bench.py [n_rows] [reps]
"""

from __future__ import annotations

import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from myhadoop_spark.operators.skew import salted_sum_count
from myhadoop_spark.session import get_spark


def make_skewed(spark, n: int, hot_frac: float = 0.95):
    n_hot = int(n * hot_frac)
    hot = spark.range(n_hot).selectExpr("'hot' AS k", "CAST(id % 97 AS DOUBLE) AS v")
    cold = (spark.range(n - n_hot)
            .selectExpr("concat('c', id % 200) AS k",
                        "CAST(id % 89 AS DOUBLE) AS v"))
    # repartition WITHOUT the key so the skew materializes at the shuffle
    return hot.unionAll(cold).repartition(32)


def timed(df_builder, reps: int) -> float:
    times = []
    for _ in range(reps):
        t0 = time.time()
        df_builder().write.format("noop").mode("overwrite").save()
        times.append(time.time() - t0)
    return round(statistics.median(times), 3)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark("skew-bench")
    src = make_skewed(spark, n).localCheckpoint()  # exclude gen cost

    dim = (src.select("k").distinct()
           .withColumn("label", F.concat(F.lit("L-"), F.col("k")))
           .localCheckpoint())

    # --- aggregation case (expected finding: salting does NOT help) ----
    def agg_direct():
        return src.groupBy("k").agg(F.sum("v").alias("sum_value"),
                                    F.count(F.lit(1)).alias("n_rows"))

    def agg_salted():
        return salted_sum_count(src, ["k"], F.col("v"), n_salts=32)

    a = {r["k"]: (r["sum_value"], r["n_rows"]) for r in agg_direct().collect()}
    b = {r["k"]: (r["sum_value"], r["n_rows"]) for r in agg_salted().collect()}
    assert a == b, "salted agg diverged"

    # --- join case (the real skew victim: all hot rows hit one reducer) --
    def join_direct():
        return src.join(dim, "k").select(F.sum(F.length("label")).alias("s"))

    rows = []
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    # force the shuffle join path (dim is small enough to broadcast,
    # which would hide the skew this bench exists to show)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    rows.append(("agg_direct_noaqe", timed(agg_direct, reps)))
    rows.append(("agg_salted_noaqe", timed(agg_salted, reps)))
    rows.append(("join_direct_noaqe", timed(join_direct, reps)))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    rows.append(("join_direct_aqe", timed(join_direct, reps)))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
    with open("skew_bench.tsv", "w") as f:
        f.write(f"variant\twall_s\t(n={n}, hot_frac=0.95, 32 salts)\n")
        for name, t in rows:
            f.write(f"{name}\t{t}\n")
            print(f"{name}: {t}s")
    spark.stop()


if __name__ == "__main__":
    main()
