"""Execution-plan knob study — the engine analog of the reference's
three shuffle/reduce scheduling plans (HADOOP/ICPP/NEW compared in
/root/reference/run_client_times.py:4-17, namenode.py:147-341).

SURVEY.md §4's conclusion is that those schedulers map onto Spark
config, not engine code; this harness demonstrates it empirically by
running representative queries under three configurations:

  baseline   AQE on, broadcast on   (the engine default — 'NEW')
  no_aqe     AQE off                (static planning — 'HADOOP')
  no_bcast   broadcast joins off    (shuffle-everything — worst case)

Writes plan_study.tsv (config, query, wall_s) and prints a summary.

Usage: python scripts/plan_study.py [sf_dir] [reps]
"""

from __future__ import annotations

import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from myhadoop_spark import registry
from myhadoop_spark.session import get_spark

QUERIES = ["wc", "agg_q1", "join_multi", "tpch_q3", "window_fns",
           "simhash_neardup"]

CONFIGS = {
    "baseline": {},
    "no_aqe": {"spark.sql.adaptive.enabled": "false"},
    "no_bcast": {"spark.sql.autoBroadcastJoinThreshold": "-1"},
}

DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark("plan-study")
    rows = []
    for cfg_name, overrides in CONFIGS.items():
        for k, v in {**DEFAULTS, **overrides}.items():
            spark.conf.set(k, v)
        for qname in QUERIES:
            fn = registry.get(qname).fn
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
            times = []
            for _ in range(reps):
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                times.append(time.time() - t0)
            rows.append((cfg_name, qname, round(statistics.median(times), 3)))
            print(f"{cfg_name}\t{qname}\t{rows[-1][2]}s")
    for k, v in DEFAULTS.items():
        spark.conf.set(k, v)
    with open("plan_study.tsv", "w") as f:
        f.write("config\tquery\twall_s\n")
        for r in rows:
            f.write("\t".join(map(str, r)) + "\n")
    totals = {}
    for cfg, _, t in rows:
        totals[cfg] = round(totals.get(cfg, 0) + t, 2)
    print("totals:", totals)
    spark.stop()


if __name__ == "__main__":
    main()
