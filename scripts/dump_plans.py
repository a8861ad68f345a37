"""Dump <out>/<query>_<suffix>.txt plan evidence files: the query's
explain('formatted') INCLUDING the subplan of every frame the query
materializes along the way (materialization truncates the final
frame's visible plan to the post-checkpoint tail, so the computation's
plan shape lives in the captured subplans). Call sites route through
myhadoop_spark.materialize, which calls DataFrame.localCheckpoint
locally — the capture hook below therefore sees every materialized
frame, the same see-through convention as tests/test_plans.py's
plan_of.

Usage: python scripts/dump_plans.py --sf DIR [--out DIR] \
           [--suffix S] <query> [query ...]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from myhadoop_spark import registry
from myhadoop_spark.session import get_spark

OUT = Path(__file__).resolve().parent.parent / "plans"


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    try:  # Spark 4: concrete instances are the classic subclass
        import pyspark.sql.classic.dataframe as dfmod
    except ImportError:  # pragma: no cover — Spark 3 layout
        import pyspark.sql.dataframe as dfmod

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", required=True, help="fixture directory")
    ap.add_argument("--out", type=Path, default=OUT,
                    help="output directory")
    ap.add_argument("--suffix", default="after",
                    help="file-name suffix, e.g. before|after")
    ap.add_argument("queries", nargs="+", metavar="QUERY")
    args = ap.parse_args()

    args.out.mkdir(parents=True, exist_ok=True)
    spark = get_spark("dump_plans")
    for name in args.queries:
        plans: list[str] = []
        orig = dfmod.DataFrame.localCheckpoint

        def capture(self, *a, **k):
            plans.append(_explain(self))
            return orig(self, *a, **k)

        dfmod.DataFrame.localCheckpoint = capture
        try:
            df = registry.get(name).fn(spark, args.sf)
        finally:
            dfmod.DataFrame.localCheckpoint = orig
        final = _explain(df)
        parts = [f"# {name} — explain('formatted') at {args.sf}, "
                 f"{args.suffix}\n# (materialized-intermediate subplans "
                 "captured at each materialize/localCheckpoint, then the "
                 "final frame)\n"]
        for i, p in enumerate(plans):
            parts.append(f"\n## materialized intermediate {i + 1}\n{p}")
        parts.append(f"\n## final frame\n{final}")
        out = args.out / f"{name}_{args.suffix}.txt"
        out.write_text("".join(parts))
        n_exch = sum(p.count("Exchange") for p in [*plans, final])
        print(f"{name}: {len(plans)} materialized subplans -> {out} "
              f"(~{n_exch} Exchange mentions)")


if __name__ == "__main__":
    main()
