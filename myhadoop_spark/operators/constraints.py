"""Declarative data-quality constraints — the Deequ/Great-Expectations
shape: a constraint suite evaluated against a table in as few passes
as the constraint types allow, producing a machine-checkable report.
At 100 TB the discipline is the point: every ROW-LEVEL constraint
(null, range, set membership, pattern, arbitrary boolean expression)
folds into ONE conditional-aggregation pass over a single scan —
never one job per check — while uniqueness adds one hash aggregation
and each referential check one broadcast/shuffled anti-join, all
assembled into one small report DataFrame.

Constraints (each a (name, kind, payload) tuple via the constructor
helpers):

  * ``not_null(col)``            — violations = rows with NULL col;
  * ``in_range(col, lo, hi)``    — violations = rows outside
                                   [lo, hi] (NULLs violate: an absent
                                   value is not a value in range);
  * ``accepted_values(col, vs)`` — violations = rows whose col is not
                                   in vs (NULLs violate);
  * ``matches(col, regex)``      — violations = rows not fully
                                   matching (NULLs violate);
  * ``satisfies(name, sql)``     — violations = rows where the SQL
                                   boolean predicate is not TRUE;
  * ``unique(*cols)``            — violations = rows beyond the first
                                   of each duplicated NON-NULL key,
                                   plus every row with a NULL key
                                   component (an unknown key cannot
                                   be attested unique — and this is
                                   the COUNT(DISTINCT col) convention
                                   the SQL twin uses);
  * ``foreign_key(col, ref, ref_col)`` — violations = rows whose col
                                   has no match in the reference
                                   table (NULL FK violates — model
                                   optional FKs with ``satisfies``).

Report schema: (constraint, violations, n_rows, passed) — integer
counts, so the DuckDB differential (`check_constraints` oracle twin
`data_quality`, ungated) matches bitwise.

Reference analog: none — §2.3 extension surface (SURVEY.md §2.3);
the Deequ "unified metrics computation" design (Schelter et al.,
VLDB 2018) re-expressed as Catalyst conditional aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def not_null(col: str) -> tuple:
    return (f"not_null({col})", "row", F.col(col).isNull())


def in_range(col: str, lo, hi) -> tuple:
    return (f"in_range({col}, {lo}, {hi})", "row",
            ~F.col(col).between(lo, hi) | F.col(col).isNull())


def accepted_values(col: str, values) -> tuple:
    vals = list(values)
    return (f"accepted_values({col})", "row",
            ~F.col(col).isin(vals) | F.col(col).isNull())


def matches(col: str, regex: str) -> tuple:
    return (f"matches({col})", "row",
            ~F.col(col).rlike(regex) | F.col(col).isNull())


def satisfies(name: str, predicate_sql: str) -> tuple:
    # violation = NOT TRUE (false OR null) — three-valued logic made
    # explicit so a NULL-producing predicate counts as a violation
    return (f"satisfies({name})", "row",
            ~F.coalesce(F.expr(predicate_sql), F.lit(False)))


def unique(*cols: str) -> tuple:
    return (f"unique({', '.join(cols)})", "unique", list(cols))


def foreign_key(col: str, ref: DataFrame, ref_col: str) -> tuple:
    return (f"foreign_key({col})", "fk", (col, ref, ref_col))


def row_battery(df: DataFrame, constraints: list[tuple]) -> DataFrame:
    """The ONE aggregation all row-kind constraints share: total row
    count plus one conditional sum per check, over one scan. Exposed
    so the one-scan plan claim is asserted against the PRODUCTION
    aggregation (tests/test_constraints.py), not a copy. Sums are
    coalesced to 0 — an empty table reports zero violations, it does
    not crash the gate."""
    row_cs = [(n, cond) for n, k, cond in constraints if k == "row"]
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, (_, cond) in enumerate(row_cs):
        aggs.append(F.coalesce(F.sum(F.when(cond, 1).otherwise(0)),
                               F.lit(0)).cast("long").alias(f"_v{i}"))
    return df.agg(*aggs)


def check_constraints(df: DataFrame,
                      constraints: list[tuple]) -> DataFrame:
    """Evaluate the suite; returns the report DataFrame
    (constraint, violations, n_rows, passed) in suite order.

    Pass structure: all row-kind constraints + the total row count
    run as ONE aggregation over ONE scan (``row_battery``); each
    unique() adds one aggregate over the same scan; each
    foreign_key() adds one anti-join count against its reference.
    Results are assembled driver-side (a bounded, suite-sized
    collect) so the report is a small local relation — the Deequ
    report shape. Duplicate constraint names are rejected (the
    report is keyed by name; a silent collapse could report a
    failing check as passing)."""
    spark = df.sparkSession
    names = [n for n, _, _ in constraints]
    if len(set(names)) != len(names):
        dupes = sorted({n for n in names if names.count(n) > 1})
        raise ValueError(f"duplicate constraint names: {dupes}")
    row_cs = [(n, cond) for n, k, cond in constraints if k == "row"]
    base = row_battery(df, constraints).first()
    n_rows = int(base["_n"])

    results: dict[str, int] = {}
    for i, (name, _) in enumerate(row_cs):
        results[name] = int(base[f"_v{i}"])
    for name, kind, payload in constraints:
        if kind == "unique":
            # distinct over NON-NULL keys: a NULL key component makes
            # the row a violation (cannot attest uniqueness of an
            # unknown key) — the COUNT(DISTINCT) convention
            distinct = (df.select(*payload).na.drop("any")
                        .distinct().count())  # output: violation count
            results[name] = n_rows - distinct
        elif kind == "fk":
            col, ref, ref_col = payload
            missing = (df.select(F.col(col).alias("_k"))
                       .join(ref.select(F.col(ref_col).alias("_k"))
                             .distinct(), "_k", "left_anti")
                       .count())  # output: the fk violation count
            results[name] = missing
    rows = [(name, results[name], n_rows, results[name] == 0)
            for name, _, _ in constraints]
    return spark.createDataFrame(
        rows, "constraint string, violations long, n_rows long, "
              "passed boolean")
