"""Gopher-style repetition battery over the ``documents`` table.

Extension surface (project brief; SURVEY.md §2.3 text-analysis family):
the word-n-gram repetition signals used by large-scale pretraining
curation pipelines (Gopher, Rae et al. 2021, arXiv:2112.11446 Table A1;
same family in Dolma/RefinedWeb):

  * top-{2,3,4}-gram character fraction — characters covered by the
    single most frequent word n-gram (``count * len(gram) / len(doc)``);
  * duplicate-{5..10}-gram occurrence fraction — share of n-gram
    occurrences whose gram appears more than once in the document;
  * ``repetition_flag`` — the Gopher threshold rule (top 2/3/4-gram
    char fraction > 0.20/0.18/0.16, dup 5..10-gram fraction >
    0.15/0.14/0.13/0.12/0.11/0.10).

The line/paragraph duplicate signals from the same table are the
degenerate single-line case on this corpus (no newlines) and are
deliberately not emitted — a vacuous always-zero column would pass the
oracle without testing anything.

Execution model: ONE narrow whole-stage-codegen projection — per row,
build each n-gram array (`transform` over `sequence`, `slice` +
`array_join`), `array_sort` it, and reduce with an O(L) higher-order
fold (`F.aggregate`) that walks runs of equal adjacent grams: the top
fold tracks (run, best, best_gram) with the tie-break "higher count,
then lexicographically larger gram" (mirrored in the oracle as
``ORDER BY c DESC, g DESC``); the dup fold accumulates occurrences of
runs longer than 1. Zero UDFs, zero shuffles (the fixture scan is
widened round-robin by catalog.load_wide, a no-op on real multi-file
data) — embarrassingly parallel at 100 TB.

Bitwise-parity discipline (see doc_metrics): every fraction is a ratio
of exactly-computed integers, divided identically on both sides;
``_toks`` is a materialized multi-referenced column so CollapseProject
cannot inline the split into the per-element lambdas (the HOF
recompute trap).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from myhadoop_spark.catalog import load_wide
from myhadoop_spark.functions.text import sql_tokens, tokens
from myhadoop_spark.registry import register

TOP_NS = (2, 3, 4)
DUP_NS = (5, 6, 7, 8, 9, 10)
# Gopher Table A1 thresholds, keyed by n
TOP_THRESH = {2: 0.20, 3: 0.18, 4: 0.16}
DUP_THRESH = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}

_LONG0 = "CAST(0 AS BIGINT)"


def _grams(toks: Column, n: int) -> Column:
    """Word n-grams of a MATERIALIZED token column, space-joined.

    ``toks`` must be a plain column reference: it is read inside the
    per-position lambda (HOF recompute trap — an inline split would be
    re-evaluated per position)."""
    cnt = F.size(toks) - F.lit(n - 1)
    return F.when(cnt < 1, F.array().cast("array<string>")).otherwise(
        F.transform(F.sequence(F.lit(1), cnt),
                    lambda i: F.array_join(F.slice(toks, i, n), " ")))


def _top_fold(sorted_grams: Column) -> Column:
    """(count, gram) of the most frequent gram; ties → larger gram.

    One O(L) pass over the sorted array: runs of equal adjacent
    elements are multiplicities. A run that merely TIES the best
    replaces it — the current gram sorts after every earlier candidate,
    which is exactly the oracle's ``ORDER BY c DESC, g DESC`` pick."""
    zero = F.lit(0).cast("long")

    def step(acc: Column, x: Column) -> Column:
        run_new = (F.when(x == acc["prev"], acc["run"] + 1)
                   .otherwise(F.lit(1).cast("long")))
        better = (run_new > acc["best"]) | (
            (run_new == acc["best"]) & (x >= acc["bestg"]))
        return F.struct(
            x.alias("prev"),
            run_new.alias("run"),
            F.when(better, run_new).otherwise(acc["best"]).alias("best"),
            F.when(better, x).otherwise(acc["bestg"]).alias("bestg"))

    return F.aggregate(
        sorted_grams,
        F.struct(F.lit(None).cast("string").alias("prev"),
                 zero.alias("run"), zero.alias("best"),
                 F.lit("").alias("bestg")),
        step,
        lambda acc: F.struct(acc["best"].alias("cnt"),
                             acc["bestg"].alias("gram")))


def _dup_fold(sorted_grams: Column) -> Column:
    """Occurrences belonging to grams that appear more than once.

    When a run reaches length 2 both members become duplicates (+2);
    each further member adds 1 — equals SUM(c) over groups with c>1."""
    zero = F.lit(0).cast("long")

    def step(acc: Column, x: Column) -> Column:
        run_new = (F.when(x == acc["prev"], acc["run"] + 1)
                   .otherwise(F.lit(1).cast("long")))
        gain = (F.when(run_new == 2, F.lit(2))
                .when(run_new > 2, F.lit(1))
                .otherwise(F.lit(0))).cast("long")
        return F.struct(x.alias("prev"), run_new.alias("run"),
                        (acc["dup"] + gain).alias("dup"))

    return F.aggregate(
        sorted_grams,
        F.struct(F.lit(None).cast("string").alias("prev"),
                 zero.alias("run"), zero.alias("dup")),
        step,
        lambda acc: acc["dup"])


def _oracle() -> str:
    ctes = [
        f"t AS (SELECT doc_id, text, {sql_tokens('text')} AS toks"
        f" FROM documents)",
        "b AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,"
        " CAST(len(toks) AS BIGINT) AS n_tokens, toks FROM t)",
    ]
    for n in (*TOP_NS, *DUP_NS):
        ctes.append(
            f"o{n} AS (SELECT doc_id, unnest(list_transform("
            f"generate_series(1, greatest(len(toks) - {n - 1}, 0)),"
            f" i -> array_to_string(list_slice(toks, CAST(i AS INT),"
            f" CAST(i + {n - 1} AS INT)), ' '))) AS g FROM t)")
        ctes.append(
            f"c{n} AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c"
            f" FROM o{n} GROUP BY doc_id, g)")
    for n in TOP_NS:
        ctes.append(
            f"t{n} AS (SELECT doc_id, c AS c{n}, g AS g{n} FROM"
            f" (SELECT doc_id, c, g, ROW_NUMBER() OVER (PARTITION BY doc_id"
            f" ORDER BY c DESC, g DESC) AS rn FROM c{n}) WHERE rn = 1)")
    for n in DUP_NS:
        ctes.append(
            f"d{n} AS (SELECT doc_id, CAST(SUM(CASE WHEN c > 1 THEN c"
            f" ELSE 0 END) AS BIGINT) AS dup{n} FROM c{n} GROUP BY doc_id)")

    cols = ["doc_id", "n_chars", "n_tokens"]
    flag_terms = []
    for n in TOP_NS:
        cnt = f"COALESCE(c{n}, {_LONG0})"
        gram = f"COALESCE(g{n}, '')"
        frac = (f"CASE WHEN n_chars = 0 THEN 0.0 ELSE"
                f" CAST({cnt} * CAST(length({gram}) AS BIGINT) AS DOUBLE)"
                f" / CAST(n_chars AS DOUBLE) END")
        cols += [f"{cnt} AS top{n}_count", f"{gram} AS top{n}_gram",
                 f"{frac} AS top{n}_char_frac"]
        flag_terms.append(f"({frac}) > {TOP_THRESH[n]}")
    for n in DUP_NS:
        total = f"greatest(n_tokens - {n - 1}, {_LONG0})"
        occ = f"COALESCE(dup{n}, {_LONG0})"
        frac = (f"CASE WHEN {total} = 0 THEN 0.0 ELSE"
                f" CAST({occ} AS DOUBLE) / CAST({total} AS DOUBLE) END")
        cols += [f"{occ} AS dup{n}_occ", f"{total} AS n{n}_grams",
                 f"{frac} AS dup{n}_frac"]
        flag_terms.append(f"({frac}) > {DUP_THRESH[n]}")
    cols.append("(" + " OR ".join(flag_terms) + ") AS repetition_flag")

    joins = "".join(f" LEFT JOIN t{n} USING (doc_id)" for n in TOP_NS)
    joins += "".join(f" LEFT JOIN d{n} USING (doc_id)" for n in DUP_NS)
    return ("WITH " + ",\n".join(ctes) + "\nSELECT " + ",\n".join(cols)
            + f"\nFROM b{joins}")


@register("repetition_metrics", oracle=_oracle(), gate=False,
          tags=("text", "extension"))
def repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher repetition signals — see module docstring."""
    docs = load_wide(spark, sf_dir, "documents")
    docs = docs.withColumn("_toks", tokens())
    toks = F.col("_toks")
    for n in TOP_NS:
        docs = docs.withColumn(
            f"_top{n}", _top_fold(F.array_sort(_grams(toks, n))))
    for n in DUP_NS:
        docs = docs.withColumn(
            f"_dup{n}", _dup_fold(F.array_sort(_grams(toks, n))))

    n_chars = F.length("text").cast("bigint")
    n_tokens = F.size(toks).cast("bigint")
    cols = [F.col("doc_id"), n_chars.alias("n_chars"),
            n_tokens.alias("n_tokens")]
    flag = None
    for n in TOP_NS:
        cnt = F.col(f"_top{n}")["cnt"]
        gram = F.col(f"_top{n}")["gram"]
        frac = F.when(n_chars == 0, F.lit(0.0)).otherwise(
            (cnt * F.length(gram).cast("bigint")).cast("double")
            / n_chars.cast("double"))
        cols += [cnt.alias(f"top{n}_count"), gram.alias(f"top{n}_gram"),
                 frac.alias(f"top{n}_char_frac")]
        term = frac > F.lit(TOP_THRESH[n])
        flag = term if flag is None else flag | term
    for n in DUP_NS:
        total = F.greatest(n_tokens - F.lit(n - 1),
                           F.lit(0).cast("bigint"))
        occ = F.col(f"_dup{n}")
        frac = F.when(total == 0, F.lit(0.0)).otherwise(
            occ.cast("double") / total.cast("double"))
        cols += [occ.alias(f"dup{n}_occ"), total.alias(f"n{n}_grams"),
                 frac.alias(f"dup{n}_frac")]
        flag = flag | (frac > F.lit(DUP_THRESH[n]))
    cols.append(flag.alias("repetition_flag"))
    return docs.select(*cols)
