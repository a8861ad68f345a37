r"""Line-level curation differentials — C4/RefinedWeb line-wise
cleaning (operators/line_filter.py) and CCNet corpus-wide line dedup
(operators/line_dedup.py), plus their composition.

The documents fixture has no newline structure, so lines are derived
deterministically as fixed k-word chunks (``word_lines``) and the SQL
oracles derive the SAME chunks from the raw text — the oracle
reconstructs the whole pipeline from first principles, it does not
read any Spark intermediate. All rules are integer/string-exact, so
every differential compares bitwise including the rebuilt
``clean_text`` strings. The terminal-punctuation rule (meaningless on
the punctuation-free fixture) is exercised on synthetic corpora in
tests/test_line_filter.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myhadoop_spark.catalog import load_wide
from myhadoop_spark.functions.text import sql_tokens
from myhadoop_spark.registry import register
from myhadoop_spark.materialize import materialize


def _sql_lines(k: int) -> str:
    """k-word chunk lines from ``toks`` (mirrors word_lines)."""
    return (f"list_transform(generate_series(1, (len(toks)+{k - 1})//{k}), "
            f"i -> array_to_string(toks[((i-1)*{k}+1):((i-1)*{k}+{k})], ' '))")


def _sql_keep(min_words: int, drop_subs: tuple[str, ...]) -> str:
    conds = [f"len({sql_tokens('x')}) >= {min_words}"]
    conds += [f"NOT contains(lower(x), '{s}')" for s in drop_subs]
    return "list_filter(lines, x -> " + " AND ".join(conds) + ")"


@register(
    "line_dedup",
    oracle=rf"""
    WITH t AS (SELECT doc_id, {sql_tokens()} AS toks FROM documents),
    l AS (SELECT doc_id, {_sql_lines(3)} AS lines FROM t),
    p AS (SELECT doc_id, i AS pos, lines[i] AS line
          FROM l, unnest(generate_series(1, len(lines))) AS u(i)),
    r AS (SELECT doc_id, pos, line,
                 row_number() OVER (PARTITION BY line
                                    ORDER BY doc_id, pos) AS rn
          FROM p),
    rb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                  string_agg(line, chr(10) ORDER BY pos) AS clean_text
           FROM r WHERE rn = 1 GROUP BY doc_id)
    SELECT l.doc_id, CAST(len(l.lines) AS BIGINT) AS n_lines,
           rb.n_kept, rb.clean_text
    FROM l JOIN rb ON l.doc_id = rb.doc_id
    ORDER BY l.doc_id
    """,
    gate=True,  # promoted r12 — CCNet line-dedup pin (VERDICT r11 #1)
    tags=("dedup", "curation", "extension"),
)
def line_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_lines, n_kept, clean_text): CCNet corpus-wide
    keep-first line dedup over 3-word chunk lines (the 31-word
    fixture vocabulary makes 3-word lines collide heavily, so the
    pass removes a large fraction — the oracle's window formulation
    is the spec; the engine uses the partial-aggregable min(struct)
    survivor so hot lines never hit a single reducer)."""
    from myhadoop_spark.operators.line_dedup import line_dedup
    from myhadoop_spark.operators.line_filter import word_lines

    docs = load_wide(spark, sf_dir, "documents")
    return (line_dedup(docs.withColumn("_l", word_lines("text", 3)),
                       lines_col="_l", min_kept_lines=1)
            .select("doc_id", "n_lines", "n_kept", "clean_text")
            .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# curate_lines (r11): the full document-interior curation chain as ONE
# Spark plan — line-wise clean (C4/RefinedWeb) → corpus-wide line
# dedup (CCNet) → quality classifier trained AND scored on the
# CLEANED corpus → budgeted best-tokens selection. Five stages, four
# operator families; the oracle chains the identical SQL (the
# quality-filter oracle parameterized onto the cleaned CTE, the
# budget window as the selection spec). All-integer arithmetic end to
# end, so the kept set compares bitwise.
# ---------------------------------------------------------------------------


def _curate_lines_oracle() -> str:
    from myhadoop_spark.queries.quality_checks import _qf_oracle

    return rf"""
    WITH ct0 AS (SELECT doc_id, {sql_tokens()} AS toks FROM documents),
    cl0 AS (SELECT doc_id, {_sql_lines(3)} AS lines
          FROM ct0),
    ck0 AS (SELECT doc_id, lines,
                 {_sql_keep(3, ('customer',))} AS kept
          FROM cl0),
    cw0 AS (SELECT doc_id, kept,
                 coalesce(list_sum(list_transform(lines,
                     x -> len({sql_tokens('x')}))), 0) AS w_all,
                 coalesce(list_sum(list_transform(kept,
                     x -> len({sql_tokens('x')}))), 0) AS w_kept
          FROM ck0
          WHERE len(kept) >= 5
            AND NOT contains(lower(array_to_string(lines, chr(10))),
                             'lorem ipsum')
            AND NOT contains(lower(array_to_string(lines, chr(10))),
                             '{{')),
    cc0 AS (SELECT doc_id, kept FROM cw0
          WHERE (w_all - w_kept) * 3 <= w_all * 2),
    cp0 AS (SELECT doc_id, i AS pos, kept[i] AS line
          FROM cc0, unnest(generate_series(1, len(kept))) AS u(i)),
    cr0 AS (SELECT doc_id, pos, line,
                 row_number() OVER (PARTITION BY line
                                    ORDER BY doc_id, pos) AS rn
          FROM cp0),
    crb0 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                  string_agg(line, chr(10) ORDER BY pos) AS clean_text
           FROM cr0 WHERE rn = 1 GROUP BY doc_id),
    dc AS (SELECT doc_id, clean_text AS text FROM crb0
           WHERE n_kept >= 2),
    qf AS ({_qf_oracle('dc')}),
    tk AS (SELECT doc_id, CAST(len({sql_tokens()}) AS BIGINT) AS n_tokens
           FROM dc),
    j AS (SELECT qf.doc_id, qf.score, tk.n_tokens
          FROM qf JOIN tk ON qf.doc_id = tk.doc_id),
    tot AS (SELECT CAST((sum(n_tokens) * 1) // 2 AS BIGINT) AS budget
            FROM j),
    cum AS (SELECT doc_id, score, n_tokens,
                   COALESCE(SUM(n_tokens) OVER (
                       ORDER BY score DESC, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS bef
            FROM j)
    SELECT doc_id, score, n_tokens
    FROM cum, tot WHERE bef < budget ORDER BY doc_id
    """


@register(
    "curate_lines",
    oracle=_curate_lines_oracle(),
    gate=True,  # promoted r12 — the four-family line-curation composition
    #             pin (VERDICT r11 #1, the curate_mix precedent)
    tags=("text", "dedup", "quality", "curation", "extension",
          "composition"),
)
def curate_lines_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score, n_tokens): line-wise clean → corpus line dedup
    → classifier trained+scored on the CLEANED corpus → keep the best
    half of the cleaned tokens (banded boundary-only selection) — the
    document-interior analog of curate_mix, four operator families in
    one plan and one hash.

    Stage-fusion discipline (r13, VERDICT r12 weak): the cleaned
    corpus is referenced by classifier TRAINING (two aggregations),
    SCORING, and the token count — and the (score, n_tokens) table by
    the budget aggregate, the band stats, and the banded select.
    Catalyst shares none of that across a lazy chain, so the raw plan
    re-ran the clean+dedup subtree ~6× (the r12 21.7 s scheduler-idle
    floor). Both frontiers are localCheckpointed, and the clean→dedup
    handoff passes the kept-lines ARRAY (clean_lines keep_lines=True)
    instead of rebuilding and re-splitting clean_text. Output bitwise unchanged
    (gated; CORRECTNESS_r13)."""
    from myhadoop_spark.operators.budget_select import (budget_select,
                                                        fraction_budget)
    from myhadoop_spark.operators.line_dedup import line_dedup
    from myhadoop_spark.operators.line_filter import (clean_lines,
                                                      word_lines)
    from myhadoop_spark.queries.quality_checks import qf_scores

    docs = load_wide(spark, sf_dir, "documents")
    cleaned = clean_lines(docs.withColumn("_l", word_lines("text", 3)),
                          lines_col="_l",
                          min_words_per_line=3,
                          require_terminal_punct=False,
                          line_drop_substrings=("customer",),
                          doc_drop_substrings=("lorem ipsum", "{"),
                          min_kept_lines=5,
                          max_removed_frac=(2, 3),
                          keep_lines=True)
    cleaned = cleaned.select("doc_id", "kept_lines")
    deduped = line_dedup(cleaned, lines_col="kept_lines",
                         min_kept_lines=2, carry_base=False)
    corpus = (deduped.select("doc_id",
                             F.col("clean_text").alias("text"))
              .transform(materialize))
    # r14: n_tokens rides out of the scoring aggregate
    # (count(*) − 3·MARKER_BOOST == size(tokens), see score_documents)
    # — the third tokenize pass over the cleaned corpus and the
    # scores⋈toks shuffle join are gone (guide §2.4/§3.3)
    ds = (qf_scores(corpus, with_n_tokens=True)
          .select("doc_id", F.col("score").cast("long").alias("score"),
                  "n_tokens")
          .transform(materialize))
    budget = fraction_budget(ds, 1, 2)
    # r13: materialize the kept rows before the global sort — the
    # sort's sampling job re-executed the banded selection from ds a
    # second time per invocation (guide §1.4/§3.3)
    return (budget_select(ds, budget, bands=32).transform(materialize)
            .orderBy("doc_id"))


@register(
    "within_doc_dedup",
    oracle=rf"""
    WITH t AS (SELECT doc_id, {sql_tokens()} AS toks FROM documents),
    l AS (SELECT doc_id, {_sql_lines(2)} AS lines FROM t),
    d AS (SELECT doc_id, lines,
                 list_filter(lines, (x, i) ->
                     list_position(lines, lines[i]) = i) AS kept
          FROM l)
    SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept,
           array_to_string(kept, chr(10)) AS clean_text
    FROM d WHERE len(kept) >= 1 ORDER BY doc_id
    """,
    gate=True,  # promoted r13 (VERDICT r12 #3): the C4/RefinedWeb
    #             per-page dedup face beside the gated corpus-wide
    #             line_dedup
    tags=("dedup", "curation", "extension"),
)
def within_doc_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_lines, n_kept, clean_text): per-document
    repeated-line removal over 2-word chunk lines (the 31-word
    fixture vocabulary makes 2-word lines repeat heavily WITHIN long
    documents, so the in-page face verifiably bites without any
    corpus state) — one zero-shuffle narrow pass, the C4/RefinedWeb
    per-page correction beside the corpus-wide `line_dedup`."""
    from myhadoop_spark.operators.line_dedup import within_doc_dedup
    from myhadoop_spark.operators.line_filter import word_lines

    docs = load_wide(spark, sf_dir, "documents")
    # r13: the dedup is one NARROW zero-shuffle pass, so the trailing
    # sort's range-partition sampling job re-executed the whole
    # indexed-HOF compute a second time per invocation; materialize
    # the result once instead (guide §1.4/§3.3)
    return (within_doc_dedup(docs.withColumn("_l", word_lines("text", 2)),
                             lines_col="_l", min_kept_lines=1)
            .select("doc_id", "n_lines", "n_kept", "clean_text")
            .transform(materialize)
            .orderBy("doc_id"))
