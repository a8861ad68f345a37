"""Data-quality constraint suite over the TPC-H-ish fixtures — the
declared face of operators/constraints.py (ungated DuckDB
differential: integer violation counts, bitwise)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: F401 (parity with peers)

from myhadoop_spark.catalog import load
from myhadoop_spark.functions.text import sql_hash_bucket, sql_tokens
from myhadoop_spark.registry import register
from myhadoop_spark.materialize import materialize


@register(
    "data_quality",
    oracle="""
    WITH base AS (
      SELECT COUNT(*) AS n_rows,
             SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                 AS v_notnull,
             SUM(CASE WHEN o_totalprice IS NULL
                        OR NOT (o_totalprice BETWEEN 0 AND 1000000)
                      THEN 1 ELSE 0 END) AS v_range,
             SUM(CASE WHEN o_orderstatus IS NULL
                        OR o_orderstatus NOT IN ('O', 'F', 'P')
                      THEN 1 ELSE 0 END) AS v_status,
             SUM(CASE WHEN NOT COALESCE(o_orderdate < o_orderdate
                                        + INTERVAL 200 DAY, FALSE)
                      THEN 1 ELSE 0 END) AS v_sat
      FROM orders),
    uniq AS (SELECT (SELECT COUNT(*) FROM orders)
                  - COUNT(DISTINCT o_orderkey) AS v_unique FROM orders),
    fk AS (SELECT COUNT(*) AS v_fk FROM orders
           WHERE o_custkey NOT IN (SELECT c_custkey FROM customer
                                   WHERE c_custkey IS NOT NULL)
              OR o_custkey IS NULL)
    SELECT "constraint", violations, n_rows,
           violations = 0 AS passed
    FROM (
      SELECT 'not_null(o_custkey)' AS "constraint",
             CAST(v_notnull AS BIGINT) AS violations, n_rows FROM base
      UNION ALL
      SELECT 'in_range(o_totalprice, 0, 1000000)',
             CAST(v_range AS BIGINT), n_rows FROM base
      UNION ALL
      SELECT 'accepted_values(o_orderstatus)',
             CAST(v_status AS BIGINT), n_rows FROM base
      UNION ALL
      SELECT 'satisfies(order_before_200d)',
             CAST(v_sat AS BIGINT), n_rows FROM base
      UNION ALL
      SELECT 'unique(o_orderkey)', CAST(v_unique AS BIGINT), n_rows
      FROM uniq, base
      UNION ALL
      SELECT 'foreign_key(o_custkey)', CAST(v_fk AS BIGINT), n_rows
      FROM fk, base)
    """,
    tags=("quality", "extension"),
    gate=False,
)
def data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style constraint report over ``orders`` (+ the customer
    FK): every row-level check folds into ONE conditional-aggregation
    scan; uniqueness adds one hash agg, the FK one anti-join
    (operators/constraints.py). The satisfies() row exercises
    three-valued logic (a NULL predicate counts as a violation)."""
    from myhadoop_spark.operators.constraints import (
        accepted_values,
        check_constraints,
        foreign_key,
        in_range,
        not_null,
        satisfies,
        unique,
    )

    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    suite = [
        not_null("o_custkey"),
        in_range("o_totalprice", 0, 1_000_000),
        accepted_values("o_orderstatus", ["O", "F", "P"]),
        satisfies("order_before_200d",
                  "o_orderdate < o_orderdate + INTERVAL 200 DAY"),
        unique("o_orderkey"),
        foreign_key("o_custkey", customer, "c_custkey"),
    ]
    return check_constraints(orders, suite)


# ---------------------------------------------------------------------------
# classifier quality filter as a driver-recorded differential (r10) —
# the operators/classifier.py bitwise pin, previously pytest-only
# (tests/test_classifier.py holds the same SQL against the raw parquet)
# ---------------------------------------------------------------------------

_QF_THRESHOLD = 0.78
_QF_STOP = "('the','a','of','and','to','in')"
_QF_MARKERS = (f"'#len:' || CAST(len({sql_tokens()}) // 8 AS VARCHAR), "
               f"'#stop:' || CAST((16 * len(list_filter({sql_tokens()}, "
               f"x -> x IN {_QF_STOP}))) "
               f"// greatest(len({sql_tokens()}), 1) AS VARCHAR), "
               f"'#div:' || CAST((16 * len(list_distinct({sql_tokens()}))) "
               f"// greatest(len({sql_tokens()}), 1) AS VARCHAR)")


def _qf_feats() -> str:
    from myhadoop_spark.operators.classifier import MARKER_BOOST

    return (f"list_concat({sql_tokens()}, "
            f"[{', '.join([_QF_MARKERS] * MARKER_BOOST)}])")


def _qf_oracle(source: str = "documents") -> str:
    """The quality_filter oracle parameterized on its (doc_id, text)
    source relation — the registered query uses ``documents``; the
    curate_lines composition feeds the line-cleaned corpus through
    the identical SQL."""
    return f"""
    WITH t AS (SELECT doc_id, text, {sql_tokens()} AS toks FROM {source}),
    lab AS (SELECT doc_id, text,
              (0.4 * least(1.0, CAST(len(toks) AS DOUBLE)/50.0)
             + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE)
                      / CAST(len(toks) AS DOUBLE))
             + 0.3 * (1.0 - CAST(len(list_filter(toks,
                              x -> x IN {_QF_STOP})) AS DOUBLE)
                            / CAST(len(toks) AS DOUBLE)))
              >= {_QF_THRESHOLD} AS label
            FROM t WHERE len(toks) > 0),
    tr AS (SELECT label AS lbl, unnest({_qf_feats()}) AS tok
           FROM lab WHERE doc_id % 2 = 0),
    counts AS (SELECT tok,
                 sum(CASE WHEN lbl THEN 1 ELSE 0 END) AS n_pos,
                 sum(CASE WHEN lbl THEN 0 ELSE 1 END) AS n_neg
               FROM tr GROUP BY tok),
    totals AS (SELECT sum(CASE WHEN lbl THEN 1 ELSE 0 END) AS t_pos,
                      sum(CASE WHEN lbl THEN 0 ELSE 1 END) AS t_neg
               FROM tr),
    w AS (SELECT tok, n_pos * 1000000 // t_pos
                    - n_neg * 1000000 // t_neg AS w
          FROM counts CROSS JOIN totals),
    sc AS (SELECT l.doc_id, unnest({_qf_feats()}) AS tok FROM lab l),
    s AS (SELECT sc.doc_id, sum(COALESCE(w.w, 0)) AS score
          FROM sc LEFT JOIN w USING (tok) GROUP BY sc.doc_id)
    SELECT l.doc_id, CAST(COALESCE(s.score, 0) AS BIGINT) AS score,
           COALESCE(s.score, 0) > 0 AS pred
    FROM lab l LEFT JOIN s ON l.doc_id = s.doc_id
    ORDER BY l.doc_id
    """


def qf_scores(docs: DataFrame, *, with_n_tokens: bool = False) -> DataFrame:
    """(doc_id, score[, n_tokens], pred) over ANY (doc_id, text)
    frame: heuristic teacher labels → even-id training split →
    integer weights → broadcast scoring, all in one plan — the
    composable core shared by the gated differential and the
    curate_lines composition.

    The labeled frame keeps only docs with ≥ 1 token, so every row's
    feature bag is non-empty and the scoring aggregate itself covers
    every labeled doc — ``join_back=False`` drops score_documents'
    re-attachment join (r14, guide §2.4). ``with_n_tokens=True``
    rides the token count out of the same aggregate for the budget
    compositions (see score_documents)."""
    from myhadoop_spark.operators.classifier import (
        score_documents,
        tokens,
        train_token_weights,
    )

    toks = tokens()
    n = F.size(toks).cast("double")
    stop = ("the", "a", "of", "and", "to", "in")
    q = (F.lit(0.4) * F.least(F.lit(1.0), n / F.lit(50.0))
         + F.lit(0.3) * (F.size(F.array_distinct(toks)).cast("double") / n)
         + F.lit(0.3) * (F.lit(1.0) - F.size(
             F.filter(toks, lambda t: t.isin(*stop))).cast("double") / n))
    labeled = docs.filter(F.size(toks) > 0).withColumn(
        "label", q >= F.lit(_QF_THRESHOLD))
    weights = train_token_weights(labeled.filter("doc_id % 2 = 0"))
    return score_documents(labeled, weights,
                           with_n_tokens=with_n_tokens, join_back=False)


@register(
    "quality_filter",
    oracle=_qf_oracle(),
    gate=False,  # demoted r12 — curate_lines (promoted, gated) chains the
    #              identical _qf_oracle stage; still a full differential
    tags=("quality", "curation", "extension"),
)
def quality_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score, pred): the CCNet/DCLM-shaped integer linear
    quality filter (operators/classifier.py) bootstrapped from the
    doc_metrics heuristic teacher on the even-id split and scoring
    every document — the operator's bitwise differential as a
    DRIVER-RECORDED query (previously pytest-only)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return (qf_scores(docs)
            .select("doc_id", F.col("score").cast("long").alias("score"),
                    "pred")
            .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# budgeted quality selection (r11): keep the HIGHEST-scoring documents
# until a global token budget fills (the FineWeb-Edu "train on the
# best N tokens" recipe) — operators/budget_select.py re-applies the
# unimax banded two-level prefix sum to a VALUE order (score DESC)
# instead of a hash order; the oracle's single cumulative window is
# the spec the banded plan must reproduce bitwise.
# ---------------------------------------------------------------------------


def _quality_budget_oracle() -> str:
    from myhadoop_spark import registry as _registry

    return rf"""
    WITH qf AS ({_registry.get('quality_filter').oracle}),
    tk AS (SELECT doc_id, CAST(len({sql_tokens()}) AS BIGINT) AS n_tokens
           FROM documents),
    j AS (SELECT qf.doc_id, qf.score, tk.n_tokens
          FROM qf JOIN tk ON qf.doc_id = tk.doc_id),
    tot AS (SELECT CAST((sum(n_tokens) * 1) // 2 AS BIGINT) AS budget
            FROM j),
    c AS (SELECT doc_id, score, n_tokens,
                 COALESCE(SUM(n_tokens) OVER (
                     ORDER BY score DESC, doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS bef
          FROM j)
    SELECT doc_id, score, n_tokens
    FROM c, tot WHERE bef < budget ORDER BY doc_id
    """


@register(
    "quality_budget",
    oracle=_quality_budget_oracle(),
    gate=True,  # promoted r12 — budgeted-selection pin (VERDICT r11 #1)
    tags=("quality", "curation", "extension", "composition"),
)
def quality_budget_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score, n_tokens): the highest-quality half of the
    corpus by TOKENS — integer classifier scores (quality_filter),
    token counts, an in-plan exact-rational budget (1/2 of corpus
    tokens), and the banded score-order prefix selection. All-integer
    arithmetic end to end, so the kept set compares bitwise."""
    from myhadoop_spark.operators.budget_select import (budget_select,
                                                        fraction_budget)

    # r13 (optimization): build the (doc_id, score, n_tokens) frame
    # from qf_scores directly — quality_filter_q's trailing
    # orderBy(doc_id) fed a join here, paying a range-partitioned sort
    # (plus its sampling job) that the join immediately destroyed —
    # and localCheckpoint it: fraction_budget and budget_select's
    # stats/selection branches each reference ds, so the whole
    # classifier train+score subtree used to be planned and
    # re-optimized three times per run (guide §3.3). ds is one row per
    # scored document. Output bitwise unchanged (strict harness).
    # r14: n_tokens now rides OUT of the scoring aggregate
    # (count(*) − 3·MARKER_BOOST == size(tokens), see score_documents)
    # instead of a second tokenize pass over the parquet text joined
    # back on doc_id — one scan and one shuffle join fewer
    # (guide §2.4/§3.3); rows bitwise unchanged (strict harness).
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    ds = (qf_scores(docs, with_n_tokens=True)
          .select("doc_id", F.col("score").cast("long").alias("score"),
                  "n_tokens")
          .transform(materialize))
    budget = fraction_budget(ds, 1, 2)
    # r13: materialize the kept rows before the global sort — the
    # sort's sampling job re-executed the whole banded selection from
    # ds a second time per invocation (guide §1.4/§3.3)
    return (budget_select(ds, budget, bands=32).transform(materialize)
            .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# adaptive length trimming (r11): drop length OUTLIERS per source
# using the source's own length distribution (truncated pages at the
# bottom, concatenation/boilerplate blobs at the top) — thresholds
# are data-derived percentiles, not hand-tuned constants. The
# differential runs the EXACT interpolated percentile (bitwise vs
# DuckDB quantile_cont); at 100 TB
# the approx_percentile sketch path takes over (length_band(...,
# exact=False)) — mergeable partial state, shuffle ∝ groups, with
# the keep-set within the sketch's rank-error band (tested).
# ---------------------------------------------------------------------------

_LT_LO, _LT_HI = 0.05, 0.95


def length_band(docs: DataFrame, *, group_col: str = "source",
                len_col: str = "n_tokens",
                lo_p: float = _LT_LO, hi_p: float = _LT_HI,
                exact: bool = True, accuracy: int = 1000) -> DataFrame:
    """docs restricted to the [lo_p, hi_p] length band of each
    group's own distribution."""
    ln = F.col(len_col).cast("double")
    if exact:
        q = docs.groupBy(group_col).agg(
            F.percentile(ln, F.lit(lo_p)).alias("_lo"),
            F.percentile(ln, F.lit(hi_p)).alias("_hi"))
    else:
        q = docs.groupBy(group_col).agg(
            F.approx_percentile(ln, F.lit(lo_p), accuracy).alias("_lo"),
            F.approx_percentile(ln, F.lit(hi_p), accuracy).alias("_hi"))
    return (docs.join(q, group_col)
            .filter((ln >= F.col("_lo")) & (ln <= F.col("_hi")))
            .drop("_lo", "_hi"))


@register(
    "length_trim",
    oracle=f"""
    WITH t AS (SELECT doc_id, source,
                      CAST(len({sql_tokens()}) AS BIGINT) AS n_tokens
               FROM documents),
    q AS (SELECT source,
                 quantile_cont(CAST(n_tokens AS DOUBLE), {_LT_LO}) AS lo,
                 quantile_cont(CAST(n_tokens AS DOUBLE), {_LT_HI}) AS hi
          FROM t GROUP BY source)
    SELECT t.doc_id, t.source, t.n_tokens
    FROM t JOIN q ON t.source = q.source
    WHERE CAST(t.n_tokens AS DOUBLE) >= q.lo
      AND CAST(t.n_tokens AS DOUBLE) <= q.hi
    ORDER BY t.doc_id
    """,
    gate=False,
    tags=("quality", "curation", "extension"),
)
def length_trim_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, n_tokens): documents inside their OWN
    source's [p5, p95] token-length band — adaptive outlier trimming
    with data-derived thresholds (exact interpolated percentiles,
    bitwise vs quantile_cont)."""
    from myhadoop_spark.operators.classifier import tokens

    docs = (load(spark, sf_dir, "documents")
            .select("doc_id", "source",
                    F.size(tokens()).cast("long").alias("n_tokens")))
    return (length_band(docs)
            .select("doc_id", "source", "n_tokens")
            .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# quantized budgeted selection (r11): the point-mass remedy as a
# first-class differential — coarse score levels keep whole, the one
# boundary level draws by the unimax md5-rank prefix (hash bands
# split ties by construction, closing the budget_select degeneracy).
# ---------------------------------------------------------------------------

_QB_Q = 50_000  # ~15 quality levels over the fixture's score range


def _quantized_budget_oracle() -> str:
    rk = sql_hash_bucket("doc_id", 1000000)
    return rf"""
    WITH qf AS ({_qf_oracle()}),
    tk AS (SELECT doc_id, CAST(len({sql_tokens()}) AS BIGINT) AS n_tokens
           FROM documents),
    j AS (SELECT qf.doc_id, qf.score, tk.n_tokens
          FROM qf JOIN tk ON qf.doc_id = tk.doc_id),
    mx AS (SELECT max(score) AS smax FROM j),
    lab AS (SELECT doc_id, score, n_tokens,
                   (smax - score) // {_QB_Q} AS lvl,
                   {rk} AS rk
            FROM j, mx),
    tot AS (SELECT CAST((sum(n_tokens) * 1) // 2 AS BIGINT) AS budget
            FROM j),
    c AS (SELECT doc_id, score, n_tokens,
                 COALESCE(SUM(n_tokens) OVER (
                     ORDER BY lvl, rk, doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS bef
          FROM lab)
    SELECT doc_id, score, n_tokens
    FROM c, tot WHERE bef < budget ORDER BY doc_id
    """


@register(
    "quantized_budget",
    oracle=_quantized_budget_oracle(),
    gate=False,
    tags=("quality", "curation", "extension", "composition"),
)
def quantized_budget_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score, n_tokens): the best half of the corpus tokens
    by COARSE quality level (q = 50k ⇒ ~15 levels) — whole levels
    above the boundary keep with no sort; the boundary level draws by
    the deterministic md5-rank prefix whose hash bands split even a
    total tie (the budget_select point-mass remedy, first-class)."""
    from myhadoop_spark.operators.budget_select import (
        fraction_budget,
        quantized_budget_select,
    )
    from myhadoop_spark.operators.classifier import tokens

    scores = quality_filter_q(spark, sf_dir).select("doc_id", "score")
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens()).cast("long").alias("n_tokens"))
    ds = scores.join(docs, "doc_id")
    budget = fraction_budget(ds, 1, 2)
    return (quantized_budget_select(ds, budget, q=_QB_Q, bands=32)
            .orderBy("doc_id"))
