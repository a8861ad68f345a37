"""Quality classifier (operators/classifier.py): bitwise DuckDB
differential on the integer scores, held-out separation, OOV/empty
behavior, and the broadcast scoring plan."""

from __future__ import annotations

import contextlib
import io

import duckdb
from pyspark.sql import functions as F

from myhadoop_spark.catalog import load
from myhadoop_spark.functions.text import tokens
from myhadoop_spark.operators.classifier import (
    MARKER_BOOST,
    SCALE,
    score_documents,
    train_token_weights,
)
from tests.conftest import SF_SMOKE

_Q_THRESHOLD = 0.78  # splits the fixture ~239/261

_STOP = ("the", "a", "of", "and", "to", "in")


def _labeled(spark, sf_dir):
    """documents + a heuristic quality label (the length/diversity/
    stopword formula qf_scores bootstraps from, queries/quality_checks.py)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens()
    n = F.size(toks).cast("double")
    q = (F.lit(0.4) * F.least(F.lit(1.0), n / F.lit(50.0))
         + F.lit(0.3) * (F.size(F.array_distinct(toks)).cast("double") / n)
         + F.lit(0.3) * (F.lit(1.0) - F.size(
             F.filter(toks, lambda t: t.isin(*_STOP))).cast("double") / n))
    return docs.filter(F.size(toks) > 0).withColumn(
        "label", q >= F.lit(_Q_THRESHOLD))


_SQL_TOKS = r"list_filter(string_split_regex(text, '\s+'), t -> t <> '')"
_SQL_STOP = "('the','a','of','and','to','in')"
# the feature bag: tokens + binned length/function-word-ratio markers
# (operators/classifier.py::feature_tokens — integer bins, same values
# both engines)
_SQL_MARKERS = (f"'#len:' || CAST(len({_SQL_TOKS}) // 8 AS VARCHAR), "
                f"'#stop:' || CAST((16 * len(list_filter({_SQL_TOKS}, "
                f"x -> x IN {_SQL_STOP}))) "
                f"// greatest(len({_SQL_TOKS}), 1) AS VARCHAR), "
                f"'#div:' || CAST((16 * len(list_distinct({_SQL_TOKS}))) "
                f"// greatest(len({_SQL_TOKS}), 1) AS VARCHAR)")
# markers repeated MARKER_BOOST times — same multiplicity as the bag
_SQL_FEATS = (f"list_concat({_SQL_TOKS}, "
              f"[{', '.join([_SQL_MARKERS] * MARKER_BOOST)}])")


def _oracle_scores(sf_dir):
    con = duckdb.connect()
    sql = f"""
    WITH t AS (SELECT doc_id, text, {_SQL_TOKS} AS toks
               FROM '{sf_dir}/documents.parquet'),
    lab AS (SELECT doc_id, text,
              (0.4 * least(1.0, CAST(len(toks) AS DOUBLE)/50.0)
             + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE)
                      / CAST(len(toks) AS DOUBLE))
             + 0.3 * (1.0 - CAST(len(list_filter(toks, x -> x IN {_SQL_STOP}))
                            AS DOUBLE) / CAST(len(toks) AS DOUBLE)))
              >= {_Q_THRESHOLD} AS label
            FROM t WHERE len(toks) > 0),
    tr AS (SELECT label AS lbl, unnest({_SQL_FEATS}) AS tok
           FROM lab WHERE doc_id % 2 = 0),
    counts AS (SELECT tok,
                 sum(CASE WHEN lbl THEN 1 ELSE 0 END) AS n_pos,
                 sum(CASE WHEN lbl THEN 0 ELSE 1 END) AS n_neg
               FROM tr GROUP BY tok),
    totals AS (SELECT sum(CASE WHEN lbl THEN 1 ELSE 0 END) AS t_pos,
                      sum(CASE WHEN lbl THEN 0 ELSE 1 END) AS t_neg
               FROM tr),
    w AS (SELECT tok, n_pos * {SCALE} // t_pos
                    - n_neg * {SCALE} // t_neg AS w
          FROM counts CROSS JOIN totals),
    sc AS (SELECT l.doc_id, unnest({_SQL_FEATS}) AS tok
           FROM lab l),
    s AS (SELECT sc.doc_id,
                 sum(COALESCE(w.w, 0)) AS score
          FROM sc LEFT JOIN w USING (tok) GROUP BY sc.doc_id)
    SELECT l.doc_id, CAST(COALESCE(s.score, 0) AS BIGINT) AS score
    FROM lab l LEFT JOIN s ON l.doc_id = s.doc_id
    ORDER BY l.doc_id
    """
    return dict(con.execute(sql).fetchall())


def test_scores_match_duckdb_bitwise(spark):
    labeled = _labeled(spark, SF_SMOKE)
    weights = train_token_weights(labeled.filter("doc_id % 2 = 0"))
    got = {r.doc_id: r.score
           for r in score_documents(labeled, weights).collect()}
    want = _oracle_scores(SF_SMOKE)
    assert got == want


def test_heldout_separation(spark):
    """Trained on even ids, the scorer must separate the held-out odd
    ids: mean score of positive docs above mean score of negatives,
    and accuracy comfortably over chance."""
    labeled = _labeled(spark, SF_SMOKE)
    weights = train_token_weights(labeled.filter("doc_id % 2 = 0"))
    out = (score_documents(labeled.filter("doc_id % 2 = 1"), weights)
           .join(labeled.select("doc_id", "label"), "doc_id")
           .collect())
    pos = [r.score for r in out if r.label]
    neg = [r.score for r in out if not r.label]
    assert pos and neg
    assert sum(pos) / len(pos) > sum(neg) / len(neg)
    acc = sum(1 for r in out if r.pred == r.label) / len(out)
    assert acc > 0.75, acc


def test_oov_tokens_contribute_zero(spark):
    """Out-of-vocabulary CONTENT tokens score 0: two docs with disjoint
    unseen vocabularies but identical engineered bins (same length,
    zero function words) must get identical scores; the empty doc runs
    and yields a deterministic score (its marker features only)."""
    labeled = spark.createDataFrame(
        [(0, "good stuff here", True), (1, "bad junk pile", False)],
        "doc_id long, text string, label boolean")
    weights = train_token_weights(labeled)
    out = {r.doc_id: r for r in score_documents(
        spark.createDataFrame(
            [(10, "unseen words only"), (11, "zzz qqq xxx"), (12, "")],
            "doc_id long, text string"),
        weights).collect()}
    assert out[10].score == out[11].score
    assert out[12].score is not None and isinstance(out[12].pred, bool)


def test_scoring_plan_broadcasts_weights(spark):
    labeled = _labeled(spark, SF_SMOKE)
    weights = train_token_weights(labeled)
    plan_io = io.StringIO()
    with contextlib.redirect_stdout(plan_io):
        score_documents(labeled, weights).explain("formatted")
    plan = plan_io.getvalue()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_single_class_training_raises(spark):
    import pytest
    from pyspark.errors import PySparkException

    labeled = spark.createDataFrame(
        [(0, "all positive docs", True), (1, "more positive", True)],
        "doc_id long, text string, label boolean")
    with pytest.raises(PySparkException):
        train_token_weights(labeled).collect()


def test_weight_expr_bitwise_across_bigint_boundary(spark):
    """The DECIMAL(38,0) overflow branch: weights must match DuckDB
    bit for bit on BOTH sides of the n*SCALE BIGINT boundary
    (hypothesis-generated class totals straddling 2^63/SCALE, where
    the narrow branch would overflow)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from myhadoop_spark.operators.classifier import (
        BIGINT_SAFE_TOTAL,
        weight_expr,
    )

    TH = BIGINT_SAFE_TOTAL
    total = st.one_of(st.integers(1, 10**6),
                      st.integers(TH - 2, TH + 10**6))

    @st.composite
    def rows(draw):
        out = []
        for i in range(12):
            t_pos = draw(total)
            t_neg = draw(total)
            out.append((f"t{i}",
                        draw(st.integers(0, t_pos)),
                        draw(st.integers(0, t_neg)),
                        t_pos, t_neg))
        # pin the exact boundary rows into every example
        out.append(("edge_lo", TH, 1, TH, TH))
        out.append(("edge_hi", TH + 1, 1, TH + 1, TH + 1))
        return out

    @given(rows())
    @settings(max_examples=8, deadline=None)
    def check(data):
        sdf = spark.createDataFrame(
            data, "tok string, n_pos long, n_neg long, "
                  "t_pos long, t_neg long")
        got = {r.tok: r.w
               for r in sdf.select("tok", weight_expr().alias("w"))
               .collect()}
        con = duckdb.connect()
        con.execute("CREATE TABLE c (tok VARCHAR, n_pos BIGINT, "
                    "n_neg BIGINT, t_pos BIGINT, t_neg BIGINT)")
        con.executemany("INSERT INTO c VALUES (?,?,?,?,?)", data)
        want = dict(con.execute(f"""
            SELECT tok, CASE WHEN t_pos > {TH} OR t_neg > {TH}
              THEN CAST(CAST(n_pos AS HUGEINT)*{SCALE}//t_pos
                        - CAST(n_neg AS HUGEINT)*{SCALE}//t_neg AS BIGINT)
              ELSE n_pos*{SCALE}//t_pos - n_neg*{SCALE}//t_neg END
            FROM c""").fetchall())
        assert got == want

    check()


def test_sharded_scoring_matches_broadcast(spark):
    """broadcast=False (hash-partitioned SMJ — the weight-table-past-
    executor-memory path) must produce bit-identical scores AND must
    actually plan a shuffle join: no BroadcastExchange of the weight
    side even with auto-broadcast enabled for tiny inputs (asserted
    with the threshold disabled, the test_bucketing discipline)."""
    labeled = _labeled(spark, SF_SMOKE)
    weights = train_token_weights(labeled.filter("doc_id % 2 = 0"))
    want = {(r.doc_id, r.score, r.pred)
            for r in score_documents(labeled, weights).collect()}
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        sharded = score_documents(labeled, weights, broadcast=False)
        got = {(r.doc_id, r.score, r.pred) for r in sharded.collect()}
        plan_io = io.StringIO()
        with contextlib.redirect_stdout(plan_io):
            sharded.explain("formatted")
        plan = plan_io.getvalue()
        assert "SortMergeJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert got == want
