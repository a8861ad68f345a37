"""PPJoin prefix filtering (operators/ppjoin.py): exact recall vs a
brute-force Python model, candidate pruning on skewed gram
frequencies, and the banded (equi-join) plan shape."""

from __future__ import annotations

import contextlib
import io
import random

from pyspark.sql import functions as F

from myhadoop_spark.operators.ppjoin import prefix_candidates
import pytest

TAU = 0.6


def _mk_sets(rng: random.Random, n: int = 40):
    """Gram sets over a skewed vocabulary (low ids common, high ids
    rare) with injected high-overlap pairs."""
    sets = []
    for _ in range(n):
        size = rng.randrange(15, 40)
        s = {rng.randrange(1, 30) for _ in range(size // 2)}
        s |= {rng.randrange(30, 5000) for _ in range(size - len(s))}
        sets.append(sorted(s))
    for src, dst in [(0, 1), (2, 3), (4, 5)]:
        keep = rng.randrange(0, 3)
        sets[dst] = sorted(set(sets[src]) | set(sets[dst][:keep]))
    return sets


def _brute(sets, tau):
    out = {}
    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            a, b = set(sets[i]), set(sets[j])
            jac = len(a & b) / len(a | b)
            if jac >= tau:
                out[(i, j)] = jac
    return out


def _df(spark, sets):
    return spark.createDataFrame(
        [(i, s) for i, s in enumerate(sets)],
        "doc_id long, grams array<long>")


def test_candidates_are_superset_of_answers_and_pruned(spark):
    rng = random.Random(6)
    sets = _mk_sets(rng)
    df = _df(spark, sets)
    cand = {(r.doc1, r.doc2)
            for r in prefix_candidates(df, TAU).collect()}
    assert set(_brute(sets, TAU)) <= cand
    n = len(sets)
    assert len(cand) < n * (n - 1) // 2  # actually prunes something


def _corpus_grams(spark, zipf: bool, n: int = 600):
    from myhadoop_spark.sources.synthetic import register as register_source

    register_source(spark)
    docs = (spark.read.format("synthetic_docs")
            .option("rows", n).option("vocabSize", 20_000)
            .option("zipf", str(zipf).lower()).option("dupEvery", 10)
            .option("numPartitions", 8)
            .load().select("doc_id", "text"))
    return (docs.filter(F.length("text") >= 3)
            .select("doc_id", F.array_sort(F.array_distinct(F.expr(
                "transform(sequence(1, length(text) - 2),"
                " i -> ascii(substring(text, i, 1)) * 65536"
                "    + ascii(substring(text, i + 1, 1)) * 256"
                "    + ascii(substring(text, i + 2, 1)))"))).alias("grams"))
            .localCheckpoint())


@pytest.mark.slow  # r14: heavy parity battery (fast twin stays in the default tier)
def test_generator_selection_matches_corpus_shape(spark):
    """The auto-selector must route Zipfian corpora to the prefix
    filter and uniform corpora to size-ratio (the measured-best
    pairing, ppjoin_study.tsv), and the choice must never change the
    verified pair set — both generators are exact-recall."""
    from myhadoop_spark.operators.ppjoin import (
        choose_generator,
        prefix_candidates,
        rarest_gram_rarity,
        size_ratio_candidates,
    )

    TAU_Q = 0.75
    for zipf, want in ((True, "ppjoin_prefix"), (False, "size_ratio")):
        grams = _corpus_grams(spark, zipf)
        assert choose_generator(grams) == want, \
            (zipf, rarest_gram_rarity(grams))
        verified = []
        for gen in (prefix_candidates, size_ratio_candidates):
            cand = gen(grams, TAU_Q)
            g1 = grams.select(F.col("doc_id").alias("doc1"),
                              F.col("grams").alias("g1"))
            g2 = grams.select(F.col("doc_id").alias("doc2"),
                              F.col("grams").alias("g2"))
            inter = F.size(F.array_intersect("g1", "g2")).cast("double")
            tot = (F.size("g1") + F.size("g2")).cast("double")
            verified.append({
                (r.doc1, r.doc2) for r in
                (cand.join(g1, "doc1").join(g2, "doc2")
                 .select("doc1", "doc2",
                         (inter / (tot - inter)).alias("j"))
                 .filter(F.col("j") >= TAU_Q)).collect()})
        assert verified[0] == verified[1] and verified[0], zipf


def test_gate_fixture_selects_size_ratio(spark):
    """The sf0.001 documents fixture (uniform token draws) must stay
    on the salted size-ratio path — its rarest grams are common
    (measured 0.058 >> 0.025), so a prefix join would fan out."""
    from myhadoop_spark.catalog import load
    from myhadoop_spark.operators.ppjoin import choose_generator
    from tests.conftest import SF_SMOKE

    docs = load(spark, SF_SMOKE, "documents")
    grams = (docs.filter(F.length("text") >= 3)
             .select("doc_id", F.array_sort(F.array_distinct(F.expr(
                 "transform(sequence(1, length(text) - 2),"
                 " i -> ascii(substring(text, i, 1)) * 65536"
                 "    + ascii(substring(text, i + 1, 1)) * 256"
                 "    + ascii(substring(text, i + 2, 1)))"))).alias("grams")))
    assert choose_generator(grams) == "size_ratio"


def test_plan_is_banded_not_cartesian(spark):
    rng = random.Random(7)
    df = _df(spark, _mk_sets(rng, n=10))
    plan_io = io.StringIO()
    with contextlib.redirect_stdout(plan_io):
        prefix_candidates(df, TAU).explain("formatted")
    plan = plan_io.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
