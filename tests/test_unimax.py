"""UniMax (operators/unimax.py): closed-form window allocation vs the
paper's SEQUENTIAL reference loop, budget/cap invariants, epoch-cap
scaling, prefix-selection semantics, and partitioning invariance."""

from __future__ import annotations

from pyspark.sql import functions as F

import pytest

from myhadoop_spark.operators.unimax import (
    doc_token_counts,
    unimax_allocate,
    unimax_select,
)

# (lang, doc_id, n_tokens) — skewed: 'en' dominates, 'tiny' is minute
DOCS = (
    [("en", i, 50 + (i * 7) % 40) for i in range(40)]
    + [("de", 100 + i, 30 + (i * 5) % 25) for i in range(12)]
    + [("fr", 200 + i, 20 + (i * 3) % 30) for i in range(10)]
    + [("tiny", 300 + i, 5) for i in range(3)]
)


def _loop_unimax(sizes: dict[str, int], budget: int,
                 epoch_cap: int = 1) -> dict[str, int]:
    """The paper's sequential allocator: ascending capped-corpus order,
    each language takes min(cap, remaining // remaining_langs)."""
    caps = {l: s * epoch_cap for l, s in sizes.items()}
    remaining, k = budget, len(caps)
    out = {}
    for lang in sorted(caps, key=lambda l: (caps[l], l)):
        share = remaining // k
        out[lang] = min(caps[lang], share)
        remaining -= out[lang]
        k -= 1
    return out


def _tok_df(spark):
    return spark.createDataFrame(
        DOCS, "lang string, doc_id long, n_tokens long")


def _sizes():
    out: dict[str, int] = {}
    for lang, _, n in DOCS:
        out[lang] = out.get(lang, 0) + n
    return out


def test_allocation_matches_sequential_loop(spark):
    dt = _tok_df(spark)
    total = sum(n for _, _, n in DOCS)
    for budget, cap in ((total * 4 // 5, 1), (total // 3, 1),
                        (total * 3 // 2, 2), (total * 10, 3)):
        got = {r.lang: r.alloc
               for r in unimax_allocate(dt, total_budget=budget,
                                        epoch_cap=cap).collect()}
        want = _loop_unimax(_sizes(), budget, cap)
        assert got == want, (budget, cap)


def test_allocation_invariants(spark):
    dt = _tok_df(spark)
    total = sum(n for _, _, n in DOCS)
    budget = total * 4 // 5
    rows = unimax_allocate(dt, total_budget=budget).collect()
    assert sum(r.alloc for r in rows) <= budget
    for r in rows:
        assert 0 <= r.alloc <= r.cap
    # the dominated language is cut, the tiny one is kept whole
    by = {r.lang: r for r in rows}
    assert by["tiny"].alloc == by["tiny"].cap
    assert by["en"].alloc < by["en"].cap


def test_budget_edges(spark):
    dt = _tok_df(spark)
    total = sum(n for _, _, n in DOCS)
    full = unimax_allocate(dt, total_budget=total * 2)
    assert all(r.alloc == r.cap for r in full.collect())
    assert all(r.alloc == 0
               for r in unimax_allocate(dt, total_budget=0).collect())


def test_selection_prefix_semantics(spark):
    dt = _tok_df(spark)
    total = sum(n for _, _, n in DOCS)
    alloc = unimax_allocate(dt, total_budget=total * 4 // 5)
    sel = unimax_select(dt, alloc).collect()
    budgets = {r.lang: r.alloc for r in alloc.collect()}
    picked: dict[str, int] = {}
    for r in sel:
        assert r.lang_budget == budgets[r.lang]
        picked[r.lang] = picked.get(r.lang, 0) + r.n_tokens
    max_doc = max(n for _, _, n in DOCS)
    for lang, got in picked.items():
        # prefix rule: everything before the last doc fits the budget
        assert got < budgets[lang] + max_doc
    # full-budget languages keep every document
    n_tiny = sum(1 for l, _, _ in DOCS if l == "tiny")
    assert sum(1 for r in sel if r.lang == "tiny") == n_tiny


def test_selection_partitioning_invariant(spark):
    dt = _tok_df(spark)
    total = sum(n for _, _, n in DOCS)
    alloc = unimax_allocate(dt, total_budget=total // 2)
    a = sorted((r.lang, r.doc_id)
               for r in unimax_select(dt, alloc).collect())
    b = sorted((r.lang, r.doc_id)
               for r in unimax_select(dt.repartition(13), alloc).collect())
    assert a == b and len(a) > 0


def test_budget_ratio_in_plan_equals_int_budget(spark):
    import pytest

    dt = _tok_df(spark)
    total = sum(n for _, _, n in DOCS)
    by_int = sorted((r.lang, r.alloc) for r in unimax_allocate(
        dt, total_budget=total * 4 // 5).collect())
    by_ratio = sorted((r.lang, r.alloc) for r in unimax_allocate(
        dt, budget_ratio=(4, 5)).collect())
    assert by_int == by_ratio
    with pytest.raises(ValueError):
        unimax_allocate(dt)
    with pytest.raises(ValueError):
        unimax_allocate(dt, total_budget=10, budget_ratio=(1, 2))


def test_temperature_allocation_model_and_alpha_edges(spark):
    import math

    from myhadoop_spark.operators.unimax import temperature_allocate

    dt = _tok_df(spark)
    sizes = _sizes()
    total = sum(sizes.values())
    budget = total * 4 // 5
    for alpha in (0.3, 1.0):
        got = {r.lang: (r.weight, r.alloc)
               for r in temperature_allocate(
                   dt, total_budget=budget, alpha=alpha).collect()}
        # python model with the SAME ordered normalizer + 1e-6 floor
        norm = 0.0
        for lang in sorted(sizes):
            norm += math.pow(float(sizes[lang]), alpha)
        for lang, sz in sizes.items():
            w = math.floor(math.pow(float(sz), alpha) / norm * 1e6) / 1e6
            assert got[lang][0] == w, (alpha, lang)
            assert got[lang][1] == math.floor(float(budget) * w)
    # α=1 tracks corpus proportions; α=0.3 boosts the tail share
    prop = {r.lang: r.alloc for r in temperature_allocate(
        dt, total_budget=budget, alpha=1.0).collect()}
    cool = {r.lang: r.alloc for r in temperature_allocate(
        dt, total_budget=budget, alpha=0.3).collect()}
    assert cool["tiny"] > prop["tiny"]
    assert cool["en"] < prop["en"]


def test_doc_token_counts_null_lang(spark):
    docs = spark.createDataFrame(
        [(1, "a b c", None), (2, "d e", "en")],
        "doc_id long, text string, lang string")
    rows = {r.doc_id: (r.lang, r.n_tokens)
            for r in doc_token_counts(docs).collect()}
    assert rows[1] == ("", 3)    # NULL lang kept as '' — never dropped
    assert rows[2] == ("en", 2)


@pytest.mark.slow  # r14: heavy parity battery (fast twin stays in the default tier)
def test_banded_select_equals_window_path(spark):
    """The r10 scale fix: hash-range banded two-level prefix sum must
    be bitwise-identical to the single-window spec path for every
    banding — integer sums decompose exactly (VERDICT r9 #1)."""
    from myhadoop_spark.operators.unimax import unimax_select_window

    dt = _tok_df(spark)
    total = sum(n for _, _, n in DOCS)
    for budget in (total * 4 // 5, total // 3, total // 10, 0, total * 2):
        alloc = unimax_allocate(dt, total_budget=budget)
        want = sorted(map(tuple, unimax_select_window(dt, alloc).collect()))
        for bands in (1, 3, 32, 1000):
            got = sorted(map(tuple,
                             unimax_select(dt, alloc, bands=bands).collect()))
            assert got == want, (budget, bands)


def test_banded_select_band_pruning(spark):
    """Bands whose offset already meets the budget never reach the
    sort: at a tiny budget the banded plan's pre-window row count is
    a strict subset of the corpus (the 'work ∝ kept prefix' claim)."""
    from pyspark.sql import functions as F  # noqa: F811

    from myhadoop_spark.functions.text import hash_bucket
    from myhadoop_spark.operators.unimax import _HASH_BUCKETS

    dt = _tok_df(spark)
    total = sum(n for _, _, n in DOCS)
    alloc = unimax_allocate(dt, total_budget=total // 10)
    bands = 16
    width = (_HASH_BUCKETS + bands - 1) // bands
    # reproduce the operator's band-offset table and count surviving docs
    wb = __import__("pyspark.sql", fromlist=["Window"]).Window \
        .partitionBy("lang").orderBy("_band") \
        .rowsBetween(-(1 << 30), -1)
    banded = dt.withColumn("_h", hash_bucket(F.col("doc_id"), _HASH_BUCKETS)) \
        .withColumn("_band", F.expr(f"_h div {width}"))
    offs = (banded.groupBy("lang", "_band")
            .agg(F.sum("n_tokens").alias("_bsum"))
            .withColumn("_boff", F.coalesce(F.sum("_bsum").over(wb),
                                            F.lit(0)))
            .join(alloc.select("lang", "alloc"), "lang"))
    survivors = offs.filter(F.col("_boff") < F.col("alloc")).count()
    assert survivors < offs.count()  # some bands really are pruned
    # and the pruned plan still agrees with the spec path
    from myhadoop_spark.operators.unimax import unimax_select_window
    got = sorted(map(tuple, unimax_select(dt, alloc, bands=bands).collect()))
    want = sorted(map(tuple, unimax_select_window(dt, alloc).collect()))
    assert got == want


def test_banded_select_rejects_bad_bands(spark):
    import pytest

    dt = _tok_df(spark)
    alloc = unimax_allocate(dt, total_budget=100)
    with pytest.raises(ValueError):
        unimax_select(dt, alloc, bands=0)
