"""UniMax language balancing (Chung et al., "UniMax: Fairer and More
Effective Language Sampling for Large-Scale Multilingual Pretraining",
ICLR 2023) — the named token-budget allocator multilingual pretraining
pipelines use instead of temperature sampling: give every language its
fair share of the token budget unless its whole corpus (capped at
``epoch_cap`` epochs) is smaller, in which case take all of it and
split the leftover among the bigger languages.

The reference loop walks languages in ascending corpus order carrying
(remaining budget, remaining languages). That sequential loop has a
closed form under the water-filling invariant — once one language's
capped corpus exceeds the current fair share, every later (larger)
language does too, and the share stops changing:

    order langs by c = min-cap tokens ascending;  cum = running Σc
    t  = first i where c_i * (k-i+1) > B - cum_{i-1}
    a_i = c_i          for i < t  (take the whole corpus)
    a_i ∈ {q, q+1}     for i ≥ t  — the as-even-as-possible split of
          B' = B - cum_{t-1} over k' = k-t+1 languages (q = B' div k';
          the loop's integer division telescopes its remainders onto
          the last r = B' mod k' languages)

so the allocation is ONE window pass over the per-language totals (k
rows — a single-partition window, bounded by the number of languages)
— no loop, no collect.
All arithmetic is INTEGER (token counts, floor division): the
allocation is bitwise across engines and partitionings by
construction, never within an ulp of a branch.

Selection is the deterministic-sampling discipline (queries/
sampling.py): within each language, documents are ranked by
(md5-hash, doc_id) and the hash-prefix whose preceding cumulative
token count is still under the language's budget is kept — stable
under repartitioning, reproducible by any engine, and the same doc
survives everywhere. One window per language partition; the
allocation join is a broadcast (k rows).

Scale shape at 100 TB: per-language totals are one partial-agg
shuffle of k rows; allocation is driver-sized; selection is the
hash-range pre-bucketed two-level prefix sum (``unimax_select``):
band each document by the TOP bits of its rank hash (band order ≡
rank order), partial-agg per-(lang, band) token sums into a bounded
k·B-row offset table, broadcast it back, and run the cumulative
window per (lang, band) — a head language spreads over B reducer
partitions instead of one, and bands whose offset already exceeds
the budget are pruned BEFORE the sort shuffle (at a 10% budget, 90%
of the head language never enters the window). Integer sums are
exact, so the banded output is bitwise-identical to the
single-window spec path (``unimax_select_window``, kept as the
parity pin) — a bounded-offset prefix sum, with the offset table
staying in-plan (broadcast join, no collect).

Reference analog: none — §2.3 extension surface (data-mixing family,
next to operators/dsir.py's importance resampling).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from myhadoop_spark.functions.text import hash_bucket, tokens


_HASH_BUCKETS = 1_000_000


def doc_token_counts(docs: DataFrame, *, id_col: str = "doc_id",
                     lang_col: str = "lang",
                     text_col: str = "text") -> DataFrame:
    """(lang, doc_id, n_tokens) — whitespace tokens per document.

    NULL languages are kept as the empty-string language so every row
    participates (the dsir.py NULL-lang lesson: a bare equality would
    silently drop them from one engine and not the other)."""
    toks = tokens(text_col)
    return docs.select(
        F.coalesce(F.col(lang_col), F.lit("")).alias("lang"),
        F.col(id_col).alias("doc_id"),
        F.size(toks).cast("long").alias("n_tokens"))


def unimax_allocate(doc_tokens: DataFrame, *, total_budget=None,
                    epoch_cap: int = 1,
                    budget_ratio: tuple[int, int] | None = None
                    ) -> DataFrame:
    """Per-language token budgets: (lang, sz, cap, alloc).

    ``total_budget`` is an int or an integer Column; ALTERNATIVELY
    ``budget_ratio=(num, den)`` sets B = (Σ corpus tokens · num) div
    den inside the plan — no driver collect, no separate total job,
    and the exact integer the oracle's CROSS JOIN tot computes.
    ``epoch_cap`` bounds any language at cap·sz tokens. The window is
    single-partition over ONE ROW PER LANGUAGE — bounded by the
    language count, not the corpus."""
    if (total_budget is None) == (budget_ratio is None):
        raise ValueError(
            "exactly one of total_budget / budget_ratio is required")
    sz = doc_tokens.groupBy("lang").agg(F.sum("n_tokens").alias("sz"))
    if budget_ratio is not None:
        # integer window total: order-free (no float fold needed)
        num, den = (int(budget_ratio[0]), int(budget_ratio[1]))
        sz = sz.withColumn(
            "_B", F.expr(f"(sum(sz) over () * {num}) div {den}")
            .cast("long"))
    else:
        budget = (F.lit(int(total_budget)).cast("long")
                  if isinstance(total_budget, int)
                  else total_budget.cast("long"))
        sz = sz.withColumn("_B", budget)
    c = (F.col("sz") * epoch_cap).cast("long")
    w = Window.orderBy("cap", "lang")
    wall = Window.orderBy("cap", "lang").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    g = (sz.withColumn("cap", c)
         .withColumn("_i", F.row_number().over(w))
         .withColumn("_cum", F.sum("cap").over(w))
         .withColumn("_prev", F.col("_cum") - F.col("cap"))
         .withColumn("_k", F.count(F.lit(1)).over(wall))
         .withColumn("_fail",
                     F.col("cap") * (F.col("_k") - F.col("_i") + 1)
                     > F.col("_B") - F.col("_prev"))
         # first failing index and its preceding cum: _prev ascends
         # with _i, so MIN over the failing rows is the value AT t
         .withColumn("_t", F.min(F.when(F.col("_fail"), F.col("_i")))
                     .over(wall))
         .withColumn("_tprev",
                     F.min(F.when(F.col("_fail"), F.col("_prev")))
                     .over(wall)))
    # The sequential loop's integer division hands accumulated
    # remainders to the LATER (larger) languages: with B' = B − cum_{t-1}
    # and k' = k − t + 1 sharing languages, repeatedly taking
    # ⌊remaining / remaining_langs⌋ gives the first k'−r languages
    # q = B' div k' and the last r = B' mod k' languages q+1 (telescoping;
    # hypothesis-pinned against the loop in tests/test_hypothesis_r9.py).
    # Caps never interfere past t: failing at t means cap_t > q, and caps
    # ascend, so every sharing cap ≥ q+1.
    q = F.expr("(_B - _tprev) div (_k - _t + 1)")
    r = F.expr("(_B - _tprev) % (_k - _t + 1)")
    kp = F.col("_k") - F.col("_t") + 1
    pos = F.col("_i") - F.col("_t") + 1
    share = q + (pos > kp - r).cast("long")
    alloc = (F.when(F.col("_t").isNull() | (F.col("_i") < F.col("_t")),
                    F.col("cap"))
             .otherwise(share).cast("long"))
    return g.select("lang", "sz", "cap", alloc.alias("alloc"))


def temperature_allocate(doc_tokens: DataFrame, *, total_budget=None,
                         alpha: float = 0.3,
                         budget_ratio: tuple[int, int] | None = None
                         ) -> DataFrame:
    """Temperature (α) sampling budgets — the pre-UniMax standard
    (mT5, Xue et al. 2021): p_l ∝ sz_l^α, budget_l = ⌊B · p_l⌋.
    α = 1 reproduces corpus proportions, α → 0 the uniform mix; the
    usual 0.3 boosts tail languages at the head's expense. Unlike
    UniMax nothing caps a language at its corpus size — budgets above
    sz_l mean multi-epoch repetition downstream.

    Cross-engine discipline: pow() is a libm double, so the WEIGHT
    (not the budget) is floored at 1e-6 before the integer multiply —
    the lm/bm25 floored-comparison idiom; everything after the floor
    is integer arithmetic. ``budget_ratio=(num, den)`` derives
    B = (Σ corpus tokens · num) div den in-plan (no driver collect),
    like unimax_allocate. Returns (lang, sz, weight, alloc)."""
    if (total_budget is None) == (budget_ratio is None):
        raise ValueError(
            "exactly one of total_budget / budget_ratio is required")
    sz = doc_tokens.groupBy("lang").agg(F.sum("n_tokens").alias("sz"))
    if budget_ratio is not None:
        num, den = (int(budget_ratio[0]), int(budget_ratio[1]))
        budget = F.expr(f"(sum(sz) over () * {num}) div {den}") \
            .cast("long")
    else:
        budget = (F.lit(int(total_budget)).cast("long")
                  if isinstance(total_budget, int)
                  else total_budget.cast("long"))
    wall = Window.orderBy("lang").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    p = F.pow(F.col("sz").cast("double"), F.lit(float(alpha)))
    g = (sz.withColumn("_p", p)
         .withColumn("_w", F.col("_p") / F.sum("_p").over(wall))
         .withColumn("weight", F.floor(F.col("_w") * 1e6) / 1e6))
    return g.select(
        "lang", "sz", "weight",
        F.floor(budget * F.col("weight")).cast("long").alias("alloc"))


def unimax_select_window(doc_tokens: DataFrame,
                         alloc: DataFrame) -> DataFrame:
    """SPEC PATH (single window per language): keep a doc while the
    tokens BEFORE it (in (md5, doc_id) rank order) are under
    ``alloc``. Semantically exact but physically one sort partition
    per language — kept as the bitwise parity pin for the banded
    production path and for the DuckDB oracle, which expresses
    exactly this window. Do not call on corpus-scale data."""
    w = (Window.partitionBy("lang")
         .orderBy(hash_bucket(F.col("doc_id"), _HASH_BUCKETS), "doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    ranked = doc_tokens.withColumn(
        "_before",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long")))
    return (ranked
            .join(F.broadcast(alloc.select("lang", "alloc")), "lang")
            .filter(F.col("_before") < F.col("alloc"))
            .select("lang", "doc_id", "n_tokens",
                    F.col("alloc").alias("lang_budget")))


def unimax_select(doc_tokens: DataFrame, alloc: DataFrame,
                  *, bands: int = 32) -> DataFrame:
    """The hash-prefix of each language's documents that fits its
    budget: keep a doc while the tokens BEFORE it (in (md5, doc_id)
    rank order) are under ``alloc`` — so budgets ≥ the corpus keep
    everything and a zero budget keeps nothing.

    Physical plan (the scale path): the rank hash's top range splits
    each language into ``bands`` hash-range buckets whose order
    refines the rank order (band = hash div width is monotone in the
    hash, and (band, hash, doc_id) totals the same order as
    (hash, doc_id)), so the language-wide running sum decomposes into

      band offset  — per-(lang, band) token sums (one partial-agg
                     shuffle emitting ≤ k·bands rows) prefix-summed
                     by a window over that BOUNDED table, then
                     broadcast-joined back (never collected);
      within-band  — a cumulative window partitioned by
                     (lang, band): a head language sorts on ``bands``
                     reducers instead of one.

    Bands whose offset already meets the budget are dropped before
    the sort shuffle (every doc there has _before ≥ offset ≥ alloc),
    so selection work is proportional to the KEPT prefix, not the
    corpus. All sums are integer, hence bitwise-equal to
    ``unimax_select_window`` under any banding (pinned in
    tests/test_unimax.py).

    Returns (lang, doc_id, n_tokens, lang_budget)."""
    if bands < 1:
        raise ValueError("bands must be >= 1")
    width = (_HASH_BUCKETS + bands - 1) // bands
    h = hash_bucket(F.col("doc_id"), _HASH_BUCKETS)
    dt = doc_tokens.withColumn("_h", h).withColumn(
        "_band", F.expr(f"_h div {width}"))
    # bounded: ≤ (#languages × bands) rows; the window below runs over
    # this table, not the corpus
    wb = (Window.partitionBy("lang").orderBy("_band")
          .rowsBetween(Window.unboundedPreceding, -1))
    band_offsets = (dt.groupBy("lang", "_band")
                    .agg(F.sum("n_tokens").alias("_bsum"))
                    .withColumn("_boff",
                                F.coalesce(F.sum("_bsum").over(wb),
                                           F.lit(0).cast("long")))
                    .join(F.broadcast(alloc.select("lang", "alloc")),
                          "lang")
                    .filter(F.col("_boff") < F.col("alloc"))
                    .select("lang", "_band", "_boff", "alloc"))
    ww = (Window.partitionBy("lang", "_band")
          .orderBy("_h", "doc_id")
          .rowsBetween(Window.unboundedPreceding, -1))
    kept = (dt.join(F.broadcast(band_offsets), ["lang", "_band"])
            .withColumn("_before",
                        F.col("_boff")
                        + F.coalesce(F.sum("n_tokens").over(ww),
                                     F.lit(0).cast("long")))
            .filter(F.col("_before") < F.col("alloc")))
    return kept.select("lang", "doc_id", "n_tokens",
                       F.col("alloc").alias("lang_budget"))
