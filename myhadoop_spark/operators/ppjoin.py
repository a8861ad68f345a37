"""PPJoin-style prefix filtering for set-similarity joins (Xiao et
al. 2008, "Efficient Similarity Joins for Near Duplicate Detection").

The exact-recall candidate generator for Jaccard ≥ τ: order each
document's grams by GLOBAL rarity (ascending document frequency, ties
by gram id) and keep only the |g| − ⌈τ·|g|⌉ + 1 rarest — two sets with
Jaccard ≥ τ MUST share at least one gram inside both prefixes
(pigeonhole on the overlap bound ⌈τ/(1+τ)·(|a|+|b|)⌉), so the
prefix-gram equi-join loses nothing. Selectivity depends entirely on
the gram-frequency distribution:

  * measured on the r5 Zipfian corpus (scripts/ppjoin_study.py →
    ppjoin_study.tsv): 47 % fewer candidates and 5.5× less wall than
    the size-ratio generator at identical verified output — rare grams
    are actually rare, so prefixes discriminate;
  * measured on the uniform corpus: a wash (~15 % pruning) — the r2
    ROADMAP negative result was a fixture artifact of uniform token
    draws, not a property of the algorithm.

Scale shape: one document-frequency aggregation (shuffle ∝ gram
vocabulary), one per-doc window for the rarity ranking (shuffle ∝
total grams, the same cardinality any gram explode pays), then an
equi-join on prefix grams — banded by construction, never all-pairs.
The size-ratio filter composes on top for free (it rides the same
candidate rows).

GENERATOR AUTO-SELECTION (r6): which generator wins is a property of
the corpus, so ``choose_generator`` probes it instead of trusting a
default. The probe statistic is the mean over documents of (document
frequency of the doc's RAREST gram) / n_docs — the direct predictor
of prefix selectivity: a doc's single rarest gram fans its prefix
join out to ~p·n candidate partners, so when p is large even perfect
prefixes don't discriminate. Measured (scale-stable across 2k/5k
docs): Zipfian corpus 0.014, uniform synthetic 0.042, gate fixture
0.058 — threshold 0.025 picks the prefix filter exactly where the r5
study measured it winning (47 % pruning, 5.5× wall) and size-ratio
where prefix was a wash. Both generators are exact-recall at τ, so
the selection NEVER changes output — only cost (verified identical
on both corpus shapes, tests/test_ppjoin.py + ppjoin_study.tsv).

Reference analog: none — §2.3 extension surface (SURVEY.md §2.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from myhadoop_spark.materialize import materialize

# choose the prefix generator when the average rarest-gram document
# frequency is below this fraction of the corpus (see module docstring
# for the measured calibration points)
PREFIX_RARITY_THRESHOLD = 0.025

# broadcast budget for the prefix-row self-join (the edjoin / verify
# precedent): under it the pair dedup runs exchange-free; past it the
# hash-partitioned join + distinct shape stands
_PREF_BCAST_BUDGET = 48 << 20


def prefix_candidates(grams: DataFrame, tau: float, *,
                      apply_size_filter: bool = True,
                      block_col: str | None = None,
                      size_stats: tuple[int, int] | None = None
                      ) -> DataFrame:
    """(doc1, doc2) candidate pairs from the PPJoin prefix join.
    ``grams`` needs (doc_id, grams: array) with DISTINCT grams per doc
    (the Jaccard-set convention). Exact recall for Jaccard ≥ tau.
    ``block_col`` restricts pairs to the same block (the ngram_jaccard
    source-blocking convention) by joining on (gram, block).

    r13 (optimization, guide §2.4/§3.1): a candidate pair is emitted
    once per shared prefix gram — measured 33× duplication at sf0.1
    (17.0M multiset rows for 511k distinct pairs), so the old trailing
    global ``distinct`` shuffled a multiset ~33× the candidate set.
    Under the broadcast budget the prefix table is materialized once,
    its build side broadcast, and the stream side hash-partitioned by
    doc_id (a prefix-rows-sized exchange, ≤ (1−τ)·Σ|grams| rows):
    every duplicate of a pair is then co-located on the stream doc's
    partition, ``HashPartitioning(doc1)`` satisfies the dedup
    aggregate's ``ClusteredDistribution(doc1, doc2)``, and the
    distinct plans with NO exchange above the join — the multiset
    never crosses the network. The budget is estimated from
    ``size_stats`` (n_docs, total grams) when the caller already has
    them, else from one cheap aggregate over ``grams`` (the gated
    callers pass a checkpointed table, so that scan is materialized
    rows). Past the budget — the 100 TB corpus — the audited
    hash-partitioned join + global distinct stands unchanged. Both
    paths return the same deduplicated set."""
    extra = [block_col] if block_col else []
    ex = grams.select("doc_id", *extra, F.size("grams").alias("n"),
                      F.explode("grams").alias("gram"))
    freq = ex.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.col("df").asc(),
                                             F.col("gram").asc())
    pref = (ex.join(freq, "gram")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= F.col("n")
                    - F.ceil(F.lit(tau) * F.col("n")) + 1)
            .select("doc_id", *extra, "n", "gram"))
    if size_stats is None:
        s = grams.agg(F.count(F.lit(1)).alias("n"),
                      F.coalesce(F.sum(F.size("grams")),
                                 F.lit(0)).alias("tot")).head()
        size_stats = (s.n, s.tot)
    n_docs, tot_grams = size_stats
    # prefix rows ≤ (1−τ)·total + n_docs; ~64 B/row covers the ids,
    # sizes, a packed int gram and the hashed-relation overhead
    est_bytes = (tot_grams - int(tau * tot_grams) + n_docs) * 64
    if est_bytes < _PREF_BCAST_BUDGET:
        pref = pref.transform(materialize)
        par = grams.sparkSession.sparkContext.defaultParallelism
        a = (pref.repartition(par, "doc_id")
             .select(F.col("doc_id").alias("doc1"),
                     F.col("n").alias("n1"), *extra, "gram"))
        b = F.broadcast(pref.select(F.col("doc_id").alias("doc2"),
                                    F.col("n").alias("n2"),
                                    *extra, "gram"))
    else:
        a = pref.select(F.col("doc_id").alias("doc1"),
                        F.col("n").alias("n1"), *extra, "gram")
        b = pref.select(F.col("doc_id").alias("doc2"),
                        F.col("n").alias("n2"), *extra, "gram")
    cond = F.col("doc1") < F.col("doc2")
    if apply_size_filter:
        cond = cond & ((F.least("n1", "n2").cast("double")
                        / F.greatest("n1", "n2").cast("double"))
                       >= tau)
    return (a.join(b, ["gram", *extra]).filter(cond)
            .select("doc1", "doc2").distinct())


def size_ratio_candidates(grams: DataFrame, tau: float) -> DataFrame:
    """The size-only generator: all pairs with min/max gram-count ratio
    ≥ tau (a NECESSARY condition for Jaccard ≥ tau, so exact recall).
    Joins only (doc_id, int) rows — cheap per candidate, but candidate
    count is blind to content."""
    s = grams.select("doc_id", F.size("grams").alias("n"))
    a = s.select(F.col("doc_id").alias("doc1"), F.col("n").alias("n1"))
    b = s.select(F.col("doc_id").alias("doc2"), F.col("n").alias("n2"))
    ratio = (F.least("n1", "n2").cast("double")
             / F.greatest("n1", "n2").cast("double"))
    return (a.join(b, F.col("doc1") < F.col("doc2"))
            .filter(ratio >= tau).select("doc1", "doc2"))


SAMPLE_MOD = 10        # probe every 10th doc on corpora past the floor
SAMPLE_FLOOR = 2_000   # below this, sampling saves nothing — probe all


def rarest_gram_rarity(grams: DataFrame) -> float:
    """The selection statistic: mean over documents of df(rarest gram)
    / n_docs. Past SAMPLE_FLOOR documents the probe runs on a
    deterministic 1/SAMPLE_MOD xxhash64 doc sample (df computed within
    the sample — the statistic is a RATIO, and the sampled values
    track the full ones within ~12% on all three calibration corpora:
    fixture 0.061→0.054, uniform 0.043→0.037, Zipf 0.015→0.012, well
    clear of the 0.025 threshold on both sides), so probe cost is
    bounded at corpus/10 gram rows instead of riding the full explode
    every query (the r6 review's overhead finding). Returns 1.0 for an
    empty corpus so the selector degenerates to the cheap size-ratio
    path."""
    # control: empty corpus short-cut and the sampling decision
    n_docs = grams.count()
    if n_docs == 0:
        return 1.0
    if n_docs >= SAMPLE_FLOOR:
        grams = grams.filter(
            F.pmod(F.xxhash64("doc_id"), F.lit(SAMPLE_MOD)) == 0)
        n_docs = grams.count()  # control: the sample's size
        if n_docs == 0:
            return 1.0
    ex = grams.select("doc_id", F.explode("grams").alias("gram"))
    freq = ex.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    avg_min = (ex.join(freq, "gram")
               .groupBy("doc_id").agg(F.min("df").alias("mdf"))
               .agg(F.avg("mdf")).first()[0])
    return float(avg_min) / n_docs


def choose_generator(grams: DataFrame, *,
                     threshold: float = PREFIX_RARITY_THRESHOLD) -> str:
    """'ppjoin_prefix' when rare grams are genuinely rare (heavy-head
    corpora), else 'size_ratio'. Both are exact-recall — the choice
    affects cost only."""
    return ("ppjoin_prefix" if rarest_gram_rarity(grams) < threshold
            else "size_ratio")
