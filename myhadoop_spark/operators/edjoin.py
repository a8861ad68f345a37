"""Ed-Join: edit-distance similarity join (Xiao, Wang & Lin 2008,
"Ed-Join: an efficient algorithm for similarity joins with edit
distance constraints", PVLDB).

The character-level member of the dedup/candidate-generation family —
every other generator in this engine is token/set-based (minhash
bands, PPJoin prefixes, sign-LSH, IVF buckets); this one answers
"which STRINGS are within d edits", the fuzzy-matching / entity-
resolution primitive (near-identical product names, typo'd titles,
OCR noise).

Candidate generation is the Ed-Join q-gram prefix filter:

  * each edit operation destroys at most q of a string's positional
    q-grams, so two strings within edit distance d must share at
    least one gram among the (q*d + 1) GLOBALLY-RAREST grams of each
    (pigeonhole over the ordered gram multisets) — an equi-join on
    prefix grams is exact-recall, never all-pairs;
  * the length filter abs(len1 - len2) <= d composes on the same
    candidate rows for free (length difference is a lower bound on
    edit distance);
  * strings with fewer than q*d + 1 q-grams (len < q*(d+1)) fall
    outside the q-gram pigeonhole but not outside the THEOREM: the
    filter holds for any gram width, so a MID tier (d+1 <= len <
    q*(d+1)) re-applies it with q=1 — an equi-join on each string's
    d+1 rarest characters, still exact recall (r8; the pre-r8
    all-pairs-within-length short block was quadratic on
    short-heavy corpora). Only strings with len <= d (where d edits
    can rewrite everything) remain all-pairs within +-d length —
    an irreducibly content-blind but BOUNDED class: at most
    |alphabet|^d distinct values after dedupe-first.

Verification is Spark's built-in ``levenshtein(l, r, threshold)``
(JVM-side banded DP, early-exits past the threshold); the emitted
``dist`` is the exact distance, bitwise-comparable to DuckDB's
``levenshtein``.

Scale shape: one gram document-frequency aggregation (shuffle
proportional to the gram vocabulary), one per-string window for the
rarity ranking (shuffle proportional to total grams — the same
cardinality any gram explode pays), one equi-join on prefix grams
(banded by construction), then the verify join rides the candidate
pairs only. No cartesian product anywhere (plan-asserted in
tests/test_edjoin.py).

Reference analog: none — SURVEY.md §2.3 extension surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from myhadoop_spark.materialize import materialize

# broadcast budget for the prefix-table self-join (the ppjoin verify
# precedent): under it the build side broadcasts and the pair dedup
# runs exchange-free; past it the hash-partitioned shape stands
_PREF_BCAST_BUDGET = 48 << 20


def _base(df: DataFrame, id_col: str, str_col: str) -> DataFrame:
    return (df.select(F.col(id_col).alias("id"),
                      F.col(str_col).alias("s"))
            .filter(F.col("s").isNotNull())
            .withColumn("len", F.length("s")))


def _pair_self_join(pref: DataFrame, d: int, *, est_bytes: int,
                    extra_filter: Column | None = None) -> DataFrame:
    """Deduplicated (id_a, id_b) candidate pairs from a prefix-table
    self-join on gram (+ the length filter, + ``extra_filter``).

    r13 (optimization, guide §2.4/§3.1): a pair is emitted once per
    shared prefix gram (measured ~1.9× duplication at sf0.1), so the
    old global ``distinct`` shuffled the whole candidate MULTISET
    (10.5M rows at sf0.1 for 5.4M distinct pairs). Under the broadcast
    budget the build side broadcasts and the stream side is
    hash-partitioned by id first (≤ q·d+1 rows per string — a tiny
    exchange): every duplicate of a pair is born from the stream
    string's own prefix rows, which now share a partition, so
    ``HashPartitioning(id_a)`` satisfies the dedup aggregate's
    ``ClusteredDistribution(id_a, id_b)`` and the distinct plans with
    NO exchange above the join — the candidate multiset never crosses
    the network (plan pinned in tests/test_edjoin.py). Past the budget
    — the 100 TB catalog — the audited shuffled join + distinct shape
    stands unchanged. Both paths return the same deduplicated set."""
    a = pref
    if est_bytes < _PREF_BCAST_BUDGET:
        par = pref.sparkSession.sparkContext.defaultParallelism
        a = pref.repartition(par, "id")
        b = F.broadcast(pref.select(F.col("id").alias("id_b"),
                                    F.col("len").alias("len_b"), "gram"))
    else:
        b = pref.select(F.col("id").alias("id_b"),
                        F.col("len").alias("len_b"), "gram")
    a = a.select(F.col("id").alias("id_a"),
                 F.col("len").alias("len_a"), "gram")
    out = (a.join(b, "gram")
           .filter((F.col("id_a") < F.col("id_b"))
                   & (F.abs(F.col("len_a") - F.col("len_b")) <= d)))
    if extra_filter is not None:
        out = out.filter(extra_filter)
    return out.select("id_a", "id_b").distinct()


def edit_distance_candidates(df: DataFrame, id_col: str, str_col: str, *,
                             max_dist: int = 2, q: int = 2) -> DataFrame:
    """Exact-recall candidate (id_a, id_b) pairs for
    levenshtein <= max_dist — the Ed-Join prefix join plus the
    short-string block (module docstring). Deduplicated; every true
    pair is present (pinned in tests/test_edjoin.py).

    PRECONDITION (r14, ADVICE r13): ids must be UNIQUE — one string
    per id. The union below is duplicate-free because the tiers are
    pairwise disjoint by min-LENGTH class, which is a property of the
    ids' strings; an id carrying two strings in different length
    classes could re-emit the same (id_a, id_b) pair from two tiers
    (the pre-r13 trailing global distinct absorbed that case). Both
    in-repo callers satisfy it structurally: edit_distance_pairs
    passes reps (one min-id row per DISTINCT string value) and the
    entity paths join on unique catalog keys.

    r13 (optimization): tier construction is ADAPTIVE — one narrow
    (len-only) aggregate counts each length class up front and only
    the non-empty tiers are planned and executed. On real catalogs
    the mid/tiny classes are usually empty, yet their full
    explode→df-rank→self-join subplans used to be optimized by
    Catalyst, re-optimized per AQE stage, and executed as empty
    shuffles on EVERY run — measured ~2/3 of the query's plan tree
    for zero output rows (guide §1.2: fix the distributed algorithm /
    plan shape first). The count pass is one column-pruned scan of
    (len) — negligible next to the gram explode any tier pays. Each
    built tier's PREFIX table (≤ q·d+1 rows per string) is
    localCheckpointed so the self-join reads materialized rows
    instead of duplicating the explode+window subtree in both join
    branches (guide §3.3: materializing an intermediate truncates the
    plan; the r12-measured pattern that cut Catalyst time ~2×)."""
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    if q < 1:
        raise ValueError(f"q must be >= 1, got {q}")
    d, pref_len = max_dist, q * max_dist + 1
    base = _base(df, id_col, str_col)
    mid_top = q * (d + 1) + d - 1

    # one narrow pass over len decides which tiers exist at all
    cnt = base.agg(
        F.count(F.when(F.col("len") >= q * (d + 1), 1)).alias("n_long"),
        F.count(F.when((F.col("len") >= d + 1)
                       & (F.col("len") <= mid_top), 1)).alias("n_mid"),
        F.count(F.when(F.col("len") <= d, 1)).alias("n_tiny"),
    ).collect()[0]  # control: which tier joins get built
    tiers: list[DataFrame] = []

    # --- long strings: Ed-Join prefix-gram candidates -----------------
    if cnt.n_long:
        longs = base.filter(F.col("len") >= q * (d + 1))
        ex = longs.select(
            "id", "len",
            F.posexplode(F.expr(
                f"transform(sequence(1, len - {q - 1}),"
                f" p -> substring(s, p, {q}))"
            )).alias("pos", "gram"))
        freq = ex.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
        w = Window.partitionBy("id").orderBy(F.col("df").asc(),
                                             F.col("gram").asc(),
                                             F.col("pos").asc())
        pref = (ex.join(freq, "gram")
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= pref_len)
                .select("id", "len", "gram")
                .transform(materialize))
        # heuristic byte constants (r14, ADVICE r13): 44 ≈ fixed row
        # payload + hashed-relation overhead, 2·q assumes ~1 byte/char
        # grams — single-byte alphabets (the part-catalog corpus).
        # Multi-byte corpora underestimate by ≤4× against a 48 MB
        # budget with ~10× headroom at this SF; derive gram bytes from
        # an octet_length stats pass if non-ASCII catalogs enter scope
        # broadcast-budget estimate from the already-collected tier
        # count (no extra job): ≤ pref_len rows per string, ~44 bytes
        # of fixed row payload + the q-char gram
        tiers.append(_pair_self_join(
            pref, d, est_bytes=cnt.n_long * pref_len * (44 + 2 * q)))

    # --- short strings: tiered exact-recall refinement (r8) -----------
    # The pre-r8 block joined every short string to every string within
    # +-d length — quadratic on short-heavy corpora (titles, product
    # codes). The q-gram count filter holds for ANY gram width (each
    # edit destroys at most q gram OCCURRENCES; shifted grams keep
    # their content, and the join is on content), so the same ordered-
    # prefix pigeonhole applies with q=1:
    #
    #   * MID tier, d+1 <= len < q*(d+1): two strings within d edits
    #     share at least len - d >= 1 character occurrences, so they
    #     share a character among each one's d+1 globally-rarest —
    #     an equi-join on prefix CHARACTERS, exact recall. Partners
    #     longer than q*(d+1) + d - 1 fail the length filter against
    #     every mid string, so only that bounded slice explodes chars;
    #   * TINY tier, len <= d: d edits can rewrite the whole string —
    #     no content filter is sound, all pairs within +d length
    #     remain. This is the irreducible remainder, and it is
    #     BOUNDED: dedupe-first (edit_distance_pairs) leaves at most
    #     sum_{l<=d} |alphabet|^l distinct tiny values regardless of
    #     corpus size.
    if cnt.n_mid:
        mids = base.filter((F.col("len") >= d + 1)
                           & (F.col("len") <= mid_top))
        ex1 = mids.select(
            "id", "len",
            F.posexplode(F.expr(
                "transform(sequence(1, len), p -> substring(s, p, 1))"
            )).alias("pos", "gram"))
        freq1 = ex1.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
        w1 = Window.partitionBy("id").orderBy(F.col("df").asc(),
                                              F.col("gram").asc(),
                                              F.col("pos").asc())
        pref1 = (ex1.join(freq1, "gram")
                 .withColumn("rn", F.row_number().over(w1))
                 .filter(F.col("rn") <= d + 1)
                 .select("id", "len", "gram")
                 .transform(materialize))
        # min-length < q*(d+1) keeps this tier disjoint from the long
        # tier (pairs of two longs are its job); the length filter
        # composes as in the long tier
        tiers.append(_pair_self_join(
            pref1, d, est_bytes=cnt.n_mid * (d + 1) * 46,
            extra_filter=F.least("len_a", "len_b") < q * (d + 1)))

    if cnt.n_tiny:
        tiny = base.filter(F.col("len") <= d)
        probe = tiny.select(
            F.col("id").alias("id_s"),
            F.explode(F.sequence(F.col("len"), F.col("len") + d))
            .alias("len"))
        tgt = base.select(F.col("id").alias("id_t"), "len")
        # tiny-tiny pairs are produced once from each side's length
        # probe, so this tier needs its own dedup; it is bounded
        # (≤ sum_{l<=d} |alphabet|^l distinct tiny values), so the
        # exchange is trivial
        tiers.append(probe.join(tgt, "len")
                     .filter(F.col("id_s") != F.col("id_t"))
                     .select(F.least("id_s", "id_t").alias("id_a"),
                             F.greatest("id_s", "id_t").alias("id_b"))
                     .distinct())

    if not tiers:  # empty input (or all-null strings): no candidates
        return base.select(F.col("id").alias("id_a"),
                           F.col("id").alias("id_b")).limit(0)
    out = tiers[0]
    for t in tiers[1:]:
        out = out.unionByName(t)
    # r13 (optimization): each tier is deduplicated on its own (the
    # long/mid tiers exchange-free under the broadcast budget, see
    # _pair_self_join), and the tiers are pairwise DISJOINT by
    # min-length class — long: both len >= q(d+1); mid: min len in
    # [d+1, q(d+1)) (the explicit least() filter); tiny: min len <= d
    # (a tiny probe's partner is at most 2d < q(d+1) long, so no
    # long-tier pair recurs, and mid requires both >= d+1, so no tiny
    # pair does) — so their union is globally duplicate-free and the
    # old trailing global distinct (one full exchange of ALL tiers'
    # pairs) is gone
    return out


def edit_distance_pairs(df: DataFrame, id_col: str, str_col: str, *,
                        max_dist: int = 2, q: int = 2) -> DataFrame:
    """All (id_a, id_b, dist) pairs with id_a < id_b and
    levenshtein(str_a, str_b) <= max_dist. Exact (recall pinned
    against brute force in tests/test_edjoin.py).

    DEDUPE-FIRST: the prefix join and the DP verify run over DISTINCT
    string values only (one representative per value), and the result
    expands back through the duplicate groups — within-group pairs are
    dist 0 by identity, cross-group pairs inherit their
    representatives' distance. On duplicate-heavy tables (real catalog
    data; the part fixture is 20k rows / 8.4k values at sf0.1) this
    shrinks the quadratic-prone candidate stage by the square of the
    duplication factor while the expansion stays output-bound
    (measured: 30.1M -> 5.1M candidates at sf0.1, edjoin_study.tsv).

    ``q`` trades prefix length (q*max_dist + 1 grams per string)
    against gram selectivity; q=2 suits short names, q>=3 longer
    strings with a larger alphabet.
    """
    # r13 (optimization): members and reps are materialized once
    # (localCheckpoint) — the raw table is scanned ONCE instead of in
    # every one of the five subtrees that referenced it (candidates,
    # verify a/b sides, expansion a/b sides), and the candidate output
    # is materialized before the verify/expansion joins. Without the
    # truncation Catalyst re-optimizes the whole duplicated tree and
    # AQE re-plans it at every stage boundary — measured ~10 s of
    # driver rule time per run at sf0.1 (guide §3.3 / §7.3); with it
    # the verify+expansion plan is three joins over materialized
    # leaves. Output is bitwise unchanged (symdiff 0 at sf0.1).
    base = _base(df, id_col, str_col)
    members = base.select("id", "s").transform(materialize)
    reps = (members.groupBy("s").agg(F.min("id").alias("id"))
            .transform(materialize))

    cand = edit_distance_candidates(reps, "id", "s",
                                    max_dist=max_dist, q=q).transform(materialize)

    # --- verify (representatives only): banded DP, exact distance ------
    sa = reps.select(F.col("id").alias("id_a"), F.col("s").alias("s_a"))
    sb = reps.select(F.col("id").alias("id_b"), F.col("s").alias("s_b"))
    # threshold form = banded DP with early exit (returns -1 past the
    # band), O(d·|s|) per candidate instead of O(|s_a|·|s_b|); kept
    # pairs carry the exact distance, so the bitwise oracle is
    # unaffected (the module docstring's contract, wired r7)
    rep_pairs = (cand.join(sa, "id_a").join(sb, "id_b")
                 .withColumn("dist",
                             F.levenshtein("s_a", "s_b", max_dist))
                 .filter(F.col("dist") >= 0)
                 .select("s_a", "s_b", "dist"))

    # --- expand through duplicate groups (output-bound) ----------------
    ma = members.select(F.col("id").alias("ia"), F.col("s").alias("s_a"))
    mb = members.select(F.col("id").alias("ib"), F.col("s").alias("s_b"))
    cross = (rep_pairs.join(ma, "s_a").join(mb, "s_b")
             .select(F.least("ia", "ib").alias("id_a"),
                     F.greatest("ia", "ib").alias("id_b"), "dist"))
    within = (ma.join(mb, F.col("s_a") == F.col("s_b"))
              .filter(F.col("ia") < F.col("ib"))
              .select(F.col("ia").alias("id_a"),
                      F.col("ib").alias("id_b"),
                      F.lit(0).cast("int").alias("dist")))
    return cross.unionByName(within)
