"""Exact-substring duplicate detection (Lee et al. 2021, "Deduplicating
Training Data Makes Language Models Better", the ExactSubstr dedup):
find document pairs sharing a contiguous run of >= min_overlap tokens.

The paper builds a single suffix array over the whole corpus — a
fundamentally single-machine index. The distributed re-expression is
rolling-hash window matching with the classic diagonal trick:

  1. hash every k-token window with a Horner polynomial rolling hash —
     row-shaped (posexplode + k-1 LEADs over the per-doc window), one
     bounded-group shuffle on doc_id, no UDF (see window_hash_rows for
     why the array formulation is a Catalyst recompute trap);
  2. self-join window hashes (banded by the 31-bit hash value — the one
     shuffle; never all-pairs on documents);
  3. matched positions (pa, pb) with the same diagonal d = pb - pa and
     consecutive pa form one contiguous shared run (gaps-and-islands on
     pa within each (pair, d) group);
  4. candidate runs long enough to matter are verified EXACTLY by
     comparing the actual token slices of the two documents — hash
     collisions cost candidate rows, never correctness.

Scale posture (100 TB): step 2's shuffle carries (doc_id, pos, hash) —
three ints per token, a fixed small multiple of the tokenized corpus,
hash-partitioned with no skew by construction (the hash is uniform).
Boilerplate windows (license headers, nav bars) appearing in thousands
of documents would quadratically explode the join, so ``max_df`` drops
window hashes seen in more than that many documents first — the same
stop-shingle guard the MinHash path uses, and standard practice in
suffix-array dedup deployments. Verification joins token arrays only
for documents that appear in a surviving candidate run.

Reference analog: the reference has no substring dedup — this is part
of the §2.3 training-data extension surface (SURVEY.md §2.3), like
operators/decontam.py. Constants are shared verbatim with the DuckDB
oracle (queries/substr.py) so BIGINT Horner arithmetic agrees bitwise.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from myhadoop_spark.functions.text import hash_bucket, tokens
from myhadoop_spark.materialize import materialize

# Horner rolling-hash constants. Token hashes are first reduced mod M
# (31-bit, hash_bucket) so the accumulator stays < M and acc*B + t <
# 2^31 * 1e6 + 2^31 ~ 2.1e15 << 2^63: no interim overflow, and the
# oracle's no-initializer list_reduce (whose first step is the bare
# first element) and the zero-init F.aggregate agree bitwise.
K_WINDOW = 8  # tokens per window
HASH_B = 1_000_003
HASH_M = 2_147_483_647
MIN_OVERLAP = 20  # tokens; a surviving run is >= this long


def token_hash_mod2(tok: Column, hash_m: int = HASH_M) -> Column:
    """Second independent token hash (disjoint md5 hex range) for the
    wide-hash banding variant."""
    return (F.conv(F.substring(F.md5(tok), 17, 8), 16, 10).cast("long")
            % F.lit(hash_m))


def window_hash_rows(docs: DataFrame, k: int = K_WINDOW, *,
                     hash_m: int = HASH_M,
                     wide: bool = False) -> DataFrame:
    """(doc_id, pos, wh[, wh2]): the Horner hash of the k-token window
    starting at each 1-based token position. ``wide=True`` adds a
    second independent Horner hash (wh2) so the banded join can key on
    the pair — an effective ~62-bit space for the large-corpus posture
    where 31 bits saturate (~n²/2³¹ collision candidate rows at
    corpus-scale window counts); both folds stay inside the documented
    BIGINT overflow margin. Collisions cost candidate rows only —
    correctness is the verify step's job either way.

    Deliberately ROW-shaped, not array-shaped: an array formulation
    (transform(sequence, i -> aggregate(slice(thm, i, k), ...)) over a
    thm column) reads naturally but is a Catalyst trap — CollapseProject
    inlines single-use column references into the lambda, so the whole
    token-hash array is re-evaluated per position and the per-doc cost
    goes O(n²·k) with ~50 md5s recomputed per window (measured: 33 s for
    236k windows at sf0.1; this form: sub-second). Here each token is
    md5-hashed exactly once on its own row, and the window hash folds
    k-1 LEAD()s over the per-document window — one window pass, one
    shuffle on doc_id (bounded rows per doc), all codegen."""
    cols = ["doc_id", (F.col("pos0") + 1).alias("pos"),
            hash_bucket(F.col("tok"), hash_m).alias("th")]
    if wide:
        cols.append(token_hash_mod2(F.col("tok"), hash_m).alias("th2"))
    tok_rows = docs.select(
        "doc_id", F.posexplode(tokens()).alias("pos0", "tok")
    ).select(*cols)
    w = Window.partitionBy("doc_id").orderBy("pos")
    h = F.col("th")
    for j in range(1, k):
        # null LEAD past the end propagates → incomplete windows drop
        h = (h * F.lit(HASH_B) + F.lead("th", j).over(w)) % F.lit(hash_m)
    out = tok_rows.withColumn("wh", h)
    keep = ["doc_id", "pos", "wh"]
    if wide:
        h2 = F.col("th2")
        for j in range(1, k):
            h2 = (h2 * F.lit(HASH_B) + F.lead("th2", j).over(w)) \
                % F.lit(hash_m)
        out = out.withColumn("wh2", h2)
        keep.append("wh2")
    return out.filter(F.col("wh").isNotNull()).select(*keep)


def _verified_runs(m: DataFrame, base_a: DataFrame, base_b: DataFrame,
                   k: int, min_run: int) -> DataFrame:
    """Matched window positions → EXACTLY-VERIFIED contiguous runs:
    (doc_a, doc_b, d, pa_start, run_len). ``m`` carries
    (doc_a, doc_b, pa, d); ``base_*`` carry the token arrays keyed
    doc_a / doc_b.

    Verification is per-window, folded in ONE pass per candidate
    island: each window position gets an exact token-slice verdict,
    and a higher-order aggregate extracts the maximal verified
    sub-runs >= min_run. A clean island (the overwhelmingly common
    case — its every verdict true) yields itself; an island polluted
    by a hash-colliding window adjacent on a genuine run's diagonal
    yields its genuine sub-runs instead of being dropped whole (the
    r4 all-or-nothing slice compare's failure mode). Consecutive
    verified k-windows overlap by k-1 tokens, so a folded run is
    exact by construction. Correctness is therefore independent of
    hash width; hash quality only buys fewer candidate rows. The fold
    form deliberately avoids a good/polluted two-branch plan: both
    branches of a union re-execute the whole window-hash join tree
    (Catalyst shares no logical subtrees across union arms — measured
    1.7x on the gate query), while the fold is one projection on the
    single tree."""
    # gaps-and-islands: within a (pair, diagonal) group, consecutive pa
    # values share pa - row_number(), so each island is one contiguous run
    w = Window.partitionBy("doc_a", "doc_b", "d").orderBy("pa")
    runs = (m.withColumn("grp", F.col("pa") - F.row_number().over(w))
            .groupBy("doc_a", "doc_b", "d", "grp")
            .agg(F.count(F.lit(1)).alias("run_len"),
                 F.min("pa").alias("pa_start"))
            .filter(F.col("run_len") >= min_run))

    joined = runs.join(base_a, "doc_a").join(base_b, "doc_b")
    # per-window verdicts across the island: ok(pa) = exact equality of
    # the k-token slices (toks_* are join-output attributes, evaluated
    # once per row — not the CollapseProject recompute trap above)
    verdicts = F.transform(
        F.sequence(F.col("pa_start"),
                   F.col("pa_start") + F.col("run_len") - 1),
        lambda pa: F.struct(
            pa.alias("pa"),
            (F.slice(F.col("toks_a"), pa.cast("int"), k)
             == F.slice(F.col("toks_b"), (pa + F.col("d")).cast("int"), k))
            .alias("ok")))
    acc_t = "struct<s:bigint,l:bigint,runs:array<struct<s:bigint,l:bigint>>>"
    init = F.expr(f"CAST(named_struct('s', CAST(NULL AS BIGINT), 'l', "
                  f"CAST(0 AS BIGINT), 'runs', array()) AS {acc_t})")

    def _step(acc, x):
        flushed = F.when(
            acc["l"] >= F.lit(min_run),
            F.array_append(acc["runs"],
                           F.struct(acc["s"].alias("s"),
                                    acc["l"].alias("l")))).otherwise(acc["runs"])
        return (F.when(x["ok"],
                       F.struct(F.coalesce(acc["s"], x["pa"]).alias("s"),
                                (acc["l"] + 1).alias("l"),
                                acc["runs"].alias("runs")))
                .otherwise(F.struct(F.lit(None).cast("bigint").alias("s"),
                                    F.lit(0).cast("bigint").alias("l"),
                                    flushed.alias("runs"))))

    def _finish(acc):
        return F.when(
            acc["l"] >= F.lit(min_run),
            F.array_append(acc["runs"],
                           F.struct(acc["s"].alias("s"),
                                    acc["l"].alias("l")))).otherwise(acc["runs"])

    final_runs = F.aggregate(verdicts, init, _step, _finish)
    return (joined.select("doc_a", "doc_b", "d",
                          F.explode(final_runs).alias("r"))
            .select("doc_a", "doc_b", "d",
                    F.col("r.s").alias("pa_start"),
                    F.col("r.l").alias("run_len")))


def _verified_overlaps(m: DataFrame, base_a: DataFrame, base_b: DataFrame,
                       k: int, min_run: int) -> DataFrame:
    """Verified runs aggregated per pair: (doc_a, doc_b,
    overlap_tokens, n_runs)."""
    return (_verified_runs(m, base_a, base_b, k, min_run)
            .groupBy("doc_a", "doc_b")
            .agg((F.max("run_len") + F.lit(k - 1)).cast("bigint")
                 .alias("overlap_tokens"),
                 F.count(F.lit(1)).alias("n_runs")))


def _drop_hot_windows(wf: DataFrame, max_df: int) -> DataFrame:
    hot = (wf.groupBy("wh")
           .agg(F.countDistinct("doc_id").alias("df"))
           .filter(F.col("df") > max_df)
           .select("wh"))
    return wf.join(hot, "wh", "left_anti")


def substring_pairs(docs: DataFrame, *, k: int = K_WINDOW,
                    min_overlap: int = MIN_OVERLAP,
                    max_df: int | None = None,
                    hash_m: int = HASH_M,
                    wide_hash: bool = False) -> DataFrame:
    """(doc_a, doc_b, overlap_tokens, n_runs) for every pair of documents
    sharing at least one EXACT contiguous run of >= min_overlap tokens.

    overlap_tokens is the longest verified shared run; n_runs counts the
    distinct qualifying runs. Pairs are ordered doc_a < doc_b. ``docs``
    needs (doc_id, text). ``wide_hash=True`` bands on two independent
    window hashes (~62-bit) — the large-corpus posture where a 31-bit
    space would saturate with collision candidates; results are
    identical either way (verification is exact), only the candidate
    volume changes.
    """
    min_run = min_overlap - k + 1  # windows in a qualifying run
    base = docs.select("doc_id", tokens().alias("toks"))
    wf = window_hash_rows(docs, k, hash_m=hash_m, wide=wide_hash)
    if max_df is not None:
        wf = _drop_hot_windows(wf, max_df)

    keys = ["wh", "wh2"] if wide_hash else ["wh"]
    a = wf.select(F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"),
                  *keys)
    b = wf.select(F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"),
                  *keys)
    m = (a.join(b, keys)
         .filter(F.col("doc_a") < F.col("doc_b"))
         .select("doc_a", "doc_b", "pa", (F.col("pb") - F.col("pa")).alias("d")))

    ta = base.select(F.col("doc_id").alias("doc_a"),
                     F.col("toks").alias("toks_a"))
    tb = base.select(F.col("doc_id").alias("doc_b"),
                     F.col("toks").alias("toks_b"))
    return _verified_overlaps(m, ta, tb, k, min_run)


def substring_decontam(corpus: DataFrame, bench: DataFrame, *,
                       k: int = K_WINDOW, min_overlap: int = MIN_OVERLAP,
                       max_df: int | None = None,
                       broadcast_bench: bool = True,
                       hash_m: int = HASH_M,
                       wide_hash: bool = False) -> DataFrame:
    """(corpus_id, bench_id, overlap_tokens, n_runs): corpus documents
    containing a VERBATIM run of >= min_overlap tokens from a benchmark
    document — the exact-substring decontamination criterion (Lee et
    al. 2021 run suffix-array ExactSubstr for this; the shingle-count
    operator operators/decontam.py flags n-gram OVERLAP SETS, this one
    proves contiguous copying, the stronger evidence).

    Scale shape: the window table of the benchmark side is tiny (eval
    sets vs a 100 TB corpus) and broadcasts, so the corpus-side window
    stream joins with NO shuffle of corpus windows in the broadcast
    regime; `broadcast_bench=False` falls back to a hash join for
    corpus-vs-corpus audits. max_df prunes boilerplate windows on the
    CORPUS side before the join. wide_hash doubles the banding key
    width for the large-corpus posture (see substring_pairs)."""
    min_run = min_overlap - k + 1
    m = _bench_matches(corpus, bench, k, max_df, broadcast_bench,
                       hash_m, wide_hash)

    ta = corpus.select(F.col("doc_id").alias("doc_a"),
                       tokens().alias("toks_a"))
    tb = bench.select(F.col("doc_id").alias("doc_b"),
                      tokens().alias("toks_b"))
    return (_verified_overlaps(m, ta, tb, k, min_run)
            .select(F.col("doc_a").alias("corpus_id"),
                    F.col("doc_b").alias("bench_id"),
                    "overlap_tokens", "n_runs"))


def _bench_matches(corpus: DataFrame, bench: DataFrame, k: int,
                   max_df: int | None, broadcast_bench: bool,
                   hash_m: int, wide_hash: bool) -> DataFrame:
    """Shared corpus-vs-bench window-hash match table:
    (doc_a=corpus, doc_b=bench, pa, d)."""
    cw = window_hash_rows(corpus, k, hash_m=hash_m, wide=wide_hash)
    if max_df is not None:
        cw = _drop_hot_windows(cw, max_df)
    bw = window_hash_rows(bench, k, hash_m=hash_m, wide=wide_hash)

    keys = ["wh", "wh2"] if wide_hash else ["wh"]
    a = cw.select(F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"),
                  *keys)
    b = bw.select(F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"),
                  *keys)
    if broadcast_bench:
        b = F.broadcast(b)
    return (a.join(b, keys)
            .select("doc_a", "doc_b", "pa",
                    (F.col("pb") - F.col("pa")).alias("d")))


def remove_overlap_spans(corpus: DataFrame, bench: DataFrame, *,
                         k: int = K_WINDOW, min_overlap: int = MIN_OVERLAP,
                         max_df: int | None = None,
                         broadcast_bench: bool = True,
                         passes: int = 1,
                         hash_m: int = HASH_M,
                         wide_hash: bool = False) -> DataFrame:
    """Span-level decontamination surgery: instead of DROPPING a
    contaminated document, cut the verbatim benchmark runs out of it
    (the remedy Lee et al. 2021 apply with their suffix array) —
    (doc_id, text, n_tokens_removed), every corpus document present.
    Documents with NOTHING to remove pass through BYTE-IDENTICAL
    (original whitespace included — the rebuild is restricted to
    contaminated documents via a semi-join on the flagged positions);
    contaminated documents are re-assembled from their kept token
    stream with single spaces (token-stream, not byte, preservation —
    the tokenizer is the corpus-wide whitespace convention).

    Mechanics: verified runs (the substring_decontam machinery) expand
    to the exact token positions they cover; contaminated documents
    re-tokenize to (doc, pos, tok) rows, drop flagged positions with
    one anti-join, and re-assemble per document with an
    order-preserving sorted collect. Overlapping spans from several
    benchmark documents union cleanly (positions are DISTINCT before
    the anti-join).

    ``passes``: removal can butt two previously-separated fragments
    against each other, and the SEAM can itself form a new
    >= min_overlap run with the benchmark. Each pass re-detects on the
    previous pass's output; n_tokens_removed accumulates. passes=2
    closes the adversarial seam construction
    (tests/test_substring.py::test_seam_second_pass_converges);
    removal shrinks documents monotonically, so the iteration
    converges in at most len/min_overlap passes in the worst case.

    Scale: positions explode is bounded by (runs x span length) —
    contaminated text only; the anti-join and rebuild shuffle only the
    CONTAMINATED documents' tokens on doc_id, a subset of what the
    window hashing already shuffles."""
    out = _remove_pass(corpus, bench, k=k, min_overlap=min_overlap,
                       max_df=max_df, broadcast_bench=broadcast_bench,
                       hash_m=hash_m, wide_hash=wide_hash)
    for _ in range(1, passes):
        # materialize between passes: pass N's detect would otherwise
        # re-execute every prior pass's join tree
        prev = out.transform(materialize)
        # only documents a prior pass CUT can have grown a new seam —
        # untouched text was already fully processed against this very
        # benchmark, so later passes re-detect on the (tiny)
        # contaminated subset only
        changed = prev.filter(F.col("n_tokens_removed") > 0)
        nxt = _remove_pass(changed.select("doc_id", "text"), bench, k=k,
                           min_overlap=min_overlap, max_df=max_df,
                           broadcast_bench=broadcast_bench,
                           hash_m=hash_m, wide_hash=wide_hash)
        out = (nxt.withColumnRenamed("n_tokens_removed", "_new")
               .join(changed.select("doc_id",
                                    F.col("n_tokens_removed")
                                    .alias("_prev")),
                     "doc_id")
               .select("doc_id", "text",
                       (F.col("_new") + F.col("_prev"))
                       .alias("n_tokens_removed"))
               .unionByName(prev.filter(F.col("n_tokens_removed") == 0)))
    return out


def _remove_pass(corpus: DataFrame, bench: DataFrame, *, k: int,
                 min_overlap: int, max_df: int | None,
                 broadcast_bench: bool, hash_m: int,
                 wide_hash: bool) -> DataFrame:
    """One detect+remove pass of remove_overlap_spans."""
    min_run = min_overlap - k + 1
    m = _bench_matches(corpus, bench, k, max_df, broadcast_bench,
                       hash_m, wide_hash)
    ta = corpus.select(F.col("doc_id").alias("doc_a"),
                       tokens().alias("toks_a"))
    tb = bench.select(F.col("doc_id").alias("doc_b"),
                      tokens().alias("toks_b"))
    runs = _verified_runs(m, ta, tb, k, min_run)

    drop_pos = (runs.select(
        F.col("doc_a").alias("doc_id"),
        F.explode(F.sequence(
            F.col("pa_start"),
            F.col("pa_start") + F.col("run_len") + F.lit(k - 2))).alias("pos"))
        .distinct())
    affected = drop_pos.select("doc_id").distinct()

    # rebuild ONLY the contaminated documents; everything else passes
    # through byte-identical below
    tok_rows = (corpus.join(affected, "doc_id")
                .select("doc_id", F.posexplode(tokens()).alias("pos0", "tok"))
                .select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok"))
    kept = tok_rows.join(drop_pos, ["doc_id", "pos"], "left_anti")
    rebuilt = (kept.groupBy("doc_id")
               .agg(F.array_join(
                   F.transform(
                       F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                       lambda s: s["tok"]),
                   " ").alias("_clean"),
                   F.count(F.lit(1)).alias("_n_kept")))

    # a fully-excised document has no kept rows → no rebuilt row → the
    # affected flag (not rebuilt presence) decides between "" and the
    # original text
    return (corpus
            .join(affected.withColumn("_aff", F.lit(True)), "doc_id", "left")
            .join(rebuilt, "doc_id", "left")
            .select("doc_id",
                    F.when(F.col("_aff"),
                           F.coalesce(F.col("_clean"), F.lit("")))
                    .otherwise(F.col("text")).alias("text"),
                    F.when(F.col("_aff"),
                           F.size(tokens())
                           - F.coalesce(F.col("_n_kept"), F.lit(0)))
                    .otherwise(F.lit(0))
                    .cast("bigint").alias("n_tokens_removed")))
