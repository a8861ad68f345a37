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
