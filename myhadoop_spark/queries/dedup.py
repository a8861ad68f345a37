"""Deduplication operators over ``documents`` (SURVEY.md §2.3 extension).

Three tiers, each a `queries()` entry with a DuckDB oracle:
  dedup_exact    exact row dedup (dropDuplicates) + content-hash
                 keep-one annotation (md5 groupBy) in one battery
  dedup_minhash  MinHash-LSH near-dup candidate pairs + Jaccard verify
  simhash        32-bit SimHash fingerprint per document

Scale design (100 TB): every stage is shuffle-on-key —
  * exact/content dedup shuffle once on the content hash;
  * MinHash shuffles (doc, token) pairs, then (band, band_signature) —
    candidate pairs are generated per LSH bucket, never via cross join;
  * the Jaccard verify joins only candidate pairs against token sets.
The hash family is deterministic (md5-derived token hashes + fixed affine
functions) so results are engine- and partitioning-independent — that is
what makes a SQL oracle possible at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from myhadoop_spark.catalog import load
from myhadoop_spark.registry import register
from myhadoop_spark.materialize import materialize

# fixed affine hash family h_i(x) = (a_i * x + b_i) mod P over md5-derived
# 32-bit token hashes; 16 functions = 4 bands × 4 rows
MINHASH_P = 2_147_483_647
_A = (3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47, 53, 59)
_B = (7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47, 53, 59, 61, 67)
MINHASH_FAM = [(i, _A[i], _B[i]) for i in range(16)]
MINHASH_BAND_ROWS = 4
JACCARD_THRESHOLD = 0.5

_TOKS = r"list_filter(string_split_regex(text, '\s+'), t -> t <> '')"
_DOUBLED = "(SELECT * FROM documents UNION ALL SELECT * FROM documents)"


def _token_sets(spark: SparkSession, sf_dir: str,
                wide: bool = False, docs: DataFrame | None = None) -> DataFrame:
    """doc_id → distinct token array (sorted for determinism).

    wide=True repartitions the scan to the default parallelism BEFORE
    the per-row tokenize/hash work. The fixture is one small parquet
    file with a single row group — one input split — so without this
    every downstream per-document expression (md5 per token, minhash
    folds) runs on ONE core. Real multi-file data gets this parallelism
    from the scan itself; the repartition moves only the bytes a real
    scan would read per split (measured: minhash signature build 4×
    faster at sf0.1).

    `docs` overrides the fixture scan with any (doc_id, text) frame —
    the scale-rehearsal path (scripts/dedup_scaling.py feeds the
    synthetic source through the identical pipeline)."""
    if docs is None:
        docs = load(spark, sf_dir, "documents")
    if wide:
        docs = docs.repartition(spark.sparkContext.defaultParallelism)
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != F.lit(""))
    return docs.select(
        "doc_id", F.array_sort(F.array_distinct(toks)).alias("toks"))


def _hashed_token_sets(spark: SparkSession, sf_dir: str,
                       wide: bool = False,
                       docs: DataFrame | None = None) -> DataFrame:
    """doc_id → sorted distinct md5-derived 32-bit token hashes. The
    Jaccard verify runs over these int sets instead of string arrays:
    the 6M-pair verify join shuffles ~5× fewer bytes and intersects
    primitive ints. Hash collisions are deterministic and mirrored in
    the oracle, so results stay engine-identical."""
    sets = _token_sets(spark, sf_dir, wide=wide, docs=docs)
    return sets.select(
        "doc_id",
        F.array_sort(F.array_distinct(F.transform(
            "toks",
            lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"),
        ))).alias("toks"))


# ---------------------------------------------------------------------------
# exact dedup — SURVEY.md §2.4 #14
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle=f"""
    WITH d AS (SELECT DISTINCT doc_id, text, lang, source, n_chars
               FROM {_DOUBLED}),
    c AS (SELECT md5(text) AS content_hash,
                 MIN(doc_id) AS keep_id,
                 COUNT(*) AS n_copies
          FROM {_DOUBLED}
          GROUP BY md5(text))
    SELECT d.doc_id, d.lang, d.source, d.n_chars,
           c.content_hash, c.keep_id, c.n_copies
    FROM d JOIN c ON md5(d.text) = c.content_hash
    """,
    gate=False,  # demoted r13 — the md5 keep-min-id stage is stage 2 of
    #              the gated corpus_prep, and keep-one-per-component is
    #              pinned by the gated dedup_clusters + media_dedup;
    #              still a full ungated differential
    tags=("dedup", "extension"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup battery over a deliberately doubled copy of documents:
    dropDuplicates() must return exactly the original rows, and each
    survivor is annotated with its content-hash group (md5(text) →
    smallest keep_id + pre-dedup copy count) — the keep-one pattern that
    scales to 100 TB because the payload never moves, only (hash, id).
    The aggregate side carries no text column into its shuffle; the
    rejoin is on the 32-char hash."""
    docs = load(spark, sf_dir, "documents")
    doubled = docs.unionAll(docs)
    distinct_rows = doubled.dropDuplicates().withColumn(
        "content_hash", F.md5("text"))
    groups = (
        doubled.select(F.md5("text").alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_id"),
             F.count(F.lit(1)).alias("n_copies"))
    )
    return distinct_rows.join(groups, "content_hash").select(
        "doc_id", "lang", "source", "n_chars",
        "content_hash", "keep_id", "n_copies",
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------


def minhash_signatures(spark: SparkSession, sf_dir: str,
                       sets: DataFrame | None = None) -> DataFrame:
    """doc_id, band, band_sig — LSH band signatures from 16 minhashes.

    Computed as a zero-shuffle narrow fold (same discipline as simhash):
    per document, one higher-order expression evaluates all 16 affine
    minhashes over the hashed token set and packs them into 4 band
    signatures; posexplode emits the 4 (band, sig) rows. No token
    explode, no hash-family join, no groupBy — the first shuffle in the
    whole dedup pipeline is the band-bucket candidate join itself.

    Token-less documents are excluded (mirrors the oracle, where a doc
    with no tokens contributes no hash rows). Callers that also need
    the hashed token sets (the Jaccard verify) pass them in via `sets`
    so the tokenize+hash work is shared instead of recomputed."""
    if sets is None:
        sets = _hashed_token_sets(spark, sf_dir)
    sets = sets.filter(F.size("toks") > 0)
    # each minhash fold appears EXACTLY ONCE, unrolled into its band's
    # array_join — the previous form built a sigs array and sliced it
    # per band, and since sigs was a single-use expression,
    # CollapseProject inlined it into the per-band lambda: the whole
    # 16-fold signature computation re-evaluated once PER BAND (4x the
    # minhash work; the r4 recompute-trap family, see
    # operators/substring.py::window_hash_rows)
    def _mh_fold(i: int):
        _, a, b = MINHASH_FAM[i]
        return F.aggregate(
            F.col("toks"),
            F.lit(MINHASH_P).cast("long"),
            lambda acc, th: F.least(
                acc, (F.lit(a) * th + F.lit(b)) % MINHASH_P))

    n_bands = len(MINHASH_FAM) // MINHASH_BAND_ROWS
    band_sigs = F.array(*[
        F.array_join(
            F.array(*[_mh_fold(b * MINHASH_BAND_ROWS + r).cast("string")
                      for r in range(MINHASH_BAND_ROWS)]),
            ",")
        for b in range(n_bands)])
    return sets.select(
        "doc_id", F.posexplode(band_sigs).alias("band", "band_sig"))


@register(
    "dedup_minhash",
    oracle=f"""
    WITH sets AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    th AS (SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS th
           FROM (SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM sets)),
    fam AS (SELECT * FROM (VALUES {', '.join(f'({i}, {a}, {b})' for i, a, b in MINHASH_FAM)})
            AS f(i, a, b)),
    sig AS (SELECT doc_id, i, i // {MINHASH_BAND_ROWS} AS band,
                   MIN((a * th + b) % {MINHASH_P}) AS mh
            FROM th CROSS JOIN fam GROUP BY doc_id, i),
    bsig AS (SELECT doc_id, band,
                    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS band_sig
             FROM sig GROUP BY doc_id, band),
    cand AS (SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
             FROM bsig x JOIN bsig y
               ON x.band = y.band AND x.band_sig = y.band_sig
              AND x.doc_id < y.doc_id),
    ds AS (SELECT doc_id, list_sort(list_distinct(list(th))) AS s
           FROM th GROUP BY doc_id),
    j AS (SELECT doc1, doc2,
                 CAST(len(list_intersect(s1.s, s2.s)) AS DOUBLE) AS inter,
                 CAST(len(s1.s) + len(s2.s) AS DOUBLE) AS tot
          FROM cand JOIN ds s1 ON doc1 = s1.doc_id JOIN ds s2 ON doc2 = s2.doc_id)
    SELECT doc1, doc2, inter / (tot - inter) AS jaccard
    FROM j WHERE inter / (tot - inter) >= {JACCARD_THRESHOLD}
    """,
    gate=False,  # demoted r12 — band machinery + verify subsumed by the
    #              gated signature_neardup and the promoted fuzzy_decontam
    tags=("dedup", "extension", "lsh"),
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs: 16 minhashes → 4 bands × 4 rows →
    candidate pairs per identical band signature → exact Jaccard ≥ 0.5
    verify. No cross join anywhere: candidates come from the band-bucket
    self-join, verification touches candidates only.

    The hashed token sets are built WIDE (see _token_sets) and
    materialized once (inside minhash_pairs) because both the signature
    branch and the verify branch need them — Catalyst has no common
    subtree sharing across joins, so without the checkpoint the
    tokenize+md5 work runs twice — and on ONE core (single-split
    fixture file). Measured r2 at sf0.1: 12.5 s → 3.8 s warm."""
    return minhash_pairs(spark, _hashed_token_sets(spark, sf_dir, wide=True))


def minhash_pairs(spark: SparkSession, sets: DataFrame) -> DataFrame:
    """The band-join + Jaccard-verify core over prepared hashed token
    sets — shared by the fixture gate query above and the synthetic
    scale rehearsal (scripts/dedup_scaling.py). `sets` should be wide;
    it is materialized here, once, because both branches consume it,
    and that checkpoint job also observes its row count.

    r14 (optimization, guide §2.4/§3.1 — the r13 edjoin/ppjoin shape
    applied to the band self-join, VERDICT r13 #4): a candidate pair is
    emitted once per agreeing band (≤ n_bands× duplication), so the
    trailing global ``distinct`` shuffled the candidate MULTISET. Under
    a 48 MB budget (estimated from the row count observed on the
    ``sets`` checkpoint) the band table is materialized once, its
    build side broadcast, and the stream side hash-partitioned by doc1:
    every duplicate of a pair originates from the stream doc's own band
    rows, so ``HashPartitioning(doc1)`` satisfies the dedup aggregate's
    ``ClusteredDistribution(doc1, doc2)`` and the distinct plans with
    NO exchange above the join (pinned in
    tests/test_dedup_invariants.py). Past
    the budget — the 100 TB corpus — the audited hash-partitioned join
    + global distinct stands unchanged; both paths dedup identically."""
    n_sets = Observation()
    sets = sets.observe(n_sets, F.count(F.lit(1)).alias("n")).transform(
        materialize)
    bands = minhash_signatures(spark, "", sets=sets)
    n_bands = len(MINHASH_FAM) // MINHASH_BAND_ROWS
    # ≤ 11 chars per minhash (int32-ish decimal) + commas, 8-byte id,
    # ~46 bytes hashed-relation overhead per row (the edjoin estimate)
    est_bytes = (n_sets.get["n"] * n_bands
                 * (8 + 12 * MINHASH_BAND_ROWS + 46))
    if est_bytes < (48 << 20):
        bands = bands.transform(materialize)
        par = spark.sparkContext.defaultParallelism
        left = (bands.repartition(par, "doc_id")
                .select(F.col("doc_id").alias("doc1"), "band", "band_sig"))
        right = F.broadcast(bands.select(F.col("doc_id").alias("doc2"),
                                         "band", "band_sig"))
    else:
        left = bands.select(F.col("doc_id").alias("doc1"), "band",
                            "band_sig")
        right = bands.select(F.col("doc_id").alias("doc2"), "band",
                             "band_sig")
    cand = (
        left.join(right, ["band", "band_sig"])
        .filter(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2")
        .distinct()
    )
    s1 = sets.select(F.col("doc_id").alias("doc1"), F.col("toks").alias("s1"))
    s2 = sets.select(F.col("doc_id").alias("doc2"), F.col("toks").alias("s2"))
    inter = F.size(F.array_intersect("s1", "s2")).cast("double")
    tot = (F.size("s1") + F.size("s2")).cast("double")
    # pin the verify join wide: candidate pairs are small in BYTES but
    # each costs an int-set intersect — AQE's size-based coalescing
    # must not serialize this stage (see ngram_jaccard / embed_neardup)
    par = spark.sparkContext.defaultParallelism
    jac = (
        cand.repartition(par, "doc1")
        .join(s1, "doc1").join(s2, "doc2")
        .select("doc1", "doc2", (inter / (tot - inter)).alias("jaccard"))
    )
    return jac.filter(F.col("jaccard") >= JACCARD_THRESHOLD)


# ---------------------------------------------------------------------------
# SimHash fingerprint
# ---------------------------------------------------------------------------


@register(
    "simhash",
    oracle=f"""
    WITH th AS (SELECT DISTINCT doc_id,
                       CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS th
                FROM (SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok
                      FROM documents)),
    bits AS (SELECT doc_id, j,
                    SUM(CASE WHEN (th >> j) & 1 = 1 THEN 1 ELSE -1 END) AS vote
             FROM th CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS j)
             GROUP BY doc_id, j)
    SELECT doc_id,
           CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << j)
                         ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
    gate=False,  # demoted r12 — stage one of the promoted simhash_neardup
    #              (its oracle embeds this one as a CTE)
    tags=("dedup", "extension"),
)
def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document: each distinct token votes ±1 on every
    bit of its md5-derived hash; bit j of the fingerprint is 1 iff the
    vote is positive.

    Perf: computed entirely inside one narrow projection — a
    higher-order fold builds the 32-slot vote vector per document
    (aggregate over token hashes × zip_with over bit slots), then a
    second fold packs the sign bits. No explode, no shuffle at all;
    the operator is embarrassingly parallel at any scale.

    The bit test zips against a LITERAL array of 2^j masks and uses
    bitwiseAND — one AND + compare per (token, slot). The r3 form
    extracted bits arithmetically ((th / pow(2, j)) % 2, since
    shiftright demands a literal shift count and j is a Column inside
    the lambda), paying a transcendental pow per element; the mask
    rewrite measured 1.44 s → 0.70 s at sf0.1, bitwise-identical
    output (r4, VERDICT item 6)."""
    sets = _hashed_token_sets(spark, sf_dir)

    zero = F.lit(0).cast("long")
    masks = F.array(*[F.lit(1 << j).cast("long") for j in range(32)])
    votes = F.aggregate(
        F.col("toks"),
        F.array_repeat(zero, 32),
        lambda acc, th: F.zip_with(
            acc, masks,
            lambda a, m: a + F.when(th.bitwiseAND(m) != zero,
                                    F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    packed = F.aggregate(
        F.zip_with(votes, masks,
                   lambda v, m: F.when(v > 0, m).otherwise(zero)),
        zero,
        lambda acc, x: acc + x,
    )
    return sets.select("doc_id", packed.alias("simhash"))


# ---------------------------------------------------------------------------
# character n-gram Jaccard (blocked pairwise)
# ---------------------------------------------------------------------------


@register(
    "ngram_jaccard",
    oracle="""
    WITH g AS (SELECT doc_id, source,
                      list_sort(list_distinct(list_transform(
                          generate_series(1, length(text) - 2),
                          i -> ascii(substr(text, i, 1)) * 65536
                             + ascii(substr(text, i + 1, 1)) * 256
                             + ascii(substr(text, i + 2, 1))))) AS grams
               FROM documents WHERE length(text) >= 3),
    p AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2,
                 CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) AS inter,
                 CAST(len(a.grams) + len(b.grams) AS DOUBLE) AS tot
          FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
           AND CAST(least(len(a.grams), len(b.grams)) AS DOUBLE)
               / CAST(greatest(len(a.grams), len(b.grams)) AS DOUBLE) >= 0.75)
    SELECT doc1, doc2, inter / (tot - inter) AS jaccard
    FROM p WHERE inter / (tot - inter) >= 0.75
    """,
    gate=False,  # demoted r12 — same gram/verify semantics as the gated
    #              ppjoin_pairs (the stronger candidate generator)
    tags=("dedup", "extension"),
)
def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-3-gram Jaccard near-dup pairs, blocked by `source` so the
    pairwise comparison is per-block (the blocking key stands in for an
    LSH prefilter at real scale — never an unblocked O(n²)).

    Perf (three layers, all semantics-preserving):
      * grams packed into ints (ascii*65536+ascii*256+ascii, portable)
        so arrays are primitive and small;
      * size-ratio prefilter: jaccard ≥ τ ⟹ min(|A|,|B|)/max ≥ τ, so
        candidate pairs are pruned on two tiny ints BEFORE any gram
        array is joined or shuffled;
      * |A∪B| derived as |A|+|B|−|A∩B| (no union materialization).
    The blocked pair join itself moves only (doc_id, size) columns.

    CANDIDATE-GENERATOR CHOICE (r2 negative result, RESOLVED r5;
    AUTO-SELECTED r6): a PPJoin-style prefix filter (grams ordered by
    global frequency; candidates = pairs sharing ≥1 of their
    |x|−⌈τ|x|⌉+1 rarest grams — exact recall) pruned only 0.5% on THIS
    uniform fixture because uniformly-drawn docs share even their
    rarest 3-grams — but on the r5 Zipfian corpus it prunes 47% of
    candidates at identical verified output (ppjoin_study.tsv). The
    query now PROBES the corpus (operators/ppjoin.choose_generator:
    mean rarest-gram document frequency, measured 0.058 on this
    fixture vs 0.014 on the Zipf corpus, threshold 0.025) and routes
    to the prefix generator on heavy-head corpora, the salted
    size-ratio join otherwise. Both generators are exact-recall at τ,
    so the choice never changes output — pinned identical on both
    corpus shapes in tests/test_ppjoin.py.

    r2 parallelism fixes (23 s → 2.6 s warm at sf0.1): (a) the gram build is
    repartitioned wide and materialized once (single-split fixture file
    + no Catalyst subtree sharing — see dedup_minhash); (b) the blocked
    pair join is SALTED: `source` has only a handful of distinct values,
    so a plain equi-join on it runs on that many cores regardless of
    shuffle partitions. Each right-side doc gets a bucket
    hash(doc_id) % B, the left side is replicated B× (3-int rows), and
    the join key becomes (source, bucket) — parallelism |sources|·B,
    every pair still produced exactly once (the right side's bucket is
    a function of doc2). This is the skew playbook from operators/
    skew.py applied to a low-cardinality blocking key."""
    par = spark.sparkContext.defaultParallelism
    docs = (load(spark, sf_dir, "documents")
            .filter(F.length("text") >= 3).repartition(par))
    grams = docs.select(
        "doc_id", "source",
        F.array_sort(F.array_distinct(F.expr(
            "transform(sequence(1, length(text) - 2),"
            " i -> ascii(substring(text, i, 1)) * 65536"
            "    + ascii(substring(text, i + 1, 1)) * 256"
            "    + ascii(substring(text, i + 2, 1)))"
        ))).alias("grams"),
    ).transform(materialize)
    from myhadoop_spark.operators.ppjoin import (
        choose_generator,
        prefix_candidates,
    )

    # verdict memoized per (session, corpus): the probe is a constant
    # of the corpus and output is generator-invariant, so first use
    # pays the probe and every later run skips it (r6 bench finding)
    # one stats job on the checkpointed gram table serves both the
    # prefix-join broadcast budget (r13, see prefix_candidates) and
    # the verify-join broadcast guard below
    sz = grams.agg(F.count(F.lit(1)).alias("n"),
                   F.coalesce(F.sum(F.size("grams")),
                              F.lit(0)).alias("tot")).head()
    if choose_generator(
            grams, cache_key=f"{sf_dir}::documents") == "ppjoin_prefix":
        cand = prefix_candidates(grams, 0.75, block_col="source",
                                 size_stats=(sz.n, sz.tot))
    else:
        n_buckets = 16
        sizes = grams.select("doc_id", "source",
                             F.size("grams").alias("n"))
        buckets = spark.range(n_buckets).select(
            F.col("id").cast("int").alias("bucket"))
        a = (sizes.select(F.col("doc_id").alias("doc1"), "source",
                          F.col("n").alias("n1"))
             .crossJoin(F.broadcast(buckets)))
        b = sizes.select(
            F.col("doc_id").alias("doc2"),
            F.col("source").alias("source2"), F.col("n").alias("n2"),
            F.pmod(F.hash("doc_id"), F.lit(n_buckets)).alias("bucket2"))
        ratio = (F.least("n1", "n2").cast("double")
                 / F.greatest("n1", "n2").cast("double"))
        cand = (
            a.join(b, (F.col("source") == F.col("source2"))
                   & (F.col("bucket") == F.col("bucket2"))
                   & (F.col("doc1") < F.col("doc2")))
            .filter(ratio >= 0.75)
            .select("doc1", "doc2")
        )
    g1 = grams.select(F.col("doc_id").alias("doc1"), F.col("grams").alias("g1"))
    g2 = grams.select(F.col("doc_id").alias("doc2"), F.col("grams").alias("g2"))
    # size-guarded broadcast of the per-document gram table into the
    # verify joins (see ppjoin_pairs — same r13 optimization): under
    # the budget the candidate pairs never carry arrays through an
    # exchange; past it the hash-partitioned shape stands (sz computed
    # once above, shared with the prefix-join broadcast budget)
    if 4 * sz.tot + 32 * sz.n < (48 << 20):
        g1, g2 = F.broadcast(g1), F.broadcast(g2)
    inter = F.size(F.array_intersect("g1", "g2")).cast("double")
    tot = (F.size("g1") + F.size("g2")).cast("double")
    # explicit wide partitioning before the verify join: the candidate
    # list is a few MB of int pairs, so AQE's size-based coalescing
    # would run the array-intersect verify (the real work — ~800-int
    # intersects per pair) nearly single-core (same trap as
    # simsearch.embed_neardup; measured there 6 s narrow → sub-second
    # wide)
    par = spark.sparkContext.defaultParallelism
    pairs = (
        cand.repartition(par, "doc1")
        .join(g1, "doc1").join(g2, "doc2")
        .select("doc1", "doc2", (inter / (tot - inter)).alias("jaccard"))
    )
    return pairs.filter(F.col("jaccard") >= 0.75)


@register(
    "ppjoin_pairs",
    oracle="""
    WITH g AS (SELECT doc_id, source,
                      list_sort(list_distinct(list_transform(
                        generate_series(1, length(text) - 2),
                        i -> ascii(substring(text, i, 1)) * 65536
                           + ascii(substring(text, i + 1, 1)) * 256
                           + ascii(substring(text, i + 2, 1)))))
                        AS grams
               FROM documents WHERE length(text) >= 3),
    p AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2,
                 CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT)
                   AS inter,
                 CAST(len(a.grams) + len(b.grams) AS BIGINT) AS tot
          FROM g a JOIN g b
            ON a.source = b.source AND a.doc_id < b.doc_id)
    SELECT doc1, doc2, inter, tot - inter AS un
    FROM p WHERE inter * 2 >= tot - inter
    ORDER BY doc1, doc2
    """,
    gate=True,  # promoted into the driver gate window in r11 (VERDICT r10 #1)
    tags=("dedup", "similarity", "extension"),
)
def ppjoin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc1, doc2, inter, un): all same-source pairs with 3-gram-set
    Jaccard ≥ 0.5 — the PPJoin PREFIX generator forced (no corpus
    probe), verified exactly, against a brute-force all-pairs truth
    oracle. This is the exact-recall pin AS A DRIVER-RECORDED
    DIFFERENTIAL (previously pytest-only): the oracle enumerates every
    same-source pair and states Jaccard ≥ τ as the integer predicate
    2·inter ≥ |A|+|B|−inter; the engine may only prune via the rarity
    prefix + size filter, so any lost pair hash-mismatches. τ = 0.5
    keeps the compare LIVE on this corpus (~2.3k qualifying pairs at
    both SFs; 0.75 left only 1-2). Gram packing and blocking are the
    ngram_jaccard conventions (queries/dedup.py::ngram_jaccard)."""
    from myhadoop_spark.operators.ppjoin import prefix_candidates

    par = spark.sparkContext.defaultParallelism
    docs = (load(spark, sf_dir, "documents")
            .filter(F.length("text") >= 3).repartition(par))
    grams = docs.select(
        "doc_id", "source",
        F.array_sort(F.array_distinct(F.expr(
            "transform(sequence(1, length(text) - 2),"
            " i -> ascii(substring(text, i, 1)) * 65536"
            "    + ascii(substring(text, i + 1, 1)) * 256"
            "    + ascii(substring(text, i + 2, 1)))"
        ))).alias("grams"),
    ).transform(materialize)
    # one stats job on the checkpointed gram table serves both the
    # prefix-join broadcast budget (r13, see prefix_candidates) and
    # the verify-join broadcast guard below
    sz = grams.agg(F.count(F.lit(1)).alias("n"),
                   F.coalesce(F.sum(F.size("grams")),
                              F.lit(0)).alias("tot")).head()
    cand = prefix_candidates(grams, 0.5, block_col="source",
                             size_stats=(sz.n, sz.tot))
    g1 = grams.select(F.col("doc_id").alias("doc1"),
                      F.col("grams").alias("g1"))
    g2 = grams.select(F.col("doc_id").alias("doc2"),
                      F.col("grams").alias("g2"))
    # r13 (optimization): the verify used to attach both gram arrays
    # via two shuffled joins keyed by doc1 then doc2 — every candidate
    # pair's array payload crossed an exchange twice (~500k pairs ×
    # two ~140-int arrays at sf0.1; guide §8: shuffle proxies, not
    # payloads). The gram table itself is one array per DOCUMENT, so
    # when it fits the broadcast budget the verify joins broadcast it
    # and the candidate pairs never carry arrays through a shuffle.
    # Size-guarded on the MATERIALIZED table (grams is checkpointed, so
    # the stats job is a cheap scan): past the budget — the 100 TB
    # corpus case — the plan keeps the hash-partitioned shape.
    # Candidate generation and results are unchanged either way
    # (broadcast vs shuffle is pure join strategy, guide §3.1; sz
    # computed once above, shared with the prefix-join budget).
    if 4 * sz.tot + 32 * sz.n < (48 << 20):
        g1, g2 = F.broadcast(g1), F.broadcast(g2)
    inter = F.size(F.array_intersect("g1", "g2")).cast("long")
    tot = (F.size("g1") + F.size("g2")).cast("long")
    verified = (cand.repartition(par, "doc1")
                .join(g1, "doc1").join(g2, "doc2")
                .select("doc1", "doc2", inter.alias("inter"),
                        (tot - inter).alias("un"))
                .filter(F.col("inter") * 2 >= F.col("un")))
    # r13 (optimization): materialize the ~2k verified pairs before the
    # global sort — orderBy's range-partition sampling job re-executes
    # its child, and here the child after the last exchange is the
    # broadcast verify join, so the full ~500k-pair array-intersect
    # verify ran TWICE per invocation (guide §1.4/§3.3 — the same
    # sampling-reruns-the-child class as the media fingerprint sorts)
    return verified.transform(materialize).orderBy("doc1", "doc2")
