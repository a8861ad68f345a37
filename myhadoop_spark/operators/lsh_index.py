"""Persistent MinHash-LSH signature index — near-duplicate detection
against the FULL ingest history, as an on-disk, incrementally-
maintainable table: the near-dup member of the persistent-index family
(Bloom = exact content, operators/bloom.py + streaming/bloom_ingest.py;
BM25 = lexical, operators/bm25_index.py; IVF = semantic,
operators/ivf_index.py).

Why it exists: near-dedup that holds band state IN the streaming
state store is bounded by a TTL horizon (the state must be evicted or
it grows without bound), is gone on a checkpoint reset, and has no
verify step (any band collision is a verdict). A 100 TB corpus ingest
wants the opposite trade: a DURABLE seen-signature table with an
unbounded horizon that any batch, stream, or ad-hoc probe can check
against, plus a signature-agreement verify so a single colliding band
is a candidate, not a verdict.

Layout (mirrors the BM25/IVF index discipline):

  * ``<path>/sigs``: one row per (doc, band) —
    (doc_id, band, band_sig, sig[16], append_id) written
    ``partitionBy("sbucket")`` where ``sbucket = md5(band:band_sig)
    % B`` (the canonical engine-portable hash,
    functions/text.py::hash_bucket); rows band_sig-sorted within
    files so row-group min/max stats stay tight;
  * ``<path>/meta.json``: {n_buckets, n_hashes, band_rows, format}
    (crash-safe write_small_file; guards probes against layout drift).

Probe shape at scale: the incoming batch's signature rows are SMALL
(4 rows/doc); history is huge. The probe therefore (1) computes the
batch's distinct ``sbucket`` values with one bounded driver-side
collect (≤ B values — the ivf_index probed-buckets discipline) and
prunes the history scan to those partition directories, and
(2) BROADCASTS the batch side into one scan of the pruned history —
zero shuffle of history, ever. Because every row carries the FULL
16-minhash signature, the agreement verify is an inline expression on
the joined row — no second join against token sets, no second corpus
scan.

Semantics (declared, tested): a document near-duplicates history iff
its estimated Jaccard — the fraction of agreeing minhash components —
is ≥ ``threshold`` against ANY earlier-seen document. ALL seen
documents are indexed, kept and dropped alike: the Jaccard relation is
not transitive, so indexing everything keeps verdicts order-local
(doc C matching dropped doc B is still a duplicate) instead of
depending on which earlier doc happened to be retained. The
estimated-Jaccard verify (not exact token intersection) is what keeps
the probe single-scan; ``queries/dedup.py::dedup_minhash`` remains the
exact-verify batch pass, and the estimator's agreement with it on the
fixture corpus is pinned in tests/test_lsh_index.py.

Incremental ≡ one-shot (the index's core invariant, tested): feeding
the corpus through any batch split in id order yields exactly the
pairs of ``signature_pairs`` (the one-shot twin, ungated DuckDB
oracle ``signature_neardup``) and exactly its survivor set.

Replay discipline: every row carries its ``append_id``; a probe
excludes rows whose append_id equals the CURRENT batch's id, so
re-processing a crashed batch (whose partial append may already be on
disk) converges to the same verdicts — exact idempotence, stronger
than the Bloom face's no-false-negative convergence. A replayed
append's duplicate rows are verdict-neutral (pairs are distinct-ed)
and collapsed physically by compaction.

Skew discipline: a band signature shared by m documents is m(m-1)/2
candidate pairs and an m-row fan per colliding probe — the quadratic
blowup banding cannot prevent when boilerplate collapses onto one
signature. The STOP-SIGNATURE guard (``max_bucket`` /
``refresh_hot_sigs`` / probes' ``use_hot``) bans over-cap buckets
from candidate generation, the same declared recall trade as max_df
boilerplate pruning (operators/substring.py); the list refreshes at
compaction cadence.

Reference analog: none — §2.3 extension surface (SURVEY.md §2.3);
Leskovec/Rajaraman/Ullman §3.4 banding; the verify-by-signature
agreement estimator is the standard MinHash unbiased Jaccard
estimate.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myhadoop_spark.fsutil import (
    hadoop_fs,
    read_small_file,
    write_small_file,
)
from myhadoop_spark.functions.text import (
    MINHASH_BAND_ROWS,
    MINHASH_FAM,
    hash_bucket,
    hashed_token_set,
    minhash_fold,
)
from myhadoop_spark.operators.compaction import compact_partitions
from myhadoop_spark.materialize import materialize

N_BUCKETS = 32
THRESHOLD = 0.5
MAX_ROWS_PER_FILE = 1_000_000
_FORMAT = 1

_SIGS_SCHEMA = ("doc_id bigint, band int, band_sig string, "
                "sig array<bigint>, append_id string, sbucket int")


def signature_rows(docs: DataFrame, *, id_col: str = "doc_id",
                   text_col: str = "text",
                   n_buckets: int = N_BUCKETS) -> DataFrame:
    """(doc_id, band, band_sig, sig, sbucket) — one row per (doc,
    band), each row carrying the FULL 16-minhash signature so a band
    match verifies inline. Token-less documents are excluded (the
    queries/dedup.py convention: no tokens → no hash rows).

    Recompute discipline: the 16 affine folds appear EXACTLY ONCE, in
    the ``sig`` array projection; the band signatures are string joins
    over slices of that column in a separate projection, so after
    CollapseProject the fold subtree is a multi-referenced common
    subexpression evaluated once per row by codegen CSE — never
    re-folded per band (the r4 recompute-trap family,
    queries/dedup.py::minhash_signatures)."""
    sets = docs.select(F.col(id_col).alias("doc_id"),
                       hashed_token_set(text_col).alias("toks"))
    sets = sets.filter(F.size("toks") > 0)

    n_bands = len(MINHASH_FAM) // MINHASH_BAND_ROWS
    with_sig = sets.select(
        "doc_id", F.array(*[minhash_fold(F.col("toks"), i)
                              for i in range(len(MINHASH_FAM))])
        .alias("sig"))
    band_sigs = F.array(*[
        F.array_join(
            F.transform(
                F.slice("sig", b * MINHASH_BAND_ROWS + 1,
                        MINHASH_BAND_ROWS),
                lambda m: m.cast("string")), ",")
        for b in range(n_bands)])
    return (with_sig
            .select("doc_id", "sig",
                    F.posexplode(band_sigs).alias("band", "band_sig"))
            .withColumn(
                "sbucket",
                hash_bucket(F.concat_ws(":", F.col("band").cast("string"),
                                        "band_sig"), n_buckets)
                .cast("int"))
            .select("doc_id", "band", "band_sig", "sig", "sbucket"))


def _est_jaccard(sig_a, sig_b):
    """Fraction of agreeing minhash components — the standard unbiased
    MinHash Jaccard estimate, here over the fixed 16-hash family."""
    agree = F.size(F.filter(F.zip_with(sig_a, sig_b,
                                       lambda x, y: x == y),
                            lambda m: m))
    return agree / F.lit(float(len(MINHASH_FAM)))


def _write_sigs(rows: DataFrame, path: str, append_id: str,
                mode: str) -> None:
    # co-located list writes (the IVF lesson, ivf_compact_study.tsv):
    # each shard lands wholly in one task → one file per shard per
    # write; band_sig-sorted within so probe-side row-group stats stay
    # tight after compaction re-sorts too
    (rows.withColumn("append_id", F.lit(append_id))
     .repartition("sbucket").sortWithinPartitions("band_sig")
     .write.partitionBy("sbucket")
     .option("maxRecordsPerFile", MAX_ROWS_PER_FILE)
     .mode(mode).parquet(f"{path}/sigs"))


def read_meta(spark: SparkSession, path: str) -> dict:
    raw = read_small_file(spark, f"{path}/meta.json")
    if raw is None:
        raise FileNotFoundError(f"no LSH index at {path} (meta.json "
                                "missing — build_lsh_index first)")
    meta = json.loads(raw)
    if meta.get("format") != _FORMAT:
        raise ValueError(
            f"LSH index at {path} has format {meta.get('format')}; "
            f"this build reads format {_FORMAT} — rebuild the index")
    # hash-family drift guard: a probe computed under a different
    # minhash family or banding would produce band_sigs that never
    # match history — every near-dup silently admitted. Fail loudly
    # instead (meta records the build-time family for exactly this).
    if (meta.get("n_hashes") != len(MINHASH_FAM)
            or meta.get("band_rows") != MINHASH_BAND_ROWS):
        raise ValueError(
            f"LSH index at {path} was built with "
            f"{meta.get('n_hashes')} hashes x {meta.get('band_rows')}"
            f"-row bands; this build uses {len(MINHASH_FAM)} x "
            f"{MINHASH_BAND_ROWS} — rebuild the index")
    return meta


def build_lsh_index(docs: DataFrame, path: str, *,
                    id_col: str = "doc_id", text_col: str = "text",
                    n_buckets: int = N_BUCKETS,
                    append_id: str = "build") -> None:
    """One-shot build over a corpus: signature rows + meta."""
    spark = docs.sparkSession
    rows = signature_rows(docs, id_col=id_col, text_col=text_col,
                          n_buckets=n_buckets)
    _write_sigs(rows, path, append_id, "overwrite")
    write_small_file(spark, f"{path}/meta.json",
                     json.dumps({"n_buckets": n_buckets,
                                 "n_hashes": len(MINHASH_FAM),
                                 "band_rows": MINHASH_BAND_ROWS,
                                 "id_col": id_col,
                                 "format": _FORMAT}))


def append_to_lsh_index(docs: DataFrame, path: str, *,
                        append_id: str, text_col: str = "text") -> None:
    """Append a batch's signatures — no rewrite of existing shards.
    Same-append_id retry is verdict-idempotent (probes exclude the
    current append_id; duplicate rows are distinct-ed / compacted)."""
    meta = read_meta(docs.sparkSession, path)
    rows = signature_rows(docs, id_col=meta["id_col"], text_col=text_col,
                          n_buckets=meta["n_buckets"])
    _write_sigs(rows, path, append_id, "append")


def _hot_buckets(rows: DataFrame, max_bucket: int) -> DataFrame:
    """(band, band_sig) buckets holding more than ``max_bucket`` rows —
    the stop signatures. Bounded output: ≤ total_rows / max_bucket."""
    return (rows.groupBy("band", "band_sig")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_bucket)
            .select("band", "band_sig"))


def _drop_hot(rows: DataFrame, hot: DataFrame) -> DataFrame:
    return rows.join(F.broadcast(hot), ["band", "band_sig"], "left_anti")


def refresh_hot_sigs(spark: SparkSession, path: str, *,
                     max_bucket: int) -> dict:
    """Maintenance pass: recount the index's bucket sizes (one scan +
    partial agg) and persist the stop-signature list to ``<path>/hot``
    — probes then skip those buckets (``use_hot``). Appends grow
    buckets between refreshes, so pair this with compaction cadence
    (``compact_lsh_index(refresh_hot_over=...)``, which
    ``start_hybrid_ingest_stream(max_bucket=...)`` runs every
    ``compact_every`` batches). Returns {hot_buckets}."""
    rows = spark.read.schema(_SIGS_SCHEMA).parquet(f"{path}/sigs")
    hot = _hot_buckets(rows, max_bucket)
    # staged write → delete → rename (the ivf_index.py retrain-swap
    # idiom): an in-place overwrite first deletes <path>/hot, so a
    # crash mid-write would leave an empty/partial stop-list and
    # probes would fan into exactly the hot buckets the guard exists
    # to prevent. The staging dir carries Spark's _SUCCESS marker,
    # which load_hot_sigs uses to survive the delete→rename window.
    staging = f"{path}/hot.tmp"
    (hot.coalesce(1).write.mode("overwrite").parquet(staging))
    # count the (tiny) staged table — counting the aggregate before
    # writing would re-run the full index scan twice
    n = spark.read.schema("band int, band_sig string").parquet(
        staging).count()  # output: the stop-list size it returns
    fs, live = hadoop_fs(spark, f"{path}/hot")
    if fs.exists(live):
        fs.delete(live, True)
    _, staged = hadoop_fs(spark, staging)
    if not fs.rename(staged, live):
        raise OSError(f"hot-list swap failed: {staging} -> {path}/hot; "
                      f"completed copy preserved at {staging}")
    return {"hot_buckets": n}


def _complete_parquet_dir(fs, spark: SparkSession, uri: str) -> bool:
    """A directory written to completion by a Spark job (its _SUCCESS
    marker committed) — partial crash leftovers fail this check."""
    jvm = spark._jvm
    return (fs.exists(jvm.org.apache.hadoop.fs.Path(uri))
            and fs.exists(jvm.org.apache.hadoop.fs.Path(
                f"{uri}/_SUCCESS")))


def load_hot_sigs(spark: SparkSession, path: str) -> DataFrame | None:
    """The persisted stop-signature list, or None before the first
    refresh (existence via the Hadoop FS API — works on any scheme).

    Crash-window recovery mirrors fsutil.read_small_file: a crash in
    refresh_hot_sigs between delete(hot) and rename leaves only the
    COMPLETE staging copy (its _SUCCESS committed) — fall back to it,
    so that window can never read as 'no stop-list' and re-open the
    hot-bucket fan-out. A crash mid-staged-write leaves no _SUCCESS in
    the staging dir and the previous live list is served normally."""
    fs, _ = hadoop_fs(spark, f"{path}/hot")
    for uri in (f"{path}/hot", f"{path}/hot.tmp"):
        if _complete_parquet_dir(fs, spark, uri):
            return spark.read.schema("band int, band_sig string").parquet(
                uri)
    return None


def _read_sigs(spark: SparkSession, path: str,
               buckets: list[int]) -> DataFrame:
    return (spark.read.schema(_SIGS_SCHEMA)
            .option("basePath", f"{path}/sigs")
            .parquet(f"{path}/sigs")
            .filter(F.col("sbucket").isin(buckets)))


def probe_lsh_index(new_docs: DataFrame, path: str, *,
                    threshold: float = THRESHOLD,
                    text_col: str = "text",
                    exclude_append_id: str | None = None,
                    rows: DataFrame | None = None,
                    use_hot: bool = True) -> DataFrame:
    """(doc_id, hist_id, est_jaccard): which incoming documents
    near-duplicate something already indexed. One partition-pruned
    scan of history with the batch BROADCAST into it; the only shuffle
    is the final distinct over MATCHES (bounded by output, not
    history). ``rows`` short-circuits the signature computation when
    the caller already built them (dedup_incoming shares one
    localCheckpoint across probe + self-join + append).

    ``use_hot`` (default on) skips batch rows whose band signature is
    in the persisted stop-signature list (refresh_hot_sigs) — a hot
    history bucket of m rows would otherwise fan every colliding batch
    doc into m candidate rows. No hot list on disk → no-op."""
    spark = new_docs.sparkSession
    meta = read_meta(spark, path)
    if rows is None:
        rows = signature_rows(new_docs, id_col=meta["id_col"],
                              text_col=text_col,
                              n_buckets=meta["n_buckets"]).transform(materialize)
    else:
        # caller-supplied rows may have been built with a different
        # n_buckets than THIS index — recompute the shard from the
        # index's own meta (cheap narrow expression) so the partition
        # pruning below can never read the wrong directories
        rows = rows.withColumn(
            "sbucket",
            hash_bucket(F.concat_ws(":", F.col("band").cast("string"),
                                    "band_sig"),
                        meta["n_buckets"]).cast("int"))
    if use_hot:
        hot = load_hot_sigs(spark, path)
        if hot is not None:
            rows = _drop_hot(rows, hot)
    # bounded driver-side collect: ≤ n_buckets distinct shard values —
    # the partition-pruning step (ivf_index probed-buckets discipline)
    buckets = sorted(r.sbucket for r in
                     # control: the shard ids become the pruning filter
                     rows.select("sbucket").distinct().collect())
    hist = _read_sigs(spark, path, buckets)
    if exclude_append_id is not None:
        # replay guard: a crashed batch's partial append must not match
        # the batch against itself on re-processing
        hist = hist.filter(F.col("append_id") != exclude_append_id)
    batch = rows.select(F.col("doc_id").alias("_new_id"), "band",
                        "band_sig", F.col("sig").alias("_new_sig"))
    return (hist.join(F.broadcast(batch), ["band", "band_sig"])
            .withColumn("est_jaccard", _est_jaccard("sig", "_new_sig"))
            .filter(F.col("est_jaccard") >= threshold)
            .select(F.col("_new_id").alias("doc_id"),
                    F.col("doc_id").alias("hist_id"), "est_jaccard")
            .distinct())


def signature_pairs(docs: DataFrame, *, threshold: float = THRESHOLD,
                    id_col: str = "doc_id", text_col: str = "text",
                    rows: DataFrame | None = None,
                    max_bucket: int | None = None) -> DataFrame:
    """The one-shot twin (doc1 < doc2, est_jaccard): banded candidate
    self-join + inline signature-agreement verify over a whole corpus —
    exactly the relation the incremental faces materialize batch by
    batch (the equivalence invariant in tests/test_lsh_index.py), and
    the body of the ungated DuckDB oracle ``signature_neardup``.

    ``max_bucket`` arms the STOP-SIGNATURE guard: a band signature
    shared by m documents contributes m(m-1)/2 candidate pairs — the
    quadratic blowup banding cannot protect against when boilerplate
    or near-empty documents collapse onto one signature. Buckets over
    the cap are banned from candidate generation entirely (one cheap
    partial-agg count over the 4-rows-per-doc relation; the banned
    set is ≤ rows/cap entries, broadcastable by construction). The
    declared trade: pairs INSIDE a banned bucket are not reported —
    the same discipline as max_df boilerplate pruning
    (operators/substring.py) and PPJoin's frequency ordering."""
    if rows is None:
        rows = signature_rows(docs, id_col=id_col,
                              text_col=text_col).transform(materialize)
    if max_bucket is not None:
        rows = _drop_hot(rows, _hot_buckets(rows, max_bucket))
    left = rows.select(F.col("doc_id").alias("doc1"), "band", "band_sig",
                       F.col("sig").alias("_s1"))
    right = rows.select(F.col("doc_id").alias("doc2"), "band", "band_sig",
                        F.col("sig").alias("_s2"))
    return (left.join(right, ["band", "band_sig"])
            .filter(F.col("doc1") < F.col("doc2"))
            .withColumn("est_jaccard", _est_jaccard("_s1", "_s2"))
            .filter(F.col("est_jaccard") >= threshold)
            .select("doc1", "doc2", "est_jaccard")
            .distinct())


def _dedup_core(new_docs: DataFrame, path: str, *, append_id: str,
                threshold: float, text_col: str,
                max_bucket: int | None = None
                ) -> tuple[DataFrame, DataFrame]:
    """(survivors, signature rows): the shared probe + within-batch
    pass. One localCheckpoint of the batch signatures feeds the history
    probe, the oriented self-join, AND the caller's append — the
    signature folds run once per batch."""
    spark = new_docs.sparkSession
    meta = read_meta(spark, path)
    rows = signature_rows(new_docs, id_col=meta["id_col"],
                          text_col=text_col,
                          n_buckets=meta["n_buckets"]).transform(materialize)
    hist_hits = (probe_lsh_index(new_docs, path, threshold=threshold,
                                 exclude_append_id=append_id, rows=rows)
                 .select("doc_id").distinct())
    within = (signature_pairs(new_docs, threshold=threshold, rows=rows,
                              max_bucket=max_bucket)
              .select(F.col("doc2").alias("doc_id")).distinct())
    dropped = hist_hits.unionByName(within).distinct()
    survivors = new_docs.join(
        dropped.withColumnRenamed("doc_id", meta["id_col"]),
        meta["id_col"], "left_anti")
    return survivors, rows


def dedup_incoming(new_docs: DataFrame, path: str, *,
                   append_id: str, threshold: float = THRESHOLD,
                   text_col: str = "text",
                   max_bucket: int | None = None) -> tuple[DataFrame,
                                                           dict]:
    """Batch face: (survivors, stats). A document survives iff it
    matches neither history (probe) nor an earlier-id document within
    its own batch (oriented self-join — non-chainy: i<j counts even if
    i is itself dropped, the order-local semantics declared above).
    ALL batch signatures are appended afterwards (kept and dropped).

    The append is last, so a crashed call can simply be re-run with
    the same append_id (the probe excludes it — exact idempotence)."""
    survivors, rows = _dedup_core(new_docs, path, append_id=append_id,
                                  threshold=threshold, text_col=text_col,
                                  max_bucket=max_bucket)
    # survivors is lazy, but the append below cannot leak into it even
    # if executed later: the probe pinned its file listing at read time
    # (eager InMemoryFileIndex), and the append_id exclusion filters
    # this batch's rows out regardless.
    _write_sigs(rows, path, append_id, "append")
    return survivors, {"append_id": append_id}


def compact_lsh_index(spark: SparkSession, path: str, *,
                      max_files_per_shard: int = 4,
                      refresh_hot_over: int | None = None) -> dict:
    """Selective shard compaction (shared operators/compaction.py):
    long-running ingest appends one file set per batch per touched
    shard; rewrite fragmented shards to one band_sig-sorted file each.
    Probe results across a compaction are pinned identical in
    tests/test_lsh_index.py. ``refresh_hot_over`` re-derives the
    stop-signature list at the same maintenance moment (appends grow
    buckets between refreshes — compaction is the natural cadence)."""
    stats = compact_partitions(spark, f"{path}/sigs", "sbucket",
                               max_files_per_part=max_files_per_shard,
                               max_rows_per_file=MAX_ROWS_PER_FILE,
                               sort_cols=("band_sig",))
    out = {"compacted_shards": stats["compacted_parts"],
           "files_before": stats["files_before"],
           "files_after": stats["files_after"]}
    if refresh_hot_over is not None:
        out.update(refresh_hot_sigs(spark, path,
                                    max_bucket=refresh_hot_over))
    return out
