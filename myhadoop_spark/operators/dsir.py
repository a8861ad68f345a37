"""DSIR — Data Selection via Importance Resampling (Xie et al.,
NeurIPS 2023, arXiv:2302.03169): pick the raw-pool documents whose
hashed-n-gram distribution looks most like a small trusted target
corpus. The standard "make my crawl look like Wikipedia" selection
step of LLM pretraining pipelines; complements the discriminative
classifier gate (operators/classifier.py) with the paper's generative
bag-of-hashed-ngrams formulation.

Model (the paper's unigram-over-hashed-features estimator):

    features(doc)  = unigrams ∪ bigrams, hashed into B buckets
    p̂_t[b]         = (Ct_b + 1) / (T + B)      add-1 smoothed target
    p̂_r[b]         = (Cr_b + 1) / (R + B)      add-1 smoothed raw
    log w(doc)     = Σ_b c_b · (ln p̂_t[b] − ln p̂_r[b])
                   = Σ_b c_b · (ln(Ct_b+1) − ln(Cr_b+1))
                     + n_feats · (ln(R+B) − ln(T+B))

The constant term is factored out so the per-bucket log-ratio table
needs only the raw counts — ln of INTEGERS on both engines.

Scale shape: feature extraction is one narrow codegen projection
(split + slice/concat, no UDF) feeding ONE (id, bucket) aggregation
whose map-side combine compresses the shuffle from occurrences to
distinct (doc, bucket) pairs; that count table is materialized once
and read by both the fit and the scoring. The fit's joint bucket
table is ≤ B rows by construction, so it is collected (bounded) and
re-broadcast as a local DataFrame — one Spark job, nothing to
recompute under the broadcast builds. Scoring is a broadcast join +
one groupBy(id); selection is TakeOrderedAndProject (partial top-k
per partition), never a global sort. Identical plan at 500 docs and
100 TB; B (default 4096; the paper uses 10k) bounds every broadcast
and the collect.

Float-determinism discipline: a per-doc
SUM over shuffled join output has no addition order, so the c·lr
terms are re-assembled sorted by bucket id — a TOTAL order, buckets
are distinct within a doc — and reduced with a left fold:
bitwise-reproducible on any partitioning, and order-matched by the
DuckDB oracle's ``list_reduce(list(c*lr ORDER BY b))``. ln() itself
is last-ulp-unsafe across engines, so the compared weight is floored
at 1e-6; the bitwise
contract is pinned against the pure-Python model in
tests/test_dsir.py.

Feature hashing uses the engine-portable md5 bucket
(functions/text.py::hash_bucket) — xxhash64/murmur differ across engines.
Unigram/bigram features need no type marker: tokens are
whitespace-split, so a space-joined bigram can never collide with a
unigram.

Reference analog: none — §2.3 extension surface (project brief:
training-data curation operators).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from myhadoop_spark.functions.text import hash_bucket, tokens
from myhadoop_spark.materialize import materialize

BUCKETS = 4096


def hashed_features(docs: DataFrame, *, id_col: str = "doc_id",
                    text_col: str = "text",
                    buckets: int = BUCKETS) -> DataFrame:
    """One row per feature OCCURRENCE: (id, b) — unigrams + bigrams of
    the whitespace tokenization, hashed into ``buckets``. Narrow until
    the explode; empty documents contribute nothing."""
    toks = docs.select(F.col(id_col),
                       tokens(text_col).alias("_toks"))
    toks = toks.filter(F.size("_toks") > 0)
    feats = toks.select(
        F.col(id_col),
        F.concat(
            F.col("_toks"),
            F.when(
                F.size("_toks") >= 2,
                F.zip_with(
                    F.slice(F.col("_toks"), 1, F.size("_toks") - 1),
                    F.slice(F.col("_toks"), 2, F.size("_toks") - 1),
                    lambda a, b: F.concat_ws(" ", a, b)))
            .otherwise(F.array().cast("array<string>")),
        ).alias("_feats"))
    occ = feats.select(F.col(id_col), F.explode("_feats").alias("_f"))
    return occ.select(F.col(id_col),
                      hash_bucket(F.col("_f"), buckets).alias("b"))


def doc_bucket_counts(docs: DataFrame, *, id_col: str = "doc_id",
                      text_col: str = "text",
                      buckets: int = BUCKETS) -> DataFrame:
    """(id, b, c): per-document bucket multiplicities — the canonical
    DSIR intermediate. One text pass + one (id, b) aggregation whose
    map-side combine compresses the shuffle from feature OCCURRENCES
    to distinct (doc, bucket) pairs (≤ min(doc_len, B) per doc); both
    the fit and the scoring read THIS table, so the expensive
    tokenize+md5 pipeline runs once when the caller materializes it
    (dsir_select does)."""
    occ = hashed_features(docs, id_col=id_col, text_col=text_col,
                          buckets=buckets)
    return occ.groupBy(id_col, "b").agg(F.count(F.lit(1)).alias("c"))


def bucket_log_ratios(target_counts: DataFrame, raw_counts: DataFrame,
                      *, buckets: int = BUCKETS) -> dict:
    """Fit the importance model from two (id, b, c) count tables
    (doc_bucket_counts output). Returns
    {"ratios": DF(b, lr), "totals": DF(t_total, r_total)} where
    lr = ln(Ct_b+1) − ln(Cr_b+1) over buckets seen in EITHER corpus
    (unseen buckets have lr = 0 by construction — coalesce at join
    time).

    The joint count table is ≤ B rows by construction, so it is
    COLLECTED once (the bounded-driver-collect discipline — B caps it
    at any corpus size) and ratios/totals are rebuilt as LOCAL
    DataFrames: the fit is exactly one Spark job, and the two
    broadcast builds downstream have no upstream to recompute.
    ln stays a Spark expression over the local rows so the arithmetic
    engine never changes."""
    ct = target_counts.groupBy("b").agg(F.sum("c").alias("ct"))
    cr = raw_counts.groupBy("b").agg(F.sum("c").alias("cr"))
    both = (ct.join(cr, "b", "full")
            .select("b",
                    F.coalesce("ct", F.lit(0)).alias("ct"),
                    F.coalesce("cr", F.lit(0)).alias("cr")))
    rows = [(r["b"], r["ct"], r["cr"]) for r in both.collect()]  # ≤ B
    spark = target_counts.sparkSession
    counts = spark.createDataFrame(rows or [(0, 0, 0)],
                                   "b long, ct long, cr long")
    if not rows:
        counts = counts.filter(F.lit(False))
    ratios = counts.select(
        "b",
        (F.log((F.col("ct") + 1).cast("double"))
         - F.log((F.col("cr") + 1).cast("double"))).alias("lr"))
    totals = spark.createDataFrame(
        [(sum(r[1] for r in rows), sum(r[2] for r in rows))],
        "t_total long, r_total long")
    return {"ratios": ratios, "totals": totals, "buckets": buckets}


def dsir_weights(pool_counts: DataFrame, model: dict,
                 *, id_col: str = "doc_id") -> DataFrame:
    """(id, n_feats, logw): per-document importance log-weight of the
    pool under the fitted model. ``pool_counts`` is a
    doc_bucket_counts table (normally the same one the raw side of
    the model was fitted on). Broadcast join + one groupBy(id)
    shuffle; the per-doc fold runs over c·lr terms sorted by bucket
    id — a TOTAL order (buckets are distinct within a doc), so the
    sum is order-fixed on any partitioning and mirrored exactly by
    the oracle's ``list_reduce(list(c*lr ORDER BY b))``."""
    b = F.lit(model["buckets"]).cast("double")
    terms = (pool_counts
             .join(F.broadcast(model["ratios"]), "b", "left")
             .select(F.col(id_col), F.col("b"), F.col("c"),
                     (F.col("c").cast("double")
                      * F.coalesce("lr", F.lit(0.0))).alias("t")))
    folded = (terms.groupBy(id_col).agg(
        F.sum("c").alias("n_feats"),
        F.reduce(
            F.array_sort(F.collect_list(F.struct("b", "t"))),
            F.lit(0.0),
            lambda acc, x: acc + x["t"]).alias("_core")))
    return (folded.crossJoin(F.broadcast(model["totals"]))
            .select(
                F.col(id_col),
                F.col("n_feats"),
                (F.col("_core")
                 + F.col("n_feats").cast("double")
                 * (F.log(F.col("r_total").cast("double") + b)
                    - F.log(F.col("t_total").cast("double") + b)))
                .alias("logw")))


def dsir_select(target_docs: DataFrame, pool_docs: DataFrame, k: int,
                *, id_col: str = "doc_id", text_col: str = "text",
                buckets: int = BUCKETS) -> DataFrame:
    """The whole selection: fit on (target, pool), score the pool,
    keep the k highest-weight documents (ties broken by id, ascending
    — deterministic across partitionings). Returns
    (id, n_feats, logw) with logw UN-floored; gate queries floor it
    for the cross-engine compare.

    The pool's count table is materialized once (localCheckpoint) —
    the expensive tokenize+md5 text pass runs exactly ONCE, consumed
    by the fit's bounded collect and then the scoring join."""
    t_cnt = doc_bucket_counts(target_docs, id_col=id_col,
                              text_col=text_col, buckets=buckets)
    p_cnt = doc_bucket_counts(pool_docs, id_col=id_col,
                              text_col=text_col,
                              buckets=buckets).transform(materialize)
    model = bucket_log_ratios(t_cnt, p_cnt, buckets=buckets)
    scored = dsir_weights(p_cnt, model, id_col=id_col)
    return scored.orderBy(F.desc("logw"), F.asc(id_col)).limit(k)


def save_dsir_model(model: dict, path: str) -> None:
    """Persist the fitted importance model as a lakehouse asset so one
    fit scores many pools/streams. EPOCH discipline, because a plain
    in-place overwrite is not re-save-crash-safe (new ratios + stale
    totals would load as a silently inconsistent model): each save
    writes ratios to a fresh ``ratios-e{N}`` directory and then
    commits by writing meta.json (tmp+rename, atomic) carrying the
    epoch — a crash anywhere before the meta commit leaves the
    previous (epoch, ratios, totals) triple fully consistent. Old
    epoch directories are swept only AFTER the commit."""
    import json

    from myhadoop_spark.fsutil import hadoop_fs, read_small_file, \
        write_small_file

    spark = model["ratios"].sparkSession
    prev = read_small_file(spark, f"{path}/meta.json")
    epoch = 0
    if prev is not None:
        try:
            epoch = json.loads(prev).get("epoch", 0) + 1
        except ValueError:
            epoch = 0  # corrupt meta: nothing consistent to preserve
    model["ratios"].write.mode("overwrite").parquet(
        f"{path}/ratios-e{epoch}")
    # output: the one-row totals go into meta.json beside the ratios
    t_total, r_total = model["totals"].collect()[0]
    write_small_file(spark, f"{path}/meta.json",
                     json.dumps({"buckets": model["buckets"],
                                 "t_total": int(t_total),
                                 "r_total": int(r_total),
                                 "epoch": epoch}))
    fs, root = hadoop_fs(spark, path)
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        if (name.startswith("ratios-e") and name != f"ratios-e{epoch}") \
                or name == "ratios":  # legacy pre-epoch layout
            fs.delete(status.getPath(), True)


def load_dsir_model(spark, path: str) -> dict:
    """Reload a persisted model; scoring under it is bitwise-identical
    to scoring under the in-memory original (tested — the log-ratio
    DOUBLES round-trip exactly through parquet, the totals are
    integers)."""
    import json

    from myhadoop_spark.fsutil import read_small_file

    raw = read_small_file(spark, f"{path}/meta.json")
    if raw is None:
        raise FileNotFoundError(f"no DSIR model at {path}")
    meta = json.loads(raw)
    totals = spark.createDataFrame(
        [(meta["t_total"], meta["r_total"])],
        "t_total long, r_total long")
    # the meta's epoch names the ratios directory it was committed
    # with ("ratios" = legacy pre-epoch layout)
    ratios_dir = (f"{path}/ratios-e{meta['epoch']}"
                  if "epoch" in meta else f"{path}/ratios")
    return {"ratios": spark.read.parquet(ratios_dir),
            "totals": totals, "buckets": meta["buckets"]}


def start_dsir_scoring_stream(doc_stream: DataFrame, model: dict, *,
                              out_path: str, checkpoint: str,
                              id_col: str = "doc_id",
                              text_col: str = "text"):
    """Streaming face: weigh each micro-batch of arriving documents
    under a STATIC fitted model (fit once — usually reloaded via
    load_dsir_model — like the reference LM in start_lm_scoring_stream)
    and land (id, n_feats, logw) per batch. foreachBatch because the
    per-doc fold is a batch-shaped aggregation; no streaming state —
    per-batch cost ∝ batch tokens, independent of history. Batches
    land as OVERWRITTEN ``batch_id=<id>`` directories so a crash
    replay cannot double-emit (the bloom_ingest discipline; replay is
    tested)."""

    def _process(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        cnt = doc_bucket_counts(batch, id_col=id_col,
                                text_col=text_col,
                                buckets=model["buckets"])
        (dsir_weights(cnt, model, id_col=id_col)
         .write.mode("overwrite")
         .parquet(f"{out_path}/batch_id={batch_id}"))

    return (doc_stream.writeStream
            .foreachBatch(_process)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())
