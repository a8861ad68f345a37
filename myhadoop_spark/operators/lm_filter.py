"""Bigram language-model perplexity filter — the KenLM-shaped quality
gate of the CCNet / DCLM / Gopher curation pipelines: train n-gram
counts on a trusted reference corpus, score candidate documents by
smoothed perplexity, drop the tail.

Model: add-α smoothed bigram LM.

    p(w2 | w1) = (c(w1 w2) + α) / (c(w1) + α·V)
    nll(doc)   = −(Σ ln p over the doc's bigrams) / n_bigrams
    ppl(doc)   = exp(nll)

Scale shape: the trained counts are TABLES, not a driver-side model —
score-time is (candidate bigrams) ⋈ (bigram counts) ⋈ (unigram
counts), two equi-joins that shuffle ∝ corpus tokens and LM size, the
same plan at 5 k docs and 100 TB (a KenLM binary would be a per-
executor memory object; count tables co-partition and spill like any
other join). When the reference LM is small — the common case: a
curated reference corpus — pass ``broadcast_lm=True`` and both joins
become broadcast hash joins with ZERO shuffle on the candidate side.

Float-determinism discipline: a per-doc SUM over shuffled join output
has no addition order, so the per-bigram log-probs are re-assembled
in POSITION ORDER (sort_array over (pos, lp) structs) and reduced
with a left fold (F.reduce) — bitwise-reproducible on any
partitioning, and mirrored by the pure-Python model in
tests/test_lm_filter.py. ln() itself is engine-exact-UNSAFE across
Spark/DuckDB (84/500 last-ulp mismatches measured for bm25's idf
range), so the DuckDB differential compares ppl ROUNDED to 1e-6 (the
simsearch cosine precedent); the bitwise contract is pinned against
the Python model instead.

Reference analog: none — §2.3 extension surface (SURVEY.md §2.3);
same family as the integer classifier gate (operators/classifier.py),
trading its engine-bitwise arithmetic for the standard perplexity
semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from myhadoop_spark.functions.text import tokens

ALPHA = 0.4


def train_bigram_lm(ref_docs: DataFrame, *, text_col: str = "text") -> dict:
    """Count tables from the reference corpus:
    {"bigrams": (w1, w2, c2), "unigrams": (w1, c1), "vocab_size": V}.
    V counts distinct tokens (the smoothing denominator's event
    space). The counts stay DataFrames — persist them with .write if
    the LM is reused across jobs."""
    toks = ref_docs.select(tokens(text_col).alias("_toks"))
    toks = toks.filter(F.size("_toks") > 0)
    uni = (toks.select(F.explode("_toks").alias("w1"))
           .groupBy("w1").agg(F.count(F.lit(1)).alias("c1")))
    pairs = toks.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("_toks"), 1, F.size("_toks") - 1),
                F.slice(F.col("_toks"), 2, F.size("_toks") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))))
        .alias("bg"))
    big = (pairs.select("bg.w1", "bg.w2")
           .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2")))
    # output: vocabulary size V is the add-one smoothing denominator
    v = uni.count()
    if v == 0:
        # fail loudly: with V=0 every smoothed probability divides by
        # zero to +Inf and every candidate would score ppl=0.0 — the
        # quality gate would silently pass the whole corpus
        raise ValueError("reference corpus has no tokens — cannot "
                         "train a bigram LM")
    return {"bigrams": big, "unigrams": uni, "vocab_size": v}


def score_perplexity(docs: DataFrame, lm: dict, *, alpha: float = ALPHA,
                     id_col: str = "doc_id", text_col: str = "text",
                     broadcast_lm: bool = False) -> DataFrame:
    """(id, n_bigrams, ppl): add-α bigram perplexity of every document
    with ≥ 2 tokens (shorter docs carry no bigram evidence and are
    omitted — gate them on length upstream, queries/text.py). Unseen
    bigrams/unigrams smooth to α / (c1 + αV) and α / (αV)."""
    big, uni = lm["bigrams"], lm["unigrams"]
    if broadcast_lm:
        big, uni = F.broadcast(big), F.broadcast(uni)
    v = float(lm["vocab_size"])

    toks = docs.select(F.col(id_col).alias("_id"),
                       tokens(text_col).alias("_toks"))
    pairs = (toks.filter(F.size("_toks") >= 2)
             .select("_id", F.size("_toks").alias("_n"),
                     F.posexplode(
                         F.zip_with(
                             F.slice(F.col("_toks"), 1,
                                     F.size("_toks") - 1),
                             F.slice(F.col("_toks"), 2,
                                     F.size("_toks") - 1),
                             lambda a, b: F.struct(a.alias("w1"),
                                                   b.alias("w2"))))
                     .alias("pos", "bg"))
             .select("_id", "_n", "pos", "bg.w1", "bg.w2"))

    joined = (pairs
              .join(big, ["w1", "w2"], "left")
              .join(uni, ["w1"], "left")
              .select(
                  "_id", "_n", "pos",
                  F.log((F.coalesce(F.col("c2"), F.lit(0))
                         .cast("double") + F.lit(alpha))
                        / (F.coalesce(F.col("c1"), F.lit(0))
                           .cast("double")
                           + (F.lit(alpha) * F.lit(v)))).alias("lp")))

    # position-ordered left fold: bitwise on any partitioning
    return (joined.groupBy("_id", "_n")
            .agg(F.sort_array(F.collect_list(F.struct("pos", "lp")))
                 .alias("_lps"))
            .select(
                F.col("_id").alias(id_col),
                (F.col("_n") - 1).alias("n_bigrams"),
                F.exp(
                    -F.reduce(F.col("_lps"), F.lit(0.0),
                              lambda acc, x: acc + x["lp"])
                    / (F.col("_n") - 1).cast("double")).alias("ppl")))


def lm_quality_filter(docs: DataFrame, lm: dict, *, max_ppl: float,
                      alpha: float = ALPHA, id_col: str = "doc_id",
                      text_col: str = "text",
                      broadcast_lm: bool = False) -> DataFrame:
    """Documents whose reference-LM perplexity is ≤ ``max_ppl`` —
    the keep side of the quality gate, original columns preserved,
    ``ppl`` attached for auditing. Documents with < 2 tokens are
    dropped (no evidence either way; screen them with the length
    heuristics upstream if they should survive)."""
    scored = score_perplexity(docs, lm, alpha=alpha, id_col=id_col,
                              text_col=text_col,
                              broadcast_lm=broadcast_lm)
    return (docs.join(scored.filter(F.col("ppl") <= max_ppl)
                      .select(F.col(id_col), "ppl"), id_col))


def save_lm(lm: dict, path: str) -> None:
    """Persist the LM as a lakehouse asset (the index-table discipline:
    counts as parquet, scalars in a crash-safe metadata file) so a
    trained reference LM is reusable across jobs and sessions."""
    import json

    from myhadoop_spark.fsutil import write_small_file

    spark = lm["bigrams"].sparkSession
    lm["bigrams"].write.mode("overwrite").parquet(f"{path}/bigrams")
    lm["unigrams"].write.mode("overwrite").parquet(f"{path}/unigrams")
    write_small_file(spark, f"{path}/meta.json",
                     json.dumps({"vocab_size": lm["vocab_size"]}))


def load_lm(spark, path: str) -> dict:
    """Reload a persisted LM; scoring under it is bitwise-identical to
    scoring under the in-memory original (tested — counts are integers
    and vocab_size round-trips exactly)."""
    import json

    from myhadoop_spark.fsutil import read_small_file

    raw = read_small_file(spark, f"{path}/meta.json")
    if raw is None:
        raise FileNotFoundError(f"no LM at {path}")
    return {"bigrams": spark.read.parquet(f"{path}/bigrams"),
            "unigrams": spark.read.parquet(f"{path}/unigrams"),
            "vocab_size": json.loads(raw)["vocab_size"]}


def start_lm_scoring_stream(doc_stream: DataFrame, lm: dict, *,
                            out_path: str, checkpoint: str,
                            alpha: float = ALPHA,
                            id_col: str = "doc_id",
                            text_col: str = "text"):
    """Streaming face: score each micro-batch of arriving documents
    under the STATIC reference LM and append (id, n_bigrams, ppl) to
    the sink — ingest-time quality scoring, the lm twin of
    streaming/decontam_stream.py. foreachBatch (the bloom_ingest
    pattern) because the per-doc fold is a batch-shaped aggregation;
    every batch is self-contained, so no streaming state at all. The
    LM broadcasts (it is a curated reference corpus — small by
    construction); per-batch cost ∝ batch tokens, independent of
    stream history. Each batch lands as an OVERWRITTEN
    ``batch_id=<id>`` directory, not a bare append — foreachBatch
    replays a batch after a crash, and replaying an append would
    double-emit (the bloom_ingest discipline); replay is tested."""

    def _process(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        (score_perplexity(batch, lm, alpha=alpha, id_col=id_col,
                          text_col=text_col, broadcast_lm=True)
         .write.mode("overwrite")
         .parquet(f"{out_path}/batch_id={batch_id}"))

    return (doc_stream.writeStream
            .foreachBatch(_process)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())
