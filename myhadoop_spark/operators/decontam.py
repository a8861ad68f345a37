"""Benchmark decontamination — train/eval n-gram overlap detection.

The training-data op the dedup family doesn't cover: before training,
every document that shares verbatim n-gram spans with an evaluation
benchmark must be found (and usually dropped), or downstream eval is
contaminated. The standard method (GPT-3 appendix C and successors) is
exact n-gram collision: a corpus document is contaminated if any length-n
token shingle also occurs in the benchmark set.

Spark-first shape — an inverted shingle index, never all-pairs:

    corpus:  tokenize → length-n shingles → 48-bit hash → explode DISTINCT
    bench:   same, then DISTINCT (shingle, bench_doc)   [tiny: eval sets
             are KBs-MBs against a 100 TB corpus → broadcast]
    join on the shingle hash; per (corpus_doc, bench_doc) count shared
    shingles; threshold.

Candidate volume is Σ_shingle (corpus_docs × bench_docs sharing it) —
the same bucketed-join discipline as dedup_minhash/embed_neardup, and
the join build side is the broadcast benchmark index, so the corpus
streams through narrow with NO shuffle at all in the broadcast regime.
Hashing is md5-derived and deterministic (collision rate ~n²/2^49 —
negligible at eval-set scale, and engine-identical by construction, so
a DuckDB twin reproduces results bitwise; tests/test_decontam.py runs
that differential).

Reference provenance: no analog — the reference has no similarity or
curation surface at all (its data plane is map/shuffle/reduce,
/root/reference/datanode.py:574-667); this extends SURVEY.md §2.3.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from myhadoop_spark.functions.text import tokens

DEFAULT_N = 5  # tokens per shingle; 8-13 typical for web corpora,
               # 5 suits the short fixture documents


def shingle_hashes(df: DataFrame, id_col: str, text_col: str,
                   n: int = DEFAULT_N, wide: bool = False) -> DataFrame:
    """(id, text) → exploded (id, sh): the document's DISTINCT length-n
    token-shingle hashes (48-bit md5 prefix). Whitespace tokenization
    matches the dedup family; all narrow codegen expressions — the only
    wide op in any caller is the final join."""
    if wide:
        df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    toks = tokens(text_col)
    # materialize the token array in its own projection: it is referenced
    # 2(n-1)+1 times below, which blocks CollapseProject from inlining the
    # regex split into the gram construction (a single-use reference would
    # be inlined and re-split the text per reference — the r4 substring
    # lesson, operators/substring.py::window_hash_rows)
    base = df.select(F.col(id_col).alias("_id"), toks.alias("_toks"))
    tk = F.col("_toks")
    # grams by zipping the token array with its own shifted copies: each
    # slice is evaluated ONCE per row (the zip_with lambda never touches
    # the outer array, unlike a transform(sequence, i -> slice(tk, i, n))
    # formulation, whose per-position slice re-evaluates its single-use
    # inlined input per POSITION — measured 3.7 s warm vs 0.9 s for this
    # shape on the sf0.1 gate query). F.concat propagates the null
    # padding zip_with adds past the shorter array, so incomplete tail
    # grams become null and one filter drops them — short docs (< n
    # tokens) degrade to an all-null, then empty, gram list for free.
    g = tk
    for j in range(2, n + 1):
        shifted = F.slice(tk, j, F.greatest(F.size(tk) - (j - 1), F.lit(0)))
        g = F.zip_with(g, shifted,
                       lambda a, b: F.concat(a, F.lit(" "), b))
    grams = F.filter(g, lambda x: x.isNotNull())
    sh = F.array_distinct(F.transform(
        grams,
        lambda s: F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("long"),
    ))
    return (base.select("_id", F.explode(sh).alias("sh"))
            .select(F.col("_id").alias(id_col), "sh"))


def contamination_pairs(corpus: DataFrame, bench: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        n: int = DEFAULT_N, min_shared: int = 1,
                        broadcast_bench: bool = True) -> DataFrame:
    """(corpus_id, bench_id, n_shared) for every corpus document sharing
    ≥ min_shared distinct n-gram shingles with a benchmark document.
    broadcast_bench=True is the production shape (eval sets are tiny);
    pass False to force a shuffle join when the 'benchmark' is another
    large corpus (cross-corpus overlap audits)."""
    c = shingle_hashes(corpus, id_col, text_col, n).withColumnRenamed(
        id_col, "corpus_id")
    b = shingle_hashes(bench, id_col, text_col, n).withColumnRenamed(
        id_col, "bench_id")
    if broadcast_bench:
        b = F.broadcast(b)
    return (
        c.join(b, "sh")
        .groupBy("corpus_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
