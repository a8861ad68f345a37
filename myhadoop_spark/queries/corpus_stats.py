"""Corpus-level text analytics: vocabulary coverage, bigrams, TF-IDF,
quality-weighted sampling — the statistics a training-data pipeline
computes before and after curation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from myhadoop_spark.catalog import load
from myhadoop_spark.functions.text import sql_hash_bucket, sql_tokens, tokens
from myhadoop_spark.registry import register

# ---------------------------------------------------------------------------
# vocabulary with cumulative coverage
# ---------------------------------------------------------------------------


@register(
    "ngram_stats",
    oracle=rf"""
    WITH t AS (SELECT unnest({sql_tokens('text')}) AS word FROM documents),
    c AS (SELECT word, COUNT(*) AS freq FROM t GROUP BY word),
    tot AS (SELECT SUM(freq) AS n FROM c),
    r AS (SELECT word, freq,
                 ROW_NUMBER() OVER (ORDER BY freq DESC, word ASC) AS rank,
                 SUM(freq) OVER (ORDER BY freq DESC, word ASC
                                 ROWS UNBOUNDED PRECEDING) AS cum
          FROM c),
    toks AS (SELECT doc_id, {sql_tokens('text')} AS t FROM documents),
    b AS (SELECT unnest(list_transform(
                     generate_series(1, len(t) - 1),
                     i -> concat(t[i], ' ', t[i + 1]))) AS bigram
          FROM toks WHERE len(t) >= 2),
    p AS (SELECT doc_id,
                 unnest(list_transform(
                     generate_series(1, least(len(t), 3)),
                     i -> struct_pack(pos := i - 1, tok := t[i]))) AS s
          FROM toks WHERE len(t) > 0)
    SELECT 'uni' AS kind, word AS gram, freq,
           CAST(rank AS BIGINT) AS rank,
           CAST(cum AS DOUBLE) / (SELECT n FROM tot) AS cum_coverage
    FROM r
    UNION ALL
    SELECT 'bi', bigram, COUNT(*), NULL, NULL
    FROM b GROUP BY bigram HAVING COUNT(*) >= 5
    UNION ALL
    SELECT 'pos', s.tok, COUNT(*), CAST(s.pos AS BIGINT), NULL
    FROM p GROUP BY s.pos, s.tok
    """,
    gate=False,  # demoted r13 (for the video_neardup promotion): its
    #              machinery is gate-pinned elsewhere — token explode +
    #              grouped count by wc/wc_reference_corpus, the in-array
    #              gram build by udtf_tokens and the gram-join family
    #              (ppjoin_pairs/edit_dist_join), the vocabulary ranking
    #              window by window_fns. Stays a full ungated
    #              differential.
    tags=("text", "extension"),
)
def ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram statistics battery, tagged by kind:

      * ``uni`` — frequency-ranked vocabulary with cumulative corpus
        coverage (the curve that decides a tokenizer's vocab size);
      * ``bi`` — adjacent-token bigram frequencies (≥5), formed inside
        the token array (transform over an index sequence) before one
        explode — no self-join of token positions;
      * ``pos`` — document-opening token frequencies for positions 0-2
        via posexplode (the ordinality-preserving row expansion).

    Counts are exact ints, so coverage ratios are engine-identical.
    Scale: three grouped aggregates over one documents scan each; the
    global unigram ranking window is the only single-partition stage and
    operates on the (small) distinct-vocabulary aggregate, not the
    corpus."""
    docs = load(spark, sf_dir, "documents")
    null_rank = F.lit(None).cast("bigint")
    null_cov = F.lit(None).cast("double")
    # unigrams + coverage
    words = docs.select(F.explode(tokens()).alias("word"))
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    total = counts.agg(F.sum("freq").alias("n"))
    w = Window.orderBy(F.col("freq").desc(), F.col("word").asc())
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    uni = (
        counts.select(
            "word", "freq",
            F.row_number().over(w).cast("bigint").alias("rank"),
            F.sum("freq").over(wcum).alias("cum"))
        .crossJoin(F.broadcast(total))
        .select(
            F.lit("uni").alias("kind"), F.col("word").alias("gram"), "freq",
            "rank", (F.col("cum").cast("double") / F.col("n"))
            .alias("cum_coverage"))
    )
    # bigrams
    toks = docs.select(tokens().alias("t")).filter(F.size("t") >= 2)
    bi = (
        toks.select(F.explode(F.expr(
            "transform(sequence(1, size(t) - 1),"
            " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
        )).alias("gram"))
        .groupBy("gram").agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= 5)
        .select(F.lit("bi").alias("kind"), "gram", "freq",
                null_rank.alias("rank"), null_cov.alias("cum_coverage"))
    )
    # opening-position tokens (posexplode)
    pos = (
        docs.select(F.posexplode(F.slice(tokens(), 1, 3)).alias("pos", "gram"))
        .groupBy("pos", "gram").agg(F.count(F.lit(1)).alias("freq"))
        .select(F.lit("pos").alias("kind"), "gram", "freq",
                F.col("pos").cast("bigint").alias("rank"),
                null_cov.alias("cum_coverage"))
    )
    return uni.unionAll(bi).unionAll(pos)


# ---------------------------------------------------------------------------
# TF-IDF (rational idf — ln() differs across engines in the last ulp,
# so the idf factor is kept as an exact ratio)
# ---------------------------------------------------------------------------


@register(
    "tfidf_top_terms",
    oracle=rf"""
    WITH toks AS (SELECT doc_id, unnest({sql_tokens('text')}) AS term
                  FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
           GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (SELECT tf.doc_id, tf.term,
                      CAST(tf.tf AS DOUBLE) * (SELECT n_docs FROM n) / df.df
                        AS tfidf
               FROM tf JOIN df ON tf.term = df.term),
    r AS (SELECT doc_id, term, tfidf,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY tfidf DESC, term ASC) AS rn
          FROM scored)
    SELECT doc_id, term, tfidf, CAST(rn AS INT) AS rn
    FROM r WHERE rn <= 3
    """,
    tags=("text", "extension"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf·(N/df) — linear
    idf so every score is a ratio of exact integers (bit-identical
    across engines, unlike log-idf whose libm rounding differs)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens()).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    # lazy corpus size — an eager .count() here would run an extra scan
    # job at every plan build (same pattern as vocab_coverage)
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .select("doc_id", "term",
                (F.col("tf").cast("double") * F.col("n_docs") / F.col("df"))
                .alias("tfidf"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(),
                                             F.col("term").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf", "rn")
    )


# ---------------------------------------------------------------------------
# BM25 lexical retrieval (operators/bm25.py) — ungated oracle query:
# rational-idf BM25 (ln differs across engines in the last ulp — same
# discipline as tfidf above) with a fixed-order score fold, so the
# DuckDB differential matches BITWISE. The hybrid face (RRF fusion
# with the ANN index) is tested in tests/test_bm25.py.
# ---------------------------------------------------------------------------

_BM25_TERMS = ("window", "merge", "scan")
_BM25_TOPK = 20
_BM25_K1, _BM25_B = 1.2, 0.75


@register(
    "bm25_search",
    oracle=rf"""
    WITH dl AS (SELECT doc_id,
                       CAST(len({sql_tokens('text')}) AS BIGINT) AS dl
                FROM documents),
    stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                     CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                       AS avgdl
              FROM dl),
    toks AS (SELECT doc_id, unnest({sql_tokens('text')}) AS term
             FROM documents),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
           FROM toks WHERE term IN ('window', 'merge', 'scan')
           GROUP BY doc_id, term),
    dfq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS dft
            FROM tf GROUP BY term),
    ts AS (SELECT tf.doc_id, tf.term,
                  ((((SELECT n_docs FROM stats) - dfq.dft) + 0.5)
                   / (dfq.dft + 0.5))
                  * ((tf.tf * ({_BM25_K1} + 1.0))
                     / (tf.tf + ({_BM25_K1}
                        * ((1.0 - {_BM25_B})
                           + ({_BM25_B} * (CAST(dl.dl AS DOUBLE)
                              / (SELECT avgdl FROM stats))))))) AS tsc
           FROM tf JOIN dfq ON tf.term = dfq.term
                   JOIN dl ON tf.doc_id = dl.doc_id),
    agg AS (SELECT doc_id,
                   SUM(CASE WHEN term = 'window' THEN tsc END) AS s0,
                   SUM(CASE WHEN term = 'merge' THEN tsc END) AS s1,
                   SUM(CASE WHEN term = 'scan' THEN tsc END) AS s2
            FROM ts GROUP BY doc_id),
    scored AS (SELECT doc_id,
                      ((COALESCE(s0, 0.0) + COALESCE(s1, 0.0))
                       + COALESCE(s2, 0.0)) AS score
               FROM agg)
    SELECT doc_id, score, rn FROM (
        SELECT doc_id, score,
               CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC)
                    AS INT) AS rn
        FROM scored)
    WHERE rn <= {_BM25_TOPK}
    """,
    tags=("text", "retrieval", "extension"),
    gate=False,
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{20} documents for the fixed query ('window', 'merge',
    'scan') by rational-idf BM25 — operators/bm25.py; scores match the
    DuckDB oracle bitwise (no flooring needed: the arithmetic is
    + / × / ÷ on identical doubles in an identical, fully-parenthesized
    order on both sides)."""
    from myhadoop_spark.operators.bm25 import bm25_rank

    return (bm25_rank(load(spark, sf_dir, "documents")
                      .select("doc_id", "text"),
                      list(_BM25_TERMS), top_k=_BM25_TOPK,
                      k1=_BM25_K1, b=_BM25_B)
            .select("doc_id", "score", "rn"))


# (quality-weighted sampling lives in the sampling battery,
# queries/sampling.py — it shares the id-hash acceptance machinery with
# the other deterministic samplers)


# ---------------------------------------------------------------------------
# Count-Min Sketch point-frequency estimates (r9, operators/cms.py).
# Deliberately UNDERSIZED (depth 4 x width 8 against a ~31-term
# vocabulary) so bucket collisions are real and the min-over-rows
# logic plus the est >= exact overshoot are live in the differential —
# a full-width sketch would estimate exactly and test nothing.
# ---------------------------------------------------------------------------

_CMS_D = 4
_CMS_W = 8


def _sql_cms_bucket(j: int | str, term: str) -> str:
    """The oracle twin of operators/cms.py's row bucket: hash_bucket
    of '<j>:' || term, ``j`` a row number or a SQL expression."""
    return sql_hash_bucket(f"concat({j}, ':', {term})", _CMS_W)


@register(
    "cms_freq",
    oracle=f"""
    WITH occ AS (SELECT unnest({sql_tokens('text')}) AS term
                 FROM documents),
    exact AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS exact_c
              FROM occ GROUP BY term),
    cms AS (SELECT j, bucket, CAST(SUM(c) AS BIGINT) AS c FROM (
              {' UNION ALL '.join(
                  f"SELECT {j} AS j, {_sql_cms_bucket(j, 'term')} AS bucket,"
                  f" 1 AS c FROM occ" for j in range(_CMS_D))})
            GROUP BY j, bucket),
    probe AS (SELECT term, exact_c, j.j AS j,
                     {_sql_cms_bucket('j.j', 'term')} AS bucket
              FROM exact CROSS JOIN
                   (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS j) j),
    est AS (SELECT term, exact_c,
                   CAST(MIN(COALESCE(cms.c, 0)) AS BIGINT) AS est_c
            FROM probe LEFT JOIN cms USING (j, bucket)
            GROUP BY term, exact_c)
    SELECT term, exact_c, est_c, est_c - exact_c AS overcount
    FROM est ORDER BY term
    """,
    gate=False,
    tags=("sketch", "extension"),
)
def cms_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(term, exact_c, est_c, overcount) for every vocabulary term:
    the Count-Min estimate vs the exact count. est >= exact ALWAYS
    (every occurrence lands in one bucket per row); overcount is the
    colliding mass the undersized sketch absorbs."""
    from myhadoop_spark.operators.cms import cms_estimate, cms_table

    docs = load(spark, sf_dir, "documents")
    occ = docs.select(F.explode(tokens()).alias("term"))
    exact = occ.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_c"))
    cms = cms_table(occ, "term", depth=_CMS_D, width=_CMS_W)
    est = cms_estimate(cms, exact, "term", depth=_CMS_D, width=_CMS_W)
    return (est.select("term", "exact_c",
                       F.col("est").cast("bigint").alias("est_c"),
                       (F.col("est") - F.col("exact_c")).cast("bigint")
                       .alias("overcount"))
            .orderBy("term"))


@register(
    "sketch_topk",
    # rows-only: MG's per-partition decrement order has no ANSI-SQL
    # twin (the heavy-hitters precedent) — the two-sided bracket is
    # instead pinned against exact counts in tests/test_cms.py
    gate=False,
    tags=("sketch", "composition", "extension"),
)
def sketch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(term, mg_est, err_bound, cms_est, lo, hi): the CMS-bracketed
    Misra-Gries top-20 corpus terms (operators/cms.py::
    cms_verified_topk) — MG proposes from below, CMS caps from above,
    certified interval [lo, hi] per winner. The 4×64 sketch is sized
    so collisions are live but the bracket stays tight."""
    from myhadoop_spark.operators.cms import cms_verified_topk

    docs = load(spark, sf_dir, "documents")
    occ = docs.select(F.explode(tokens()).alias("term"))
    return cms_verified_topk(occ, "term", k=20, capacity=64,
                             depth=_CMS_D, width=64)
