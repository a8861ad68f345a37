"""BM25 lexical retrieval — the keyword-search half of a hybrid RAG
stack (the ANN index, operators/ivf_index.py, is the other half;
``rrf_fuse`` below joins them).

Scoring (Robertson/Sparck Jones BM25, tf-saturation + length
normalization), with the repo's cross-engine exactness discipline
applied to the idf: the standard ``ln((N − df + ½)/(df + ½) + 1)``
is NOT reproducible bitwise across engines (measured: 84/500 last-ulp
mismatches between Spark's and DuckDB's ln over this fixture's idf
range), so the engine ships the RATIONAL idf

    idf(t) = ((N − df_t) + 0.5) / (df_t + 0.5)

— the same exact-integer-ratio move as tfidf_top_terms
(queries/corpus_stats.py). Per term this is a monotone transform of
the log form (per-term rankings identical); summed across query terms
the weighting differs from log-BM25 — rare terms weigh relatively
more — which is the documented trade for bit-exact + / × / ÷-only
arithmetic that DuckDB reproduces exactly.

Determinism of the sum: floating addition is order-sensitive and a
groupBy SUM over shuffled rows has no order guarantee, so the score
is assembled per document as a FIXED-ORDER fold over the query terms
(one conditional aggregate per term — each aggregates exactly one
row — then a left-associated ``(s0 + s1) + s2`` chain mirrored
literally in the oracle SQL).

Scale shape — NO explode, NO wide shuffle: the query-term list is
fixed and small, so per-term tf lives as one narrow array-count
column per term (F.size of the term-filtered token array) beside dl
in a single projection; N, Σdl, and every per-term df collapse into
ONE single-row aggregate that broadcasts back into the scoring
projection. Two corpus passes total (the stats aggregate, then the
scorer — corpus-dependent normalization can't do fewer without
caching), versus the explode-based formulation's three passes plus
two (doc,term)-hash shuffles under Catalyst's no-subtree-sharing.
The only wide operator in bm25_rank is the final top-k.

Reference analog: none — §2.3 extension surface (SURVEY.md §2.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from myhadoop_spark.functions.text import tokens

K1 = 1.2
B = 0.75


def term_score(i: int, k1: float = K1, b: float = B):
    """BM25 contribution of query term ``i`` — reads the ``_tf{i}``,
    ``_df{i}``, ``dl``, ``n_docs``, ``avgdl`` columns; NULL when the
    document lacks the term (a NULL or 0 ``_tf{i}`` both land in the
    NULL branch). Shared by the per-query scorer below and the
    persistent-index probe (operators/bm25_index.py) so the two paths
    are bitwise-identical by construction."""
    tf, dft = F.col(f"_tf{i}"), F.col(f"_df{i}")
    idf = (((F.col("n_docs") - dft) + F.lit(0.5))
           / (dft + F.lit(0.5)))
    return F.when(tf > 0, idf * (
        (tf * (F.lit(k1) + F.lit(1.0)))
        / (tf + (F.lit(k1)
                 * ((F.lit(1.0) - F.lit(b))
                    + (F.lit(b) * (F.col("dl").cast("double")
                                   / F.col("avgdl"))))))))


def fold_scores(n_terms: int, k1: float = K1, b: float = B):
    """(score, matched): the fixed-order left-associated fold over the
    query terms — float addition order is pinned and mirrored literally
    in the oracle SQL."""
    score = F.coalesce(term_score(0, k1, b), F.lit(0.0))
    matched = term_score(0, k1, b).isNotNull()
    for i in range(1, n_terms):
        score = score + F.coalesce(term_score(i, k1, b), F.lit(0.0))
        matched = matched | term_score(i, k1, b).isNotNull()
    return score, matched


def bm25_scores(docs: DataFrame, query_terms: list[str], *,
                k1: float = K1, b: float = B, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(id, score): rational-idf BM25 of every document that matches at
    least one query term. Arithmetic is fully parenthesized and
    mirrored by the Python model in tests/test_bm25.py — do not
    "simplify" the expression shapes, bitwise parity depends on them."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    # materialize the token array in its own projection: it is
    # referenced k+1 times below, which blocks CollapseProject from
    # inlining the regex split into every size/filter (the HOF
    # recompute trap — operators/substring.py, decontam.py precedent)
    def _is(term: str):
        # a closure, NOT `lambda t, term=term: ...` — F.filter treats a
        # two-parameter lambda as its (element, index) form and would
        # pass the array index into the default arg
        return lambda t: t == F.lit(term)

    base = (docs
            .select(F.col(id_col).alias("_id"),
                    tokens(text_col).alias("_toks"))
            .select(
                "_id",
                F.size("_toks").alias("dl"),
                *[F.size(F.filter(F.col("_toks"), _is(term)))
                  .cast("double").alias(f"_tf{i}")
                  for i, term in enumerate(query_terms)]))

    # ONE single-row aggregate: corpus size, avg doc length, and every
    # per-term document frequency — broadcast back into the scorer
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl").cast("double")
         / F.count(F.lit(1)).cast("double")).alias("avgdl"),
        *[F.sum((F.col(f"_tf{i}") > 0).cast("long")).cast("double")
          .alias(f"_df{i}") for i in range(len(query_terms))])

    score, matched = fold_scores(len(query_terms), k1, b)
    return (base.crossJoin(F.broadcast(stats))
            .filter(matched)
            .select(F.col("_id").alias(id_col), score.alias("score")))


def bm25_rank(docs: DataFrame, query_terms: list[str], *,
              top_k: int = 10, k1: float = K1, b: float = B,
              id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """(id, score, rn): the top_k documents by BM25, deterministic
    tie-break on ascending id."""
    scored = bm25_scores(docs, query_terms, k1=k1, b=b, id_col=id_col,
                         text_col=text_col)
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= top_k))


def rrf_fuse(rankings: list[DataFrame], *, id_col: str = "doc_id",
             rank_col: str = "rn", k: int = 60,
             top_k: int = 10) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of N ranked lists
    — the standard hybrid-retrieval combiner for BM25 + ANN results:
    rrf(d) = Σ_systems 1/(k + rank_s(d)), missing entries contribute
    nothing. Rank-based, so the two systems' incomparable score scales
    never mix; the sum is a fixed-order left fold over the systems (the
    same float-determinism discipline as bm25_scores). Each input needs
    (id_col, rank_col)."""
    if not rankings:
        raise ValueError("rankings must be non-empty")
    sides = []
    for i, r in enumerate(rankings):
        sides.append(r.select(F.col(id_col).alias("_id"),
                              (F.lit(1.0)
                               / (F.lit(float(k)) + F.col(rank_col)
                                  .cast("double"))).alias(f"_c{i}")))
    fused = sides[0]
    for i in range(1, len(sides)):
        fused = fused.join(sides[i], "_id", "full")
    contrib = F.coalesce(F.col("_c0"), F.lit(0.0))
    for i in range(1, len(sides)):
        contrib = contrib + F.coalesce(F.col(f"_c{i}"), F.lit(0.0))
    w = Window.orderBy(F.col("rrf").desc(), F.col("_id").asc())
    return (fused.select("_id", contrib.alias("rrf"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= top_k)
            .select(F.col("_id").alias(id_col), "rrf", "rn"))
