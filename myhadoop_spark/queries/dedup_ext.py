"""Dedup/curation extension queries: exact-substring pair detection,
Bloom-filter incremental membership, and (ungated) document chunking —
§2.3 training-data surface (SURVEY.md §2.3), alongside
queries/dedup.py's minhash/simhash/jaccard family.

These took two former gate slots (sort_topn, join2) whose operator
coverage is subsumed elsewhere in the 50-row window: sort_topn's
TakeOrderedAndProject plan is exercised by topk (and plan-asserted for
both in tests/test_plans.py), sort_full covers the sort semantics, and
join2's equi-join+agg shape is tpch_q3/join_multi's; both remain
implemented, plan-asserted, and oracle-checked in pytest
(tests/test_correctness.py::test_demoted_queries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myhadoop_spark.catalog import load
from myhadoop_spark.operators.bloom import (
    K_HASHES,
    M_BITS,
    bloom_build,
    bloom_probe,
)
from myhadoop_spark.operators.substring import (
    HASH_B,
    HASH_M,
    K_WINDOW,
    MIN_OVERLAP,
    substring_pairs,
)
from myhadoop_spark.registry import register
from myhadoop_spark.materialize import materialize

_TOKS = r"list_filter(string_split_regex(text, '\s+'), t -> t <> '')"


# ---------------------------------------------------------------------------
# exact-substring dedup (operators/substring.py) — suffix-array-dedup
# semantics, distributed as rolling-hash windows + diagonal runs + exact
# token-slice verify.
# ---------------------------------------------------------------------------

_K1 = K_WINDOW - 1
_MIN_RUN = MIN_OVERLAP - K_WINDOW + 1

@register(
    "substring_dedup",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    th AS (SELECT doc_id,
             list_transform(toks, tok ->
               CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT)
                 % {HASH_M}) AS thm
           FROM t),
    w AS (SELECT doc_id,
            unnest(list_transform(
              generate_series(1, greatest(len(thm) - {_K1}, 0)),
              i -> struct_pack(pos := i,
                     wh := list_reduce(
                       list_slice(thm, CAST(i AS INT), CAST(i + {_K1} AS INT)),
                       (a, b) -> (a * {HASH_B} + b) % {HASH_M})))) AS s
          FROM th),
    wf AS (SELECT doc_id, s.pos AS pos, s.wh AS wh FROM w),
    m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.pos AS pa, b.pos - a.pos AS d
          FROM wf a JOIN wf b ON a.wh = b.wh AND a.doc_id < b.doc_id),
    g AS (SELECT doc_a, doc_b, d, pa,
                 pa - ROW_NUMBER() OVER (
                   PARTITION BY doc_a, doc_b, d ORDER BY pa) AS grp
          FROM m),
    runs AS (SELECT doc_a, doc_b, d, min(pa) AS pa_start,
                    count(*) AS run_len
             FROM g GROUP BY doc_a, doc_b, d, grp
             HAVING count(*) >= {_MIN_RUN}),
    ver AS (SELECT r.doc_a, r.doc_b, r.run_len
            FROM runs r
              JOIN t ta ON r.doc_a = ta.doc_id
              JOIN t tb ON r.doc_b = tb.doc_id
            WHERE list_slice(ta.toks, CAST(r.pa_start AS INT),
                             CAST(r.pa_start + r.run_len + {_K1} - 1 AS INT))
                = list_slice(tb.toks, CAST(r.pa_start + r.d AS INT),
                             CAST(r.pa_start + r.d + r.run_len + {_K1} - 1
                                  AS INT)))
    SELECT doc_a, doc_b,
           CAST(max(run_len) + {_K1} AS BIGINT) AS overlap_tokens,
           count(*) AS n_runs
    FROM ver GROUP BY doc_a, doc_b
    """,
    tags=("dedup", "extension", "substring"),
)
def substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs sharing an exact contiguous run of >= 20 tokens —
    the distributed form of suffix-array ExactSubstr dedup (Lee et al.
    2021). See operators/substring.py for the algorithm and the 100 TB
    posture (banded window-hash join, max_df boilerplate guard, exact
    verify on candidates only)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return substring_pairs(docs)


# ---------------------------------------------------------------------------
# Bloom-filter incremental dedup (operators/bloom.py).
# ---------------------------------------------------------------------------

# Deterministic seen/new split: 80% of documents (doc_id % 5 != 0) are
# the already-ingested corpus; ALL documents are probed. Seen documents
# MUST hit (a Bloom filter has no false negatives); unseen ones miss
# unless an (astronomically unlikely at this load factor) false
# positive fires — either way the answer is deterministic and mirrored
# bit-for-bit by the oracle. The filter's n_bits_set/filter_xor
# checksums pin the ENTIRE bitmap, so a single engine-side bit
# difference anywhere in the filter is a hash mismatch even if every
# membership verdict happens to agree.
_SEEN_PRED = "doc_id % 5 <> 0"

_SQL_POSITIONS = f"""list_transform(generate_series(0, {K_HASHES - 1}), i ->
      ((CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) % {M_BITS})
       + i * ((CAST(concat('0x', substr(md5(text), 17, 15)) AS BIGINT)
               % {M_BITS}) | 1)) % {M_BITS})"""


@register(
    "bloom_dedup",
    oracle=f"""
    WITH pos AS (SELECT unnest({_SQL_POSITIONS}) AS p
                 FROM documents WHERE {_SEEN_PRED}),
    words AS (SELECT p // 32 AS word_idx,
                     bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS word
              FROM pos GROUP BY p // 32),
    summary AS (SELECT bit_xor(xor(word, word_idx)) AS filter_xor,
                       CAST(sum(bit_count(word)) AS BIGINT) AS n_bits_set
                FROM words),
    pr AS (SELECT doc_id, unnest({_SQL_POSITIONS}) AS p FROM documents),
    prw AS (SELECT doc_id, p // 32 AS word_idx,
                   CAST(1 AS BIGINT) << CAST(p % 32 AS INT) AS bit
            FROM pr),
    hits AS (SELECT doc_id,
                    bool_and((COALESCE(word, 0) & bit) <> 0) AS bloom_hit
             FROM prw LEFT JOIN words USING (word_idx)
             GROUP BY doc_id)
    SELECT h.doc_id, h.bloom_hit, s.filter_xor, s.n_bits_set
    FROM hits h CROSS JOIN summary s
    """,
    tags=("dedup", "extension", "bloom"),
)
def bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest membership: build a Bloom filter over the
    seen 80% of the corpus, probe every document through it, and attach
    whole-filter checksums. See operators/bloom.py for sizing math and
    the broadcast-shard posture at 10^10-document seen-sets."""
    docs = load(spark, sf_dir, "documents")
    seen = docs.filter(F.expr(_SEEN_PRED)).select("text")
    # r13: materialize the built filter once — it is referenced by the
    # checksum aggregate AND the probe broadcast, so the whole build
    # (k-position explode over the seen set + 32k-key OR-aggregation)
    # used to execute twice per run. The filter is m/32 rows.
    bloom = bloom_build(seen, "text").transform(materialize)
    summary = bloom.agg(
        F.bit_xor(F.col("word").bitwiseXOR(F.col("word_idx")))
        .alias("filter_xor"),
        F.sum(F.bit_count("word")).alias("n_bits_set"))
    hits = bloom_probe(docs.select("doc_id", "text"), "text", bloom,
                       id_cols=["doc_id"])
    return hits.crossJoin(F.broadcast(summary))


# ---------------------------------------------------------------------------
# document chunking (operators/chunking.py) — ungated oracle query: the
# RAG/embedding-pipeline primitive, checked bitwise in pytest
# (tests/test_correctness.py::test_demoted_queries) without taking one
# of the 50 gate slots.
# ---------------------------------------------------------------------------

_CHUNK_C, _CHUNK_V = 32, 8
_CHUNK_STEP = _CHUNK_C - _CHUNK_V

_CHUNK_CTE = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    s AS (SELECT doc_id, toks, len(toks) AS n,
                 unnest(list_filter(
                     range(1, greatest(len(toks), 1) + 1, {_CHUNK_STEP}),
                     s -> len(toks) > 0
                          AND (s = 1 OR s + {_CHUNK_V} <= len(toks)))) AS st
          FROM t),
    c AS (SELECT doc_id,
                 CAST((st - 1) / {_CHUNK_STEP} AS BIGINT) AS chunk_id,
                 st AS start_token,
                 least(n - st + 1, {_CHUNK_C}) AS n_tokens,
                 array_to_string(list_slice(toks, st, st + {_CHUNK_C} - 1),
                                 ' ') AS text
          FROM s)
"""


@register(
    "chunk_docs",
    oracle=f"""
    {_CHUNK_CTE}
    SELECT doc_id, chunk_id, start_token, n_tokens, text FROM c
    """,
    tags=("chunking", "extension"),
    gate=False,
)
def chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunks of every document — see
    operators/chunking.py for semantics and the scale posture
    (shuffle-free narrow projection)."""
    from myhadoop_spark.operators.chunking import chunk_documents

    return chunk_documents(
        load(spark, sf_dir, "documents").select("doc_id", "text"),
        chunk_tokens=_CHUNK_C, overlap=_CHUNK_V)


@register(
    "chunk_dedup",
    oracle=f"""
    {_CHUNK_CTE}
    SELECT doc_id, chunk_id, start_token, n_tokens, text
    FROM (SELECT *, row_number() OVER (
              PARTITION BY text ORDER BY doc_id, chunk_id) AS rn
          FROM c)
    WHERE rn = 1
    """,
    tags=("chunking", "dedup", "extension"),
    gate=False,
)
def chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact dedup — the pipeline2.curate_chunks dedup
    stage as a standalone differential query: one representative (the
    min (doc_id, chunk_id)) per distinct chunk text. Overlapping
    windows make repeated boilerplate collapse at CHUNK granularity
    even when whole documents differ. One hash shuffle on text; the
    chunk build itself is the shuffle-free narrow projection."""
    from pyspark.sql import Window

    from myhadoop_spark.operators.chunking import chunk_documents

    chunks = chunk_documents(
        load(spark, sf_dir, "documents").select("doc_id", "text"),
        chunk_tokens=_CHUNK_C, overlap=_CHUNK_V)
    w = Window.partitionBy("text").orderBy("doc_id", "chunk_id")
    return (chunks.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


# ---------------------------------------------------------------------------
# persistent-LSH-index one-shot twin — operators/lsh_index.py
# ---------------------------------------------------------------------------

from myhadoop_spark.queries.dedup import (  # noqa: E402
    MINHASH_BAND_ROWS,
    MINHASH_FAM,
    MINHASH_P,
)


@register(
    "signature_neardup",
    oracle=f"""
    WITH sets AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    th AS (SELECT DISTINCT doc_id,
                  CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS th
           FROM (SELECT doc_id, unnest(list_distinct(toks)) AS tok
                 FROM sets)),
    fam AS (SELECT * FROM (VALUES {', '.join(f'({i}, {a}, {b})'
                                             for i, a, b in MINHASH_FAM)})
            AS f(i, a, b)),
    sig AS (SELECT doc_id, i, i // {MINHASH_BAND_ROWS} AS band,
                   MIN((a * th + b) % {MINHASH_P}) AS mh
            FROM th CROSS JOIN fam GROUP BY doc_id, i),
    bsig AS (SELECT doc_id, band,
                    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)
                        AS band_sig
             FROM sig GROUP BY doc_id, band),
    cand AS (SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
             FROM bsig x JOIN bsig y
               ON x.band = y.band AND x.band_sig = y.band_sig
              AND x.doc_id < y.doc_id),
    agree AS (SELECT c.doc1, c.doc2,
                     SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS n_agree
              FROM cand c
              JOIN sig a ON a.doc_id = c.doc1
              JOIN sig b ON b.doc_id = c.doc2 AND b.i = a.i
              GROUP BY c.doc1, c.doc2)
    SELECT doc1, doc2, n_agree / {len(MINHASH_FAM)}.0 AS est_jaccard
    FROM agree WHERE n_agree * 2 >= {len(MINHASH_FAM)}
    """,
    tags=("dedup", "extension", "lsh", "index"),
    # r8: promoted into the 50-slot gate window (the r6/r7 verdicts'
    # standing ask) — bitwise at both SFs since r6
)
def signature_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-shot signature-agreement near-dup pairs — the relation the
    persistent LSH index (operators/lsh_index.py) materializes batch
    by batch: banded candidates + estimated-Jaccard (fraction of
    agreeing minhashes) ≥ 0.5 verify. Distinguished from dedup_minhash
    by the verify: signature agreement needs NO second corpus scan —
    the probe shape that keeps the incremental index single-scan.
    Estimates are multiples of 1/16 (exact binary fractions), so the
    DuckDB differential is bitwise."""
    from myhadoop_spark.operators.lsh_index import signature_pairs

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return signature_pairs(docs)


# ---------------------------------------------------------------------------
# percolation (reverse search) — operators/percolate.py
# ---------------------------------------------------------------------------

# the standing-query fixture: alert subscriptions over the corpus
# vocabulary (mirrored verbatim in the oracle VALUES)
PERCOLATE_QUERIES = [
    (1, ["scan", "column", "window"], 2),
    (2, ["join", "merge", "hash", "sort"], 3),
    (3, ["customer", "order", "part"], 2),
    (4, ["nonexistent_term_xyzzy", "filter"], 1),
    (5, ["batch", "row", "value", "key", "line"], 4),
]


@register(
    "percolate",
    oracle=f"""
    WITH q AS (SELECT * FROM (VALUES {', '.join(
        "(%d, %s, %d)" % (qid, "[" + ", ".join(f"'{t}'" for t in terms)
                          + "]", msm)
        for qid, terms, msm in PERCOLATE_QUERIES)})
               AS q(query_id, terms, min_should_match)),
    qt AS (SELECT query_id, min_should_match,
                  unnest(list_distinct(terms)) AS term FROM q),
    dt AS (SELECT doc_id,
                  unnest(list_distinct(list_filter(
                      string_split_regex(text, '\\s+'), t -> t <> '')))
                      AS term
           FROM documents),
    hits AS (SELECT dt.doc_id, qt.query_id, qt.min_should_match,
                    COUNT(*) AS n_matched
             FROM dt JOIN qt USING (term)
             GROUP BY dt.doc_id, qt.query_id, qt.min_should_match)
    SELECT doc_id, query_id, n_matched
    FROM hits WHERE n_matched >= min_should_match
    """,
    tags=("percolate", "extension", "streaming"),
    gate=False,
)
def percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse search: which standing alert queries does each document
    trigger (operators/percolate.py — the Elasticsearch percolator
    shape as a broadcast join; the query table never shuffles the
    corpus token stream). Integer match counts → bitwise DuckDB
    differential."""
    from myhadoop_spark.operators.percolate import percolate_docs

    queries = spark.createDataFrame(
        PERCOLATE_QUERIES,
        "query_id int, terms array<string>, min_should_match int")
    return percolate_docs(load(spark, sf_dir, "documents"), queries)


@register(
    "neardup_pagerank",
    tags=("dedup", "graph", "extension"),
    gate=False,
)
def neardup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, rank): PageRank centrality over the near-duplicate graph
    (operators/pagerank.py; minhash pairs as undirected edges — each
    pair contributes both directions). Within a duplicate family the
    highest-rank member is the canonical-representative pick; isolated
    docs never enter the graph. Deterministic fold mode so the ranks
    are partitioning-bitwise; rank floored at 1e-6 for display
    stability. Rows-only (iterative — no one-query ANSI twin); the
    numpy-model parity and invariant pins live in
    tests/test_pagerank.py."""
    from myhadoop_spark.operators.pagerank import pagerank
    from myhadoop_spark.queries.dedup import (
        _hashed_token_sets,
        minhash_pairs,
    )

    pairs = (minhash_pairs(spark,
                           _hashed_token_sets(spark, sf_dir, wide=True))
             .select("doc1", "doc2"))
    edges = (pairs.select(F.col("doc1").alias("src"),
                          F.col("doc2").alias("dst"))
             .union(pairs.select(F.col("doc2").alias("src"),
                                 F.col("doc1").alias("dst"))))
    ranks = pagerank(edges, max_iterations=15, deterministic=True)
    return ranks.select("id",
                        (F.floor(F.col("rank") * 1e6) / 1e6)
                        .alias("rank"))


# ---------------------------------------------------------------------------
# SimHash Hamming-ball join (r11): the join face of the simhash
# family (Manku et al. 2007) — exact-recall pigeonhole block
# candidates + bit_count verify. Both engines compute the identical
# fingerprints (the gated `simhash` differential), so the pair set
# compares bitwise against the brute-force oracle.
# ---------------------------------------------------------------------------

_SH_K = 2  # Hamming radius


def _simhash_neardup_oracle() -> str:
    from myhadoop_spark import registry as _reg

    return f"""
    WITH s AS ({_reg.get('simhash').oracle})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT)
             AS hamming
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SH_K}
    ORDER BY id_a, id_b
    """


@register(
    "simhash_neardup",
    oracle=_simhash_neardup_oracle(),
    gate=True,  # promoted r12 — Hamming-ball join family pin (VERDICT r11 #1)
    tags=("dedup", "extension", "lsh"),
)
def simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id_a, id_b, hamming): every document pair whose 32-bit
    simhash fingerprints differ in <= {_SH_K} bits — pigeonhole block
    equi-join (3 blocks, at least one untouched by <= 2 flips, so
    recall is EXACT) + JVM bit_count verify; the oracle is the
    brute-force quadratic join the banded plan must reproduce."""
    from myhadoop_spark.operators.simhash_join import hamming_pairs
    from myhadoop_spark.queries.dedup import simhash as simhash_q

    sh = simhash_q(spark, sf_dir).transform(materialize)
    return (hamming_pairs(sh, bits=32, max_hamming=_SH_K)
            .orderBy("id_a", "id_b"))
