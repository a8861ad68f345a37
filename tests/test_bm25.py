"""BM25 lexical retrieval (operators/bm25.py): bitwise parity against
a pure-Python model replicating the operator's exact arithmetic order,
ranking semantics, plan shape, RRF fusion, and the hybrid
BM25 + ANN-index retrieval composition over curated chunks."""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import functions as F

from myhadoop_spark.operators.bm25 import bm25_rank, bm25_scores, rrf_fuse

TERMS = ["alpha", "beta", "gamma"]


def _fixture_docs(spark):
    rows = [
        (0, "alpha beta gamma alpha"),
        (1, "alpha alpha alpha alpha alpha alpha"),
        (2, "beta delta epsilon zeta eta theta iota kappa"),
        (3, "delta epsilon zeta"),             # no query terms
        (4, "gamma"),
        (5, "alpha beta " + " ".join(f"pad{i}" for i in range(40))),
        (6, ""),                               # empty doc counts in N/avgdl
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _model_scores(rows, terms, k1=1.2, b=0.75):
    """The operator's arithmetic, replicated operation-for-operation
    (same parenthesization ⇒ same IEEE results)."""
    toks = {i: [t for t in text.split() if t] for i, text in rows}
    dl = {i: len(ts) for i, ts in toks.items()}
    n = float(len(rows))
    avgdl = float(sum(dl.values())) / n
    tf = {(i, t): float(ts.count(t))
          for i, ts in toks.items() for t in set(ts) if t in terms}
    dft = {t: float(sum(1 for (i, t2) in tf if t2 == t)) for t in terms}
    out = {}
    for i, _ in rows:
        parts = []
        for t in terms:
            if (i, t) not in tf:
                parts.append(None)
                continue
            idf = ((n - dft[t]) + 0.5) / (dft[t] + 0.5)
            parts.append(idf * ((tf[(i, t)] * (k1 + 1.0))
                                / (tf[(i, t)]
                                   + (k1 * ((1.0 - b)
                                            + (b * (float(dl[i])
                                                    / avgdl)))))))
        if all(p is None for p in parts):
            continue
        score = parts[0] if parts[0] is not None else 0.0
        for p in parts[1:]:
            score = score + (p if p is not None else 0.0)
        out[i] = score
    return out


def test_scores_match_python_model_bitwise(spark):
    docs = _fixture_docs(spark)
    rows = [(r.doc_id, r.text) for r in docs.collect()]
    want = _model_scores(rows, TERMS)
    got = {r.doc_id: r.score
           for r in bm25_scores(docs, TERMS).collect()}
    assert set(got) == set(want)
    for i in want:
        assert got[i] == want[i], (i, got[i], want[i])  # BITWISE
    assert 3 not in got and 6 not in got  # no-match docs absent


def test_ranking_semantics(spark):
    docs = _fixture_docs(spark)
    ranked = bm25_rank(docs, TERMS, top_k=3).collect()
    assert [r.rn for r in sorted(ranked, key=lambda r: r.rn)] == [1, 2, 3]
    # doc 0 matches all three terms with short length — must beat the
    # long padded doc 5 and the single-term docs
    assert min(ranked, key=lambda r: r.rn).doc_id == 0
    scores = {r.doc_id: r.score for r in ranked}
    assert all(s > 0 for s in scores.values())


def test_plan_is_narrow_no_explode(spark):
    """Per-term tf is an array-count column, NOT an exploded token
    stream: the plan must contain no Generate (explode) and no
    corpus-vocabulary hash shuffle — the single-row stats aggregate
    broadcasts back into the narrow scorer."""
    docs = _fixture_docs(spark)
    plan_io = io.StringIO()
    with contextlib.redirect_stdout(plan_io):
        bm25_scores(docs, TERMS).explain("formatted")
    plan = plan_io.getvalue()
    assert "Generate" not in plan, plan       # no explode anywhere
    assert "BroadcastExchange" in plan        # 1-row stats broadcast
    assert "CartesianProduct" not in plan
    # no (doc, term) hash shuffle: the only Exchanges are the stats
    # aggregate's single-partition gather and the broadcast
    hash_ex = [ln for ln in plan.splitlines()
               if "Exchange hashpartitioning" in ln]
    assert not hash_ex, hash_ex


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_word = st.sampled_from(["alpha", "beta", "gamma", "pad", "x", "yy"])


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.lists(_word, max_size=12), min_size=1, max_size=8)
       .filter(lambda ds: any("alpha" in d or "beta" in d for d in ds)))
def test_bm25_property_matches_model(spark, docs_tokens):
    """Arbitrary tiny corpora over a fixed vocabulary: bitwise score
    parity with the Python model, including empty documents, repeated
    terms, and corpora where a query term never occurs."""
    rows = [(i, " ".join(ts)) for i, ts in enumerate(docs_tokens)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    want = _model_scores(rows, TERMS)
    got = {r.doc_id: r.score for r in bm25_scores(docs, TERMS).collect()}
    assert got == want


def test_rrf_fusion_matches_model(spark):
    a = spark.createDataFrame([(10, 1), (11, 2), (12, 3)],
                              "doc_id long, rn int")
    b = spark.createDataFrame([(12, 1), (10, 2), (13, 3)],
                              "doc_id long, rn int")
    got = {r.doc_id: r.rrf for r in
           rrf_fuse([a, b], k=60, top_k=10).collect()}
    want = {}
    for i, (ra, rb) in {10: (1, 2), 11: (2, None), 12: (3, 1),
                        13: (None, 3)}.items():
        s = (1.0 / (60.0 + ra)) if ra else 0.0
        s = s + ((1.0 / (60.0 + rb)) if rb else 0.0)
        want[i] = s
    assert got == want  # bitwise: same fixed-order fold
    order = [r.doc_id for r in
             sorted(rrf_fuse([a, b]).collect(), key=lambda r: r.rn)]
    assert order[0] in (10, 12)  # both systems agree these lead


def test_hybrid_retrieval_over_curated_chunks(spark, tmp_path):
    """The full RAG stack: chunk the fixture documents → stub-embed →
    persistent IVF index; a query is answered by BOTH lexical BM25
    (over chunk text) and the ANN probe, fused with RRF — and the fused
    top hit carries document lineage back to its source window."""
    from myhadoop_spark.catalog import load
    from myhadoop_spark.operators.chunking import chunk_documents
    from myhadoop_spark.operators.ivf import _dot
    from myhadoop_spark.operators.ivf_index import build_index, search_index
    from tests.conftest import SF_SMOKE
    from tests.test_chunk_index_pipeline import _stub_embedding

    docs = load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    chunks = (chunk_documents(docs, chunk_tokens=32, overlap=8)
              .withColumn("vec_id",
                          F.col("doc_id") * 1000 + F.col("chunk_id"))
              .localCheckpoint())

    # lexical side: BM25 over chunk text with fixture-vocabulary terms
    lex = (bm25_rank(chunks, ["window", "merge", "scan"], top_k=10,
                     id_col="vec_id", text_col="text")
           .select("vec_id", "rn"))

    # semantic side: index the chunk embeddings, probe with the
    # lexical winner's own vector (self excluded by default)
    emb = chunks.withColumn("v", _stub_embedding()).select("vec_id", "v")
    path = str(tmp_path / "idx")
    build_index(emb.localCheckpoint(), path, k=8)
    top_lex = min(lex.collect(), key=lambda r: r.rn).vec_id
    q = (emb.filter(F.col("vec_id") == top_lex)
         .select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"),
                 F.sqrt(_dot("v", "v")).alias("qnrm")))
    sem = (search_index(spark, path, q, n_probe=4, top_k=10)
           .select(F.col("neighbor_id").alias("vec_id"), "rn"))

    fused = rrf_fuse([lex, sem], id_col="vec_id", top_k=5).collect()
    assert len(fused) == 5
    winner = min(fused, key=lambda r: r.rn).vec_id
    # lineage: the fused winner resolves to one chunk whose text is the
    # token window its (doc_id, start_token) names in the source doc
    row = chunks.filter(F.col("vec_id") == winner).collect()
    assert len(row) == 1
    src = docs.filter(F.col("doc_id") == row[0].doc_id).collect()
    toks = [t for t in re.split(r"[ \t\n\x0b\f\r]+", src[0].text) if t]
    start = row[0].start_token - 1
    assert row[0].text == " ".join(toks[start:start + row[0].n_tokens])


def test_rankers_are_take_ordered(spark):
    """bm25_rank and rrf_fuse window over a GLOBAL order; the rn <=
    top_k filter must compile to TakeOrderedAndProject (per-partition
    top-k) rather than sorting the corpus through one partition —
    pinned per the r6 audit so a Spark/shape change can't silently
    reintroduce the single-partition sort."""
    import contextlib
    import io

    from myhadoop_spark.operators.bm25 import bm25_rank, rrf_fuse

    docs = _fixture_docs(spark)
    ranked = bm25_rank(docs, TERMS, top_k=5)
    fused = rrf_fuse([ranked, ranked.withColumn("rn", F.col("rn"))],
                     top_k=5)
    for df in (ranked, fused):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "TakeOrderedAndProject" in plan, plan
