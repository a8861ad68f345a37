"""Persistent MinHash-LSH signature index (operators/lsh_index.py):
incremental ≡ one-shot, replay idempotence, probe plan shape,
compaction equality, and the estimator's relationship to the
exact-verify batch pass."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from myhadoop_spark.catalog import load
from myhadoop_spark.operators import lsh_index as L
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return (load(spark, SF_SMOKE, "documents")
            .select("doc_id", "text").localCheckpoint())


@pytest.fixture(scope="module")
def oneshot(spark, docs):
    """The one-shot pair relation and its implied survivor set."""
    pairs = L.signature_pairs(docs).collect()
    ids = {r.doc_id for r in docs.select("doc_id").collect()}
    dropped = {r.doc2 for r in pairs}
    return pairs, ids, sorted(ids - dropped)


def _batches(docs, n=3):
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    cuts = [ids[len(ids) * i // n] for i in range(1, n)]
    lo = None
    out = []
    for hi in cuts + [None]:
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col("doc_id") >= lo)
        if hi is not None:
            cond = cond & (F.col("doc_id") < hi)
        out.append(docs.filter(cond))
        lo = hi
    return out


def test_incremental_equals_oneshot(spark, docs, oneshot, tmp_path):
    """Feeding the corpus through id-ordered batches yields exactly
    the one-shot survivor set AND exactly the one-shot pair relation
    (history hits across batches + within-batch oriented pairs)."""
    pairs, ids, survivors_expected = oneshot
    path = str(tmp_path / "idx")
    L.build_lsh_index(docs.limit(0), path)  # bootstrap empty index
    got_survivors = []
    got_pairs = set()
    for i, b in enumerate(_batches(docs)):
        # pair evidence: history probe + within-batch, before indexing
        rows = L.signature_rows(b).localCheckpoint()
        hist = L.probe_lsh_index(b, path, exclude_append_id=f"a{i}",
                                 rows=rows).collect()
        within = L.signature_pairs(b, rows=rows).collect()
        got_pairs |= {(r.hist_id, r.doc_id, r.est_jaccard) for r in hist}
        got_pairs |= {(r.doc1, r.doc2, r.est_jaccard) for r in within}
        surv, _ = L.dedup_incoming(b, path, append_id=f"a{i}")
        got_survivors += [r.doc_id for r in surv.select("doc_id").collect()]
    assert sorted(got_survivors) == survivors_expected
    assert got_pairs == {(r.doc1, r.doc2, r.est_jaccard) for r in pairs}


def test_replay_idempotent(spark, docs, tmp_path):
    """Re-running a batch with the SAME append_id (the crash-replay
    case: its partial append may already be on disk) recomputes the
    identical survivor set — the append_id exclusion guards the probe
    from matching the batch against itself."""
    path = str(tmp_path / "idx")
    b1, b2, _ = _batches(docs)
    L.build_lsh_index(b1, path, append_id="a0")
    first, _ = L.dedup_incoming(b2, path, append_id="a1")
    first_ids = sorted(r.doc_id for r in first.select("doc_id").collect())
    replay, _ = L.dedup_incoming(b2, path, append_id="a1")
    replay_ids = sorted(r.doc_id for r in replay.select("doc_id").collect())
    assert replay_ids == first_ids
    # and a LATER batch still sees b2's history exactly once in its
    # verdicts despite the duplicate rows (pairs are distinct-ed)
    probe = L.probe_lsh_index(b2.limit(5), path).collect()
    assert len({(r.doc_id, r.hist_id) for r in probe}) == len(probe)


def test_probe_plan_broadcasts_batch_and_prunes(spark, docs, tmp_path):
    """The probe must broadcast the batch into a partition-pruned
    history scan: no shuffle of history (the only hash exchange is the
    final distinct over matches), and the sbucket IN-filter reaches
    the scan as a partition filter."""
    path = str(tmp_path / "idx")
    b1, b2, _ = _batches(docs)
    L.build_lsh_index(b1, path, append_id="a0")
    plan_df = L.probe_lsh_index(b2.limit(20), path)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        plan_df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    assert "sbucket" in plan.split("PartitionFilters", 1)[1].split("\n")[0], \
        plan


def test_compaction_preserves_probes(spark, docs, tmp_path):
    """Fragment the shards with several appends, compact, and pin the
    probe results bit-identical; file count must drop."""
    path = str(tmp_path / "idx")
    batches = _batches(docs, n=4)
    L.build_lsh_index(batches[0], path, append_id="a0")
    for i, b in enumerate(batches[1:3], start=1):
        L.append_to_lsh_index(b, path, append_id=f"a{i}")
    probe_docs = batches[3]
    before = {(r.doc_id, r.hist_id, r.est_jaccard)
              for r in L.probe_lsh_index(probe_docs, path).collect()}
    stats = L.compact_lsh_index(spark, path, max_files_per_shard=1)
    assert stats["compacted_shards"] > 0
    assert stats["files_after"] < stats["files_before"]
    after = {(r.doc_id, r.hist_id, r.est_jaccard)
             for r in L.probe_lsh_index(probe_docs, path).collect()}
    assert after == before


def test_estimator_vs_exact_verify(spark, docs):
    """Relationship to the exact-verify batch pass (dedup_minhash):
    identical candidate generation, different verify. Every exact pair
    with TRUE Jaccard ≥ 0.8 (strong near-dups — 16 agreeing-minhash
    trials at p ≥ 0.8 clear the 8/16 bar on this fixture's fixed hash
    family) must be signature-flagged, and both verifies agree on
    signature-identical (est = 1.0) pairs."""
    from myhadoop_spark.queries.dedup import minhash_pairs, _hashed_token_sets

    sets = _hashed_token_sets(spark, "", docs=docs).localCheckpoint()
    exact = minhash_pairs(spark, sets).collect()
    est = {(r.doc1, r.doc2): r.est_jaccard
           for r in L.signature_pairs(docs).collect()}
    strong = [(r.doc1, r.doc2) for r in exact if r.jaccard >= 0.8]
    assert strong, "fixture lost its planted near-dups"
    missed = [p for p in strong if p not in est]
    assert not missed, f"strong exact pairs missed by the estimator: {missed[:5]}"
    # est = 1.0 ⇒ identical signatures ⇒ the exact verify saw the pair
    exact_pairs = {(r.doc1, r.doc2) for r in exact}
    sig_identical = [p for p, e in est.items() if e == 1.0]
    assert sig_identical
    assert all(p in exact_pairs for p in sig_identical)


def test_empty_and_tokenless_docs(spark, tmp_path):
    path = str(tmp_path / "idx")
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    L.build_lsh_index(empty, path)
    blank = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "   "), (3, "")],
        "doc_id bigint, text string")
    surv, _ = L.dedup_incoming(blank, path, append_id="a0")
    # token-less docs have no signature → never flagged, always survive
    assert sorted(r.doc_id for r in surv.collect()) == [1, 2, 3]


def _hot_corpus(spark, docs):
    """Fixture docs + 300 planted copies of one boilerplate text (a
    degenerate band bucket) with ids in a reserved high range."""
    hot = spark.range(300).select(
        (F.col("id") + 5_000_000).alias("doc_id"),
        F.lit("terms of service apply to all content "
              "all rights reserved contact us").alias("text"))
    return docs.unionByName(hot), {r.doc_id for r in hot.collect()}


def test_stop_signature_guard_batch(spark, docs):
    """max_bucket bans over-cap buckets from candidate generation.
    Exact model: regenerate candidates driver-side from ONLY the
    under-cap buckets — the capped pair set must equal the uncapped
    pairs restricted to those candidates (no hot-id pair survives;
    fixture-internal over-cap buckets are banned too)."""
    from collections import defaultdict

    corpus, hot_ids = _hot_corpus(spark, docs)
    uncapped = {(r.doc1, r.doc2): r.est_jaccard
                for r in L.signature_pairs(corpus).collect()}
    capped = {(r.doc1, r.doc2): r.est_jaccard
              for r in L.signature_pairs(corpus,
                                         max_bucket=50).collect()}
    assert any(a in hot_ids or b in hot_ids for a, b in uncapped)
    assert not any(a in hot_ids or b in hot_ids for a, b in capped)
    buckets = defaultdict(set)
    for r in L.signature_rows(corpus).collect():
        buckets[(r.band, r.band_sig)].add(r.doc_id)
    allowed = set()
    for members in buckets.values():
        if len(members) <= 50:
            ms = sorted(members)
            allowed |= {(a, b) for i, a in enumerate(ms)
                        for b in ms[i + 1:]}
    expected = {p: e for p, e in uncapped.items() if p in allowed}
    assert capped == expected


def test_stop_signature_guard_probe(spark, docs, tmp_path):
    """refresh_hot_sigs persists the stop list; probes then skip the
    hot bucket (a batch doc colliding only with boilerplate matches
    nothing) while cold near-dups are still found; use_hot=False
    shows the fan the guard removed."""
    path = str(tmp_path / "idx")
    corpus, hot_ids = _hot_corpus(spark, docs)
    L.build_lsh_index(corpus, path)
    stats = L.refresh_hot_sigs(spark, path, max_bucket=50)
    assert stats["hot_buckets"] >= 1
    probe = spark.createDataFrame(
        [(9_000_000, "terms of service apply to all content "
                     "all rights reserved contact us")],
        "doc_id bigint, text string")
    guarded = L.probe_lsh_index(probe, path).collect()
    assert guarded == []
    unguarded = L.probe_lsh_index(probe, path, use_hot=False).collect()
    assert len(unguarded) >= 300  # the fan the guard removed
    # cold near-dups still probe through the guard
    sample = docs.limit(1)
    cold = L.probe_lsh_index(sample, path).collect()
    assert any(r.hist_id not in hot_ids for r in cold)


def test_hot_list_refresh_is_crash_safe(spark, docs, tmp_path):
    """The r7 ADVICE finding: refresh_hot_sigs must never leave the
    index without a usable stop-list. Staged write → delete → rename,
    with _SUCCESS-gated fallback on the read side: (a) a crash
    mid-staged-write (partial hot.tmp, no _SUCCESS) still serves the
    previous live list; (b) a crash between delete(hot) and rename
    (only the COMPLETE staging copy on disk) serves the staged list;
    (c) the next refresh converges to a clean live list either way."""
    import shutil
    from pathlib import Path

    path = str(tmp_path / "idx")
    corpus, _ = _hot_corpus(spark, docs)
    L.build_lsh_index(corpus, path)
    stats = L.refresh_hot_sigs(spark, path, max_bucket=50)
    assert stats["hot_buckets"] >= 1
    want = sorted(map(tuple, L.load_hot_sigs(spark, path).collect()))
    hot, tmp = Path(path, "hot"), Path(path, "hot.tmp")
    assert hot.exists() and not tmp.exists()  # clean swap, no leftover

    # (a) crash mid-staged-write: partial staging dir, live intact
    shutil.copytree(hot, tmp)
    (tmp / "_SUCCESS").unlink()
    got = L.load_hot_sigs(spark, path)
    assert got is not None and sorted(map(tuple, got.collect())) == want

    # (b) crash between delete(hot) and rename: only the complete
    # staging copy survives — the window the old in-place overwrite
    # turned into 'stop-list gone, probes fan into hot buckets'
    shutil.rmtree(tmp)
    hot.rename(tmp)
    got = L.load_hot_sigs(spark, path)
    assert got is not None and sorted(map(tuple, got.collect())) == want
    # the guard still actually guards from the fallback list
    probe = spark.createDataFrame(
        [(9_000_000, "terms of service apply to all content "
                     "all rights reserved contact us")],
        "doc_id bigint, text string")
    assert L.probe_lsh_index(probe, path).collect() == []

    # (c) re-running the refresh converges to a clean live list
    stats2 = L.refresh_hot_sigs(spark, path, max_bucket=50)
    assert stats2 == stats
    assert hot.exists() and not tmp.exists()
    assert sorted(map(tuple,
                      L.load_hot_sigs(spark, path).collect())) == want
