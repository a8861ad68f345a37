"""Exact-substring dedup (operators/substring.py) vs a pure-Python
longest-common-substring model, plus the max_df boilerplate guard and
plan-shape assertions."""

from __future__ import annotations

import contextlib
import io
import random

from myhadoop_spark.operators.substring import (
    K_WINDOW,
    MIN_OVERLAP,
    substring_pairs,
)


def _lcs_tokens(a: list[str], b: list[str]) -> int:
    """O(|a||b|) DP longest common contiguous token run."""
    best = 0
    prev = [0] * (len(b) + 1)
    for i in range(1, len(a) + 1):
        cur = [0] * (len(b) + 1)
        for j in range(1, len(b) + 1):
            if a[i - 1] == b[j - 1]:
                cur[j] = prev[j - 1] + 1
                best = max(best, cur[j])
        prev = cur
    return best


def _mk_docs(rng: random.Random, n: int = 24, vocab: int = 200):
    """Random docs; some pairs share an injected contiguous chunk."""
    docs = []
    for i in range(n):
        docs.append([f"w{rng.randrange(vocab)}" for _ in range(rng.randrange(30, 70))])
    # inject shared runs of assorted lengths (some below threshold)
    for src, dst, run in [(0, 1, 35), (2, 3, MIN_OVERLAP), (4, 5, MIN_OVERLAP - 1),
                          (6, 7, 50), (0, 8, 22), (9, 10, K_WINDOW)]:
        chunk = docs[src][2:2 + run]
        pos = rng.randrange(0, max(1, len(docs[dst]) - 1))
        docs[dst] = docs[dst][:pos] + chunk + docs[dst][pos:]
    return docs


def test_matches_python_lcs_model(spark):
    rng = random.Random(7)
    docs = _mk_docs(rng)
    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(docs)], "doc_id long, text string")
    got = {(r.doc_a, r.doc_b): r.overlap_tokens
           for r in substring_pairs(df).collect()}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            true_lcs = _lcs_tokens(docs[i], docs[j])
            if true_lcs >= MIN_OVERLAP:
                assert (i, j) in got, f"missed pair ({i},{j}) lcs={true_lcs}"
                assert got[(i, j)] == true_lcs, (i, j, true_lcs, got[(i, j)])
            else:
                assert (i, j) not in got, (i, j, true_lcs)


def test_short_docs_no_windows(spark):
    df = spark.createDataFrame(
        [(0, "a b c"), (1, "a b c"), (2, "")], "doc_id long, text string")
    assert substring_pairs(df).count() == 0  # < K_WINDOW tokens → no windows


def test_max_df_drops_boilerplate(spark):
    """A license-header-style chunk shared by MANY docs explodes the
    banded join quadratically; max_df drops those windows while unique
    long overlaps survive."""
    rng = random.Random(11)
    boiler = [f"b{i}" for i in range(30)]
    rows = []
    for i in range(20):  # every doc carries the boilerplate
        body = [f"u{i}_{k}" for k in range(20)]
        rows.append((i, " ".join(boiler + body)))
    # one genuine pair sharing a unique 25-token run
    shared = [f"s{k}" for k in range(25)]
    rows.append((100, " ".join([f"x{k}" for k in range(10)] + shared)))
    rows.append((101, " ".join(shared + [f"y{k}" for k in range(10)])))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    unguarded = substring_pairs(df)
    assert unguarded.filter("doc_a < 100").count() == 20 * 19 // 2
    guarded = substring_pairs(df, max_df=5)
    rows_g = guarded.collect()
    assert [(r.doc_a, r.doc_b) for r in rows_g] == [(100, 101)]
    assert rows_g[0].overlap_tokens == 25
    _ = rng  # (seeded for future extension)


def test_plan_is_banded_not_cartesian(spark):
    df = spark.createDataFrame(
        [(i, " ".join(f"t{i}_{k}" for k in range(40))) for i in range(8)],
        "doc_id long, text string")
    plan_io = io.StringIO()
    with contextlib.redirect_stdout(plan_io):
        substring_pairs(df).explain("formatted")
    plan = plan_io.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the window-hash self-join must be an equi-join on wh
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan


def test_fixture_pairs_reasonable(spark):
    """On the real fixture the verified pairs are exactly the oracle's
    (the gate covers bitwise equality; here just pin non-triviality)."""
    from myhadoop_spark.catalog import load
    from tests.conftest import SF_SMOKE

    docs = load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    out = substring_pairs(docs)
    rows = out.collect()
    assert len(rows) > 0
    assert all(r.overlap_tokens >= MIN_OVERLAP for r in rows)
    assert all(r.doc_a < r.doc_b for r in rows)


def test_repeated_token_docs(spark):
    """Pathological self-similarity: docs that are one token repeated.
    Every window matches every window, so diagonals blanket the match
    matrix — the run logic must still report overlap = min length, and
    the pair below threshold must not appear."""
    df = spark.createDataFrame(
        [(0, " ".join(["w"] * 40)), (1, " ".join(["w"] * 25)),
         (2, " ".join(["v"] * 10))],
        "doc_id long, text string")
    got = {(r.doc_a, r.doc_b): r.overlap_tokens
           for r in substring_pairs(df).collect()}
    assert got == {(0, 1): 25}  # min(40, 25); doc 2 is < MIN_OVERLAP


def test_degenerate_hash_space_still_exact(spark):
    """hash_m=1: EVERY window hashes to 0, so each (pair, diagonal)
    becomes ONE polluted island whose whole-slice compare fails
    whenever the diagonal isn't verbatim end to end — the adversarial
    case where the r4 all-or-nothing verify dropped every genuine
    sub-run. The island re-split must recover output identical to the
    full-width hash."""
    rng = random.Random(11)
    docs = _mk_docs(rng, n=12)  # smallest n the injected pairs allow
    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(docs)],
        "doc_id long, text string")
    wide = {(r.doc_a, r.doc_b): (r.overlap_tokens, r.n_runs)
            for r in substring_pairs(df).collect()}
    degenerate = {(r.doc_a, r.doc_b): (r.overlap_tokens, r.n_runs)
                  for r in substring_pairs(df, hash_m=1).collect()}
    assert degenerate == wide
    assert wide  # the fixture must actually contain qualifying pairs


def test_wide_hash_same_results(spark):
    """The ~62-bit two-hash banding (large-corpus posture) must return
    identical verified pairs — only the candidate volume differs."""
    rng = random.Random(13)
    docs = _mk_docs(rng)
    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(docs)],
        "doc_id long, text string")
    narrow = {(r.doc_a, r.doc_b): (r.overlap_tokens, r.n_runs)
              for r in substring_pairs(df).collect()}
    wide = {(r.doc_a, r.doc_b): (r.overlap_tokens, r.n_runs)
            for r in substring_pairs(df, wide_hash=True).collect()}
    assert narrow == wide
