"""Connected components on crafted graphs + the dedup-cluster contract."""

from __future__ import annotations

import random

from myhadoop_spark import registry
from myhadoop_spark.operators.connected_components import connected_components
from tests.conftest import SF_SMOKE


def _cc(spark, edges, stats=None):
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    return {r["id"]: r["component"]
            for r in connected_components(df, stats=stats).collect()}


def test_chain_collapses_to_min(spark):
    # 0-1-2-3-4 chain: diameter 4, everything labels to 0
    got = _cc(spark, [(i, i + 1) for i in range(4)])
    assert got == {i: 0 for i in range(5)}


def test_disjoint_components(spark):
    got = _cc(spark, [(0, 1), (1, 2), (10, 11), (20, 21), (21, 22)])
    assert got == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_star_and_cycle(spark):
    edges = [(5, i) for i in (6, 7, 8)] + [(100, 101), (101, 102), (102, 100)]
    got = _cc(spark, edges)
    assert {got[5], got[6], got[7], got[8]} == {5}
    assert {got[100], got[101], got[102]} == {100}


def test_self_edge_isolated_node(spark):
    got = _cc(spark, [(9, 9)])
    assert got == {9: 9}
    assert _cc(spark, []) == {}


def test_dedup_clusters_query(spark):
    """Cluster assignment must be consistent with the near-dup pairs:
    endpoints of every pair share a component, and the representative is
    the cluster minimum."""
    pairs = registry.get("embed_neardup").fn(spark, SF_SMOKE).collect()
    clusters = {r["id"]: r["component"]
                for r in registry.get("dedup_clusters").fn(spark, SF_SMOKE).collect()}
    assert clusters, "no clusters produced"
    for p in pairs:
        assert clusters[p["id1"]] == clusters[p["id2"]], p
    for vid, comp in clusters.items():
        assert comp <= vid
        assert clusters[comp] == comp  # representative labels itself


def test_permuted_chains_label_to_min_within_budget(spark):
    """A chain whose ids are shuffled along its length: min-label
    propagation's rounds grow with its length here (27 and 80 on these
    two), contraction's stay logarithmic."""
    for n, seed in [(64, 1), (256, 5)]:
        perm = list(range(n))
        random.Random(seed).shuffle(perm)
        stats: dict = {}
        got = _cc(spark, list(zip(perm, perm[1:])), stats=stats)
        assert got == {i: 0 for i in range(n)}, (n, seed)
        assert stats["iterations"] <= 10, stats


def test_contraction_edge_set_contracts(spark):
    """Each round rewires edges toward component minima, so a dense
    component shrinks to its star: one edge per non-root node."""
    stats: dict = {}
    clique = [(i, j) for i in range(16) for j in range(i + 1, 16)]
    assert _cc(spark, clique, stats=stats) == {i: 0 for i in range(16)}
    assert stats["edge_curve"][0] == 15 < len(clique)
    stats = {}
    got = _cc(spark, [(i, i + 1) for i in range(63)], stats=stats)
    assert got == {i: 0 for i in range(64)}
    assert stats["edge_curve"][-1] == 63
    assert stats["iterations"] >= 2


def _components(nodes, edges) -> dict:
    """Pure-Python union-find: node → smallest id of its component."""
    parent = {d: d for d in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        a, b = find(a), find(b)
        if a != b:
            parent[max(a, b)] = min(a, b)
    return {d: find(d) for d in parent}


def test_random_graphs_match_union_find(spark):
    """Deterministic pseudo-random graphs (id arithmetic, no RNG)."""
    for n, m, salt in [(40, 30, 1), (60, 80, 2), (25, 12, 3),
                       (500, 700, 4)]:
        edges = [(((i * 2654435761 + salt) % n),
                  ((i * 40503 + salt * 7) % n)) for i in range(m)]
        nodes = {x for e in edges for x in e}
        assert _cc(spark, edges) == _components(nodes, edges), (n, m, salt)


def test_cluster_split_is_leakage_safe(spark):
    """No near-dup pair may straddle a split boundary, every embedding
    row gets exactly one split, and isolated vectors self-represent."""
    split = {r["vec_id"]: (r["component"], r["split"])
             for r in registry.get("cluster_split").fn(spark, SF_SMOKE)
             .collect()}
    pairs = registry.get("embed_neardup").fn(spark, SF_SMOKE).collect()
    assert pairs and split
    for p in pairs:
        assert split[p["id1"]][1] == split[p["id2"]][1], p
        assert split[p["id1"]][0] == split[p["id2"]][0], p
    from myhadoop_spark.catalog import load
    n_emb = load(spark, SF_SMOKE, "embeddings").count()
    assert len(split) == n_emb
    assert {s for _, s in split.values()} <= {"train", "val", "test"}
    clustered = {vid for vid, (comp, _) in split.items() if comp != vid}
    in_pairs = {p["id1"] for p in pairs} | {p["id2"] for p in pairs}
    assert clustered <= in_pairs  # isolated vectors self-represent


def test_cluster_keep_best_invariants(spark):
    """The representative is the arg-max quality member (ties to the
    smallest id), singletons self-represent, members partition the
    scored corpus, and the kept-corpus face keeps exactly one doc per
    cluster."""
    rows = registry.get("cluster_keep_best").fn(spark, SF_SMOKE).collect()
    scores = {r["doc_id"]: r["score"]
              for r in registry.get("quality_filter").fn(spark, SF_SMOKE)
              .select("doc_id", "score").collect()}
    pairs = registry.get("dedup_minhash").fn(spark, SF_SMOKE).collect()
    # rebuild the member sets from the pair graph
    members: dict[int, list[int]] = {}
    for d, root in _components(
            scores, [(p["doc1"], p["doc2"]) for p in pairs]).items():
        members.setdefault(root, []).append(d)
    assert sum(r["n_members"] for r in rows) == len(scores)
    by_comp = {r["component"]: r for r in rows}
    assert set(by_comp) == set(members)
    for comp, mem in members.items():
        r = by_comp[comp]
        assert r["n_members"] == len(mem)
        best = min(mem, key=lambda d: (-scores[d], d))
        assert r["keep_id"] == best, (comp, mem)
        assert r["keep_score"] == scores[best]
