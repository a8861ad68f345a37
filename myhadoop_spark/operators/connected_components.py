"""Connected components: min-label propagation AND edge contraction.

The missing last step of near-duplicate deduplication: LSH + verify
emits PAIRS; keep-one-per-group needs the transitive closure — cluster
ids. Spark has no built-in CC (GraphFrames isn't in the image), so this
module ships two DataFrame algorithms with identical output:

  * ``connected_components`` — min-label propagation with pointer
    jumping: label(v) ← min over neighbors, plus adopting the current
    label-node's label each round. Rounds are NOT bounded by
    log(diameter): a shortcut only jumps along chains of falling ids,
    so an id-permuted path needs rounds that grow with its length
    (4-core host, local[4], ``max_iterations=300``: 4/6/8/10 rounds
    on id-ordered 16/64/256/1024-node chains; 15–48 on permuted
    64-node chains and 56–80 on permuted 256-node chains, so the
    default budget of 20 raises on some 64-node chains). Per-round
    shuffle is ∝ |E| every round.
  * ``connected_components_contraction`` — alternating
    large-star / small-star edge contraction (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond"): each round
    rewires edges toward component minima, so the EDGE SET ITSELF
    CONTRACTS toward a star forest — per-round shuffle bytes SHRINK as
    rounds proceed, the property that matters when |E| is the 100 TB
    term (label propagation re-shuffles the full edge set every
    round). Converges in O(log² n) rounds whatever the node-id order
    (5/6/7/8 rounds on the same permuted 32/64/128/256-node chains);
    the per-round edge curve is recorded by scripts/cc_scaling.py.

Both cut lineage every round (localCheckpoint) so the plan doesn't
grow exponentially — the standard discipline for iterative DataFrame
jobs — and both raise loudly if the iteration budget is exhausted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from myhadoop_spark.materialize import materialize, materialize_lazy


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         max_iterations: int = 20,
                         stats: dict | None = None) -> DataFrame:
    """[src, dst] edge list → [id, component] where component is the
    smallest node id reachable from `id`. Nodes only appear if they
    occur in some edge (callers union isolated nodes as self-edges if
    they want them represented). Pass a dict as `stats` to receive
    {"iterations": n} — the convergence datapoint the scaling study
    (scripts/cc_scaling.py) records."""
    # r13 (optimization): self-loops are folded into the symmetrized
    # edge set, so (a) the initialization aggregate directly yields
    # label(v) = min(v, min neighbor) — the first propagation round for
    # free — and (b) each round's neighbor-min over sym ALREADY
    # includes the node's own previous label, removing the per-round
    # labels-join-neighbor_min rejoin the old loop paid. Convergence is
    # detected by the exact label SUM (decimal — no overflow) instead
    # of a changed-row count: labels are monotonically non-increasing
    # (every update is a least() over values that include the old
    # label), so the sum is unchanged iff no label moved. One action
    # per round, one fewer join per round; the fixpoint is identical —
    # a stable min-propagation labeling is constant per component
    # (pinned in tests/test_connected_components.py and the gated CC
    # consumers' differentials).
    # materialize the caller's edge frontier ONCE before the 4-way
    # union below references it: callers hand in expensive candidate
    # subtrees (LSH bucket self-joins, Hamming-ball joins, Ed-Join
    # verifies) and without this the whole subtree would be planned and
    # executed four times inside the sym materialization (guide §3.3 —
    # the same lineage-truncation discipline as the rest of r13).
    e = edges.select(F.col(src).alias("a"),
                     F.col(dst).alias("b")).transform(materialize)
    sym = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .union(e.select("a", F.col("a").alias("b")))
        .union(e.select(F.col("b").alias("a"), "b"))
        .distinct()
    )
    sym = sym.transform(materialize)
    if stats is not None:
        # study-only datapoint (scripts/cc_contraction_study.py): the
        # per-round shuffle of this loop is ∝ |sym| every round; one
        # count over the materialized frame, never paid by query paths
        # (they pass stats=None)
        stats["sym_rows"] = sym.count()
    labels = (
        sym.groupBy("a")
        .agg(F.min("b").alias("component"))
        .select(F.col("a").alias("id"), "component")
    )
    rounds = 0
    prev_sum = None
    converged = False
    for _ in range(max_iterations):
        rounds += 1
        neighbor_min = (
            sym.join(labels, sym.b == labels.id)
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("component").alias("component"))
        )
        # pointer jumping (shortcutting): also adopt the label of the
        # current label-node. This skips ahead only where labels fall
        # along the path, so it speeds up id-ordered chains but gives
        # no diameter-independent bound: on an id-permuted chain the
        # round count still grows with its length (module docstring).
        lbl2 = neighbor_min.select(F.col("id").alias("cid"),
                                   F.col("component").alias("ccomp"))
        shortcut = (
            neighbor_min.join(lbl2, neighbor_min.component == lbl2.cid,
                              "left")
            .select(
                "id",
                F.least(F.col("component"),
                        F.coalesce(F.col("ccomp"), F.col("component")))
                .alias("component"),
            )
        )
        shortcut = shortcut.transform(materialize_lazy)
        cur_sum = shortcut.agg(
            F.sum(F.col("component").cast("decimal(38,0)"))).head()[0]
        labels = shortcut
        # cur_sum is None iff the graph is empty (sum over zero rows) —
        # trivially converged; otherwise compare against the previous
        # round's exact sum
        if cur_sum is None or (prev_sum is not None
                               and cur_sum == prev_sum):
            converged = True
            break
        prev_sum = cur_sum
    if stats is not None:
        stats["iterations"] = rounds
    if not converged:
        # silent wrong labels would under-merge clusters downstream
        raise RuntimeError(
            f"connected_components did not converge within {max_iterations} "
            "iterations — graph diameter exceeds the budget; raise "
            "max_iterations")
    return labels


def _large_star(e: DataFrame) -> DataFrame:
    """For each node u, connect every LARGER neighbor to
    min(Γ(u) ∪ {u}). Output edges are (bigger, smaller); no self
    loops."""
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    mins = (sym.groupBy("a").agg(F.min("b").alias("_mn"))
            .select("a", F.least(F.col("a"), F.col("_mn")).alias("m")))
    return (sym.filter(F.col("b") > F.col("a"))
            .join(mins, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .distinct())


def _small_star(e: DataFrame) -> DataFrame:
    """Orient every edge toward its larger endpoint, then connect each
    node's smaller-or-equal neighborhood (and itself) to its minimum."""
    dird = (e.select(F.greatest("a", "b").alias("u"),
                     F.least("a", "b").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct())
    mins = dird.groupBy("u").agg(F.min("v").alias("m"))  # m < u always
    return (dird.join(mins, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(mins.select(F.col("u").alias("a"),
                               F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct())


def connected_components_contraction(edges: DataFrame, src: str = "src",
                                     dst: str = "dst",
                                     max_iterations: int = 30,
                                     stats: dict | None = None) -> DataFrame:
    """[src, dst] edge list → [id, component] (component = smallest
    reachable node id) via alternating large-star/small-star rounds —
    output identical to ``connected_components`` (equality
    property-tested), but with per-round shuffle ∝ the CONTRACTING
    edge set instead of the full input every round.

    Convergence is detected by an aggregate signature (count +
    xxhash64 XOR) staying fixed across a round; because a signature
    collision could in principle declare convergence early, the final
    edge set is then VERIFIED to be a star forest (one distinct target
    per node, no target is itself a source) — a false stop fails
    loudly instead of mislabeling. Pass ``stats`` to receive
    {"iterations": n, "edge_curve": [|E| per round]}."""
    # one materialization of the caller's edge subtree; nodes/e below
    # reference it three times (guide §3.3 — see connected_components)
    raw = edges.select(F.col(src).alias("a"),
                       F.col(dst).alias("b")).transform(materialize)
    nodes = (raw.select(F.col("a").alias("id"))
             .union(raw.select(F.col("b").alias("id")))
             .distinct().transform(materialize_lazy))
    e = (raw.filter(F.col("a") != F.col("b"))
         .distinct().transform(materialize))

    def _sig(df: DataFrame):
        # XOR, not SUM: order-independent like sum, but no ANSI long
        # overflow (edge sets are distinct, so nothing self-cancels)
        row = df.agg(F.count(F.lit(1)).alias("n"),
                     F.coalesce(F.bit_xor(F.xxhash64("a", "b")), F.lit(0))
                     .alias("h")).collect()[0]  # control: stop test
        return row.n, row.h

    prev = _sig(e)
    curve = [prev[0]]
    rounds = 0
    converged = False
    for _ in range(max_iterations):
        rounds += 1
        e = _small_star(_large_star(e)).transform(materialize_lazy)
        cur = _sig(e)
        curve.append(cur[0])
        if cur == prev:
            converged = True
            break
        prev = cur
    if stats is not None:
        stats["iterations"] = rounds
        stats["edge_curve"] = curve
    if not converged:
        raise RuntimeError(
            f"contraction did not converge within {max_iterations} rounds")
    # star-forest verification (also catches a signature-collision stop)
    # control: both counts must be 0 for the result to be returned
    multi = (e.groupBy("a").agg(F.count_distinct("b").alias("k"))
             .filter(F.col("k") > 1).count())  # nodes with two roots
    root_as_child = (e.select(F.col("b").alias("x")).distinct()
                     .join(e.select(F.col("a").alias("x")).distinct(),
                           "x").count())  # roots that are also children
    if multi or root_as_child:
        raise RuntimeError(
            "contraction stopped on a non-star edge set "
            f"(multi-target nodes={multi}, chained roots={root_as_child})")
    labels = e.select(F.col("a").alias("id"), F.col("b").alias("component"))
    # roots and isolated nodes label themselves
    rest = nodes.join(labels.select("id"), "id", "left_anti")
    return labels.union(rest.select("id", F.col("id").alias("component")))
