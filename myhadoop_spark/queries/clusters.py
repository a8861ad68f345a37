"""dedup_clusters — near-duplicate clusters from pairwise edges.

Iterative on the engine side (large-star/small-star edge contraction,
operators/connected_components.py — no single-statement Spark SQL can
express a fixpoint), but DuckDB CAN express the fixpoint as a recursive
CTE, so since r2 this query is fully oracle-checked: the oracle inlines
the embed_neardup pair oracle, symmetrizes the edges, walks the
transitive closure with WITH RECURSIVE, and takes MIN(reachable id) per
node — exactly the engine's (id, component) contract. The closure is
quadratic in component size, fine at oracle scale (sf0.01); the engine
side costs O(edges) per round and is the form that scales (O(log² n)
rounds whatever the id order — see operators/connected_components.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myhadoop_spark import registry as _registry
from myhadoop_spark.functions.text import hash_bucket, sql_hash_bucket
from myhadoop_spark.operators.connected_components import connected_components
from myhadoop_spark.queries import simsearch  # registers embed_neardup
from myhadoop_spark.registry import register

_CC_ORACLE = f"""
WITH RECURSIVE pairs AS (
  {_registry.get('embed_neardup').oracle}
),
sym AS (SELECT id1 AS a, id2 AS b FROM pairs
        UNION SELECT id2, id1 FROM pairs),
reach(id, r) AS (
  SELECT a, a FROM (SELECT a FROM sym UNION SELECT b FROM sym) n(a)
  UNION
  SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a
)
SELECT id, MIN(r) AS component FROM reach GROUP BY id
"""


@register("dedup_clusters", oracle=_CC_ORACLE,
          tags=("dedup", "extension", "iterative"))
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs → transitive clusters → (id, component)
    where component is the smallest member id (the canonical keep-one
    representative). The full dedup story: LSH candidate pairs →
    exact-cosine verify → connected components → keep component
    representatives. Structural invariants (pair consistency,
    representative minimality) additionally tested in
    tests/test_connected_components.py."""
    edges = simsearch.embed_neardup(spark, sf_dir).select(
        F.col("id1").alias("src"), F.col("id2").alias("dst"))
    return connected_components(edges)


# ---------------------------------------------------------------------------
# leakage-safe split (r6): train/val/test assignment at the NEAR-DUP
# CLUSTER level — if any member of a near-duplicate cluster lands in
# eval, its twins must not land in train (the contamination mode a
# row-level split cannot prevent). Split = deterministic hash of the
# cluster REPRESENTATIVE, so every member inherits the same side;
# isolated vectors are their own cluster. Composes the CC operator
# with functions/text.py's engine-portable hash — and the oracle
# composes the recursive-CTE closure with the same md5 bucket.
# ---------------------------------------------------------------------------

_SPLIT_ORACLE = f"""
WITH cc AS ({_CC_ORACLE}),
all_ids AS (SELECT vec_id FROM embeddings),
lab AS (SELECT vec_id, coalesce(cc.component, vec_id) AS component
        FROM all_ids LEFT JOIN cc ON all_ids.vec_id = cc.id),
b AS (SELECT vec_id, component,
             {sql_hash_bucket('component', 100)} AS bkt
      FROM lab)
SELECT vec_id, component,
       CASE WHEN bkt < 80 THEN 'train'
            WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split
FROM b
"""


@register("cluster_split", oracle=_SPLIT_ORACLE,
          tags=("dedup", "sampling", "extension", "iterative"),
          gate=False)
def cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, component, split): 80/10/10 train/val/test assigned by
    id-hash of the near-dup cluster representative — no near-duplicate
    pair ever straddles a split boundary (asserted in
    tests/test_connected_components.py)."""
    from myhadoop_spark.catalog import load

    edges = simsearch.embed_neardup(spark, sf_dir).select(
        F.col("id1").alias("src"), F.col("id2").alias("dst"))
    labels = connected_components(edges)
    emb = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id"))
    lab = (emb.join(labels.withColumnRenamed("id", "vec_id"),
                    "vec_id", "left")
           .select("vec_id",
                   F.coalesce("component", "vec_id").alias("component")))
    b = hash_bucket(F.col("component"))
    return lab.select(
        "vec_id", "component",
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
        .alias("split"))


# ---------------------------------------------------------------------------
# triangle counting (r9): local clustering structure over the same
# near-dup pair graph — the graph-analytics face next to the CC
# clusters. The engine orients edges by DEGREE
# (operators/triangles.py — the compact-forward m^(3/2) bound); the
# oracle orients by ID (a<b<c) — different orientation strategies MUST
# produce the identical triangle set, which is exactly what the
# differential pins.
# ---------------------------------------------------------------------------

_TRI_ORACLE = f"""
WITH pairs AS (
  {_registry.get('embed_neardup').oracle}
),
e AS (SELECT DISTINCT least(id1, id2) AS u, greatest(id1, id2) AS v
      FROM pairs WHERE id1 <> id2),
tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e e1
          JOIN e e2 ON e1.v = e2.u
          JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
m AS (SELECT unnest([a, b, c]) AS id FROM tri)
SELECT id, CAST(COUNT(*) AS BIGINT) AS triangles
FROM m GROUP BY id ORDER BY id
"""


# r10: promoted into the 50-slot gate (bitwise at both SFs since r9,
# real scale story — triangle_study.tsv's 213× wedge reduction)
@register("triangle_count", oracle=_TRI_ORACLE,
          tags=("graph", "dedup", "extension"))
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, triangles) over the embedding near-dup pair graph — how
    clique-like each vector's duplicate neighborhood is (a high
    triangle count marks a tight duplicate family; a member of many
    triangle-free edges marks a hub worth auditing before dedup
    collapses its whole neighborhood to one representative)."""
    from myhadoop_spark.operators.triangles import vertex_triangle_counts

    edges = simsearch.embed_neardup(spark, sf_dir).select(
        F.col("id1").alias("src"), F.col("id2").alias("dst"))
    return vertex_triangle_counts(edges).orderBy("id")


# ---------------------------------------------------------------------------
# quality-aware representative selection (r11): real curation
# pipelines don't keep the MIN-ID member of a near-dup cluster — they
# keep the HIGHEST-QUALITY one (RefinedWeb/FineWeb keep-best). This
# composes three operator families in one plan: MinHash near-dup
# pairs over documents → connected components → the integer quality
# score (operators/classifier.py, the quality_filter pipeline) →
# per-cluster arg-max. The engine's arg-max is the partial-aggregable
# min(struct(-score, id)) survivor (the url_dedup/line_dedup
# discipline — never a window over the members); the oracle's window
# formulation is the spec the banded plan must reproduce bitwise.
# ---------------------------------------------------------------------------

_KEEP_BEST_ORACLE = f"""
WITH RECURSIVE mh_pairs AS (
  {{MH}}
),
sym AS (SELECT doc1 AS a, doc2 AS b FROM mh_pairs
        UNION SELECT doc2, doc1 FROM mh_pairs),
reach(id, r) AS (
  SELECT a, a FROM (SELECT a FROM sym UNION SELECT b FROM sym) n(a)
  UNION
  SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a
),
cc AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
qf AS ({{QF}}),
lab AS (SELECT qf.doc_id, qf.score,
               coalesce(cc.component, qf.doc_id) AS component
        FROM qf LEFT JOIN cc ON qf.doc_id = cc.id),
agg AS (SELECT component, CAST(count(*) AS BIGINT) AS n_members
        FROM lab GROUP BY component),
r AS (SELECT component, doc_id AS keep_id, score AS keep_score,
             row_number() OVER (PARTITION BY component
                                ORDER BY score DESC, doc_id) AS rn
      FROM lab)
SELECT r.component, r.keep_id, r.keep_score, agg.n_members
FROM r JOIN agg ON r.component = agg.component
WHERE rn = 1 ORDER BY r.component
"""


def _keep_best_oracle() -> str:
    # clusters imports before dedup/quality_checks alphabetically —
    # pull them in so their oracles are registered (the simsearch
    # precedent at the top of this module)
    from myhadoop_spark.queries import dedup, quality_checks  # noqa: F401

    return _KEEP_BEST_ORACLE.format(
        MH=_registry.get("dedup_minhash").oracle,
        QF=_registry.get("quality_filter").oracle)


@register("cluster_keep_best", oracle=_keep_best_oracle(),
          tags=("dedup", "quality", "extension", "iterative",
                "composition"), gate=False)
def cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(component, keep_id, keep_score, n_members): one row per
    near-duplicate cluster over documents (singletons included as
    their own cluster), keeping the member with the highest integer
    quality score, ties to the smallest doc_id. The kept-corpus face
    is the semi-join of documents against keep_id (pinned in
    tests/test_connected_components.py)."""
    from myhadoop_spark.queries.dedup import dedup_minhash
    from myhadoop_spark.queries.quality_checks import quality_filter_q

    edges = dedup_minhash(spark, sf_dir).select(
        F.col("doc1").alias("src"), F.col("doc2").alias("dst"))
    labels = connected_components(edges)
    scores = quality_filter_q(spark, sf_dir).select("doc_id", "score")
    lab = (scores.join(labels.withColumnRenamed("id", "doc_id"),
                       "doc_id", "left")
           .select("doc_id", "score",
                   F.coalesce("component", "doc_id").alias("component")))
    # arg-max by (score DESC, doc_id ASC) as a partial-aggregable
    # min(struct) — carries the winning row, never a member window
    return (lab.groupBy("component")
            .agg(F.min(F.struct((-F.col("score")).alias("ns"),
                                F.col("doc_id").alias("keep_id")))
                 .alias("_s"),
                 F.count(F.lit(1)).cast("long").alias("n_members"))
            .select("component", F.col("_s.keep_id").alias("keep_id"),
                    (-F.col("_s.ns")).cast("long").alias("keep_score"),
                    "n_members")
            .orderBy("component"))

