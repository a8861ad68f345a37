"""Streaming entity resolution — the ingest face of
queries/fuzzy.py::entity_resolution: records arrive in micro-batches
and are ASSIGNED to entities incrementally — an incoming record
within ``max_dist`` edits of an already-accepted canonical record
joins that entity; otherwise its batch-cluster's canonical becomes a
NEW entity. The catalog's canonical records never change once
accepted (the arrival-order contract shared by every ingest face
here; the one-shot operator is the re-canonicalization tool).

Per-batch semantics (deterministic):

    1. within-batch: Ed-Join pairs → connected components → one
       canonical per cluster by the batch operator's shortest-name
       rule (min(struct(len, nm, id)));
    2. cross probe: each cluster's CANONICAL probes the accepted
       catalog (exact-recall Ed-Join over the tag-union — reuses the
       tested self-join path); a hit assigns the whole cluster to
       the existing entity (ties: smallest distance, then smallest
       entity id) — assignment is cluster-level, the standard ER
       blocking behavior (members follow their representative);
    3. misses mint new entities (the cluster canonical's id) and
       append to the catalog state.

Emitted per batch: ``{path}/assign/batch_id=N`` with one
(id, nm, entity, canon_nm, is_new) row per input record. State =
``{path}/canon_v{batch}`` (entity, canon_nm) under the
streaming/versioned_state.py protocol; meta.json carries
{last_batch, max_dist, q, index, n_buckets}.

Scale note: by default the cross probe runs the gram-prefix
candidate stage over batch-reps ∪ catalog — dedupe-first and prefix
selectivity bound it, but the catalog side is re-exploded,
re-ranked, and fully read every batch. ``pruned_index=True`` (r12)
switches the probe to the persistent partition-pruned q-gram prefix
index (operators/edjoin_index.py): the catalog's per-tier prefix
rows are appended to bucket-partitioned parquet as entities are
accepted, the gram ORDER is frozen at the founding batch (exactness
needs only a COMMON order — see the index module), and each batch
reads only the buckets its own prefix grams hash to plus the bounded
short tier. Assignments are BITWISE identical to the default probe
(both are exact-recall candidate generators in front of the same
exact verify) — pinned in tests/test_entity_stream.py.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myhadoop_spark.operators.connected_components import (
    connected_components,
)
from myhadoop_spark.operators.edjoin import edit_distance_pairs
from myhadoop_spark.materialize import materialize
from myhadoop_spark.streaming.observed import Observed
from myhadoop_spark.streaming.versioned_state import VersionedState

_state = partial(VersionedState, prefix="canon_v", name="entity catalog")


def _cluster_canonicals(batch: DataFrame, *, max_dist: int,
                        q: int) -> DataFrame:
    """(id, nm, _ent, _cid, _cnm): every batch row labeled with its
    within-batch entity (_ent) and that cluster's canonical id/name
    by the shortest-name rule."""
    pairs = edit_distance_pairs(batch, "id", "nm",
                                max_dist=max_dist, q=q)
    cc = connected_components(
        pairs.select(F.col("id_a").alias("src"),
                     F.col("id_b").alias("dst")))
    lab = (batch.join(cc.withColumnRenamed("id", "_i"),
                      batch.id == F.col("_i"), "left")
           .select("id", "nm",
                   F.coalesce("component", "id").alias("_ent")))
    canon = (lab.groupBy("_ent")
             .agg(F.min(F.struct(F.length("nm").alias("l"),
                                 F.col("nm"), F.col("id")))
                  .alias("_s"))
             .select("_ent", F.col("_s.id").alias("_cid"),
                     F.col("_s.nm").alias("_cnm")))
    return lab.join(canon, "_ent")


def start_entity_stream(rec_stream: DataFrame, *, path: str,
                        checkpoint: str, max_dist: int = 2,
                        q: int = 2, pruned_index: bool = False,
                        n_buckets: int = 64,
                        stats: list | None = None):
    """Resolve each micro-batch of (id, nm) records against the
    incrementally-built canonical catalog (availableNow-friendly).
    Pass ``stats`` (a list) to receive one {batch, records, matched,
    new_entities, catalog} dict per batch, observed on the batch's own
    assign/ and canon_v writes (plus buckets_read / index_rows_read
    when ``pruned_index``)."""
    if int(max_dist) < 1 or int(q) < 1:
        raise ValueError("max_dist and q must be >= 1")
    if int(n_buckets) < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")

    def _probe_mode(meta: dict) -> None:
        if (meta.get("index", False) != bool(pruned_index)
                or (pruned_index
                    and meta.get("n_buckets") != int(n_buckets))):
            raise ValueError(
                f"entity catalog at {path} was built with index="
                f"{meta.get('index', False)}, n_buckets="
                f"{meta.get('n_buckets')}; the prefix index only "
                "covers entities accepted while it was on — start a "
                "fresh state path to switch probe modes")

    state = _state(path, params={"max_dist": int(max_dist), "q": int(q)},
                   reason="change what counts as the same entity",
                   check=_probe_mode)

    def _step(batch: DataFrame, v):
        spark, batch_id, meta, catalog = (v.spark, v.batch_id, v.meta,
                                          v.prev)
        obs = Observed(stats is not None)
        lab = _cluster_canonicals(batch, max_dist=max_dist,
                                  q=q).transform(materialize)
        # the tag-union probe NEGATES catalog ids; record ids must be
        # non-negative (and globally unique — the ingest contract)
        mn = lab.agg(F.min("id")).head()[0]
        if mn is not None and mn < 0:
            raise ValueError(
                f"entity stream requires non-negative record ids "
                f"(got {mn}) — the catalog probe reserves the "
                "negative range")
        reps = lab.select(F.col("_cid").alias("id"),
                          F.col("_cnm").alias("nm")).distinct()
        probe_stats: dict = {}
        if meta is not None and pruned_index:
            from myhadoop_spark.operators.edjoin_index import (
                prefix_rows,
                probe,
                read_pruned,
            )

            order = spark.read.parquet(f"{path}/gram_df")
            b_names = reps.select(F.col("id").alias("entity"), "nm")
            bucket_set = (prefix_rows(b_names, order, max_dist=max_dist,
                                      q=q, n_buckets=n_buckets)
                          .filter(F.col("tier") != "short")
                          .select("bucket").distinct())
            # bucket set of THIS batch's prefix grams — ≤ n_buckets
            # values, the collect is bounded by construction
            buckets = [r["bucket"] for r in bucket_set.collect()]
            # committed batches only (<= last_batch): a crash after
            # the batch-N prefix write but before the meta commit
            # must not let the replay probe its own orphan rows
            idx = read_pruned(spark, path, buckets,
                              max_batch=meta["last_batch"])
            if stats is not None:
                probe_stats["buckets_read"] = len(buckets)
                # stats-only action: the probe reads idx in three
                # tier-filtered branches, none of them whole
                probe_stats["index_rows_read"] = idx.count()
            cross = probe(b_names, idx, order, max_dist=max_dist,
                          q=q, n_buckets=n_buckets)
            match = (cross.groupBy("probe_id")
                     .agg(F.min(F.struct("dist", F.col("entity")))
                          .alias("_m"))
                     .select(F.col("probe_id").alias("_rid"),
                             F.col("_m.entity").alias("_match")))
        elif meta is not None:
            # cross probe through the tag-union: catalog ids ride
            # NEGATED (-entity - 1, always < 0) so id ranges cannot
            # collide and every cross pair is catalog-vs-rep
            tagged = (reps.unionByName(
                catalog.select((-F.col("entity") - 1).alias("id"),
                             F.col("canon_nm").alias("nm"))))
            cross = (edit_distance_pairs(tagged, "id", "nm",
                                         max_dist=max_dist, q=q)
                     .filter((F.col("id_a") < 0) != (F.col("id_b") < 0))
                     .select(
                         F.greatest("id_a", "id_b").alias("_rid"),
                         (-F.least("id_a", "id_b") - 1).alias("_ent0"),
                         "dist"))
            match = (cross.groupBy("_rid")
                     .agg(F.min(F.struct("dist", F.col("_ent0")))
                          .alias("_m"))
                     .select(F.col("_rid"),
                             F.col("_m._ent0").alias("_match")))
        else:
            match = None
        assigned = lab
        if match is not None:
            assigned = (lab.join(
                match, lab._cid == match._rid, "left").drop("_rid"))
        else:
            assigned = lab.withColumn("_match",
                                      F.lit(None).cast("long"))
        ent_nm = (catalog.select(F.col("entity").alias("_match"),
                               F.col("canon_nm").alias("_mnm"))
                  if catalog is not None else None)
        out = assigned.withColumn("is_new", F.col("_match").isNull())
        if ent_nm is not None:
            out = out.join(F.broadcast(ent_nm), "_match", "left")
        else:
            out = out.withColumn("_mnm", F.lit(None).cast("string"))
        out = out.select(
            "id", "nm",
            F.coalesce("_match", "_cid").alias("entity"),
            F.coalesce("_mnm", "_cnm").alias("canon_nm"),
            "is_new")
        obs(out, records=F.count(F.lit(1)),
            matched=F.count_if(~F.col("is_new"))).write.mode(
                "overwrite").parquet(f"{path}/assign/batch_id={batch_id}")
        back = spark.read.parquet(f"{path}/assign/batch_id={batch_id}")
        new_canon = (back.filter("is_new")
                     .select("entity", "canon_nm").distinct())
        added = obs.rows(new_canon, "new_entities")
        v.write(obs.rows(catalog.unionByName(added)
                         if catalog is not None else added, "catalog"))
        if pruned_index:
            from myhadoop_spark.operators.edjoin_index import (
                freeze_order,
                prefix_rows,
            )

            if meta is None:
                # freeze the gram order on the FOUNDING catalog —
                # exactness needs only a COMMON order, so this order
                # serves every later append and probe unchanged
                freeze_order(
                    new_canon.select("entity",
                                     F.col("canon_nm").alias("nm")),
                    q=q).write.mode("overwrite").parquet(
                        f"{path}/gram_df")
            order = spark.read.parquet(f"{path}/gram_df")
            (prefix_rows(
                new_canon.select("entity",
                                 F.col("canon_nm").alias("nm")),
                order, max_dist=max_dist, q=q, n_buckets=n_buckets)
             .write.mode("overwrite").partitionBy("tier", "bucket")
             .parquet(f"{path}/prefix/batch_id={batch_id}"))
        yield {"index": bool(pruned_index), "n_buckets": int(n_buckets)}
        if stats is not None:
            stats.append({"batch": batch_id, **obs.get(), **probe_stats})

    return state.start(rec_stream, checkpoint, _step)


def read_assignments(spark: SparkSession, path: str) -> DataFrame:
    _state(path).meta(spark)
    return spark.read.parquet(f"{path}/assign")


def read_catalog(spark: SparkSession, path: str) -> DataFrame:
    return _state(path).read(spark)
