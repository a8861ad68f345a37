"""Streaming simhash near-dedup — the ingest face of the Hamming-ball
join (operators/simhash_join.py): incoming documents are dropped when
their fingerprint lies within ``max_hamming`` bits of ANYTHING the
corpus has already accepted. This is the production shape of Manku et
al. 2007 (near-dup suppression at crawl ingest), with EXACT recall at
the configured radius — unlike the signature-equality minhash face
(streaming/near_dedup.py), which trades recall for statelessness.

Per-batch semantics (deterministic):

    1. within-batch: Hamming pairs → connected components → only each
       cluster's min-id representative goes forward (the batch
       operator composition, so a burst of mutual near-dups admits
       exactly one);
    2. cross-corpus: representatives within ``max_hamming`` of any
       ACCEPTED fingerprint drop (exact pigeonhole probe against the
       seen state);
    3. survivors land under ``{path}/clean/batch_id=N`` and their
       fingerprints join the seen state.

Arrival-order contract (the house rule): earlier batches win;
accepted documents are never revoked. State = seen_v{batch} (id,
simhash) of every accepted document under the
streaming/versioned_state.py protocol, with (bits, max_hamming)
riding in the meta.

Scale shape: per batch, the within-batch join is batch-sized; the
cross probe joins batch blocks against the data-sized seen blocks
hash-partitioned (state ∝ ACCEPTED corpus — near-dups never enter
it). The CC rounds are batch-bounded.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myhadoop_spark.operators.connected_components import (
    connected_components,
)
from myhadoop_spark.operators.simhash_join import (
    hamming_pairs,
    hamming_probe,
)
from myhadoop_spark.streaming.observed import Observed
from myhadoop_spark.streaming.versioned_state import VersionedState

_state = partial(VersionedState, prefix="seen_v",
                 name="simhash-dedup state")


def start_simhash_dedup_stream(doc_stream: DataFrame, *, path: str,
                               checkpoint: str, bits: int = 32,
                               max_hamming: int = 2,
                               sim_col: str = "simhash",
                               id_col: str = "doc_id",
                               stats: list | None = None):
    """Suppress near-duplicates at ingest (availableNow-friendly);
    the stream carries (doc_id, simhash, ...). Survivors land under
    ``{path}/clean/batch_id=N``. Pass ``stats`` (a list) to receive
    one {batch, docs_in, docs_kept, seen} dict per batch, observed on
    the batch's own clean/ and seen_v writes (no extra job)."""
    if not 1 <= int(max_hamming) < int(bits):
        raise ValueError(f"max_hamming must be in [1, bits), got "
                         f"{max_hamming}")

    state = _state(path, params={"bits": int(bits),
                                 "max_hamming": int(max_hamming)},
                   reason="change what counts as a near-duplicate")

    def _step(batch: DataFrame, v):
        obs = Observed(stats is not None)
        # 1. within-batch: cluster and keep each cluster's min id
        pairs = hamming_pairs(batch, bits=bits,
                              max_hamming=max_hamming, id_col=id_col,
                              sim_col=sim_col)
        edges = pairs.select(F.col("id_a").alias("src"),
                             F.col("id_b").alias("dst"))
        if edges.isEmpty():
            def within(docs):
                return docs
        else:
            cc = connected_components(edges)
            losers = (cc.groupBy("component")
                      .agg(F.min("id").alias("_keep"))
                      .join(cc, "component")
                      .filter(F.col("id") != F.col("_keep"))
                      .select(F.col("id").alias(id_col)))

            def within(docs):
                return docs.join(losers, id_col, "left_anti")
        # docs_in rides the survivors' own left side — the only place
        # the batch is read exactly once (the probe reads it again)
        survivors = within(obs.rows(batch, "docs_in"))
        # 2. cross-corpus probe against accepted fingerprints
        seen = v.prev
        if seen is not None:
            hits = hamming_probe(within(batch), seen, bits=bits,
                                 max_hamming=max_hamming,
                                 id_col=id_col, sim_col=sim_col)
            survivors = survivors.join(hits, id_col, "left_anti")
        clean_path = f"{path}/clean/batch_id={v.batch_id}"
        obs.rows(survivors, "docs_kept").write.mode("overwrite").parquet(
            clean_path)
        new_seen = v.spark.read.parquet(clean_path).select(id_col, sim_col)
        if seen is not None:
            new_seen = seen.select(id_col, sim_col).unionByName(new_seen)
        v.write(obs.rows(new_seen, "seen"))
        yield {}
        if stats is not None:
            stats.append({"batch": v.batch_id, **obs.get()})

    return state.start(doc_stream, checkpoint, _step)


def read_clean(spark: SparkSession, path: str) -> DataFrame:
    """Everything the suppressing ingest has emitted so far."""
    _state(path).meta(spark)
    return spark.read.parquet(f"{path}/clean")
