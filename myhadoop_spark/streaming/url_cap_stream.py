"""Streaming per-domain frequency capping — the ingest-time face of
operators/url_dedup.py::domain_cap: as documents arrive in
micro-batches, each domain spends a persistent budget of ``cap``
kept documents; once a domain's budget is gone, everything later
from it is dropped. This is the arrival-order contract a crawl
pipeline actually wants (earlier documents are never evicted by
later ones), which deliberately differs from the batch operator's
global (md5-rank, id) prefix — WITHIN a batch the deterministic rank
still decides who gets the remaining budget.

State (the streaming/versioned_state.py protocol — replay, lineage,
one-deep sweep):

    <path>/counts_v{batch_id}/  (domain, kept) — one row per domain
                                seen so far (bounded by live domains,
                                the same cardinality the batch
                                operator's count table carries)
    <path>/kept/batch_id=N/     the batch's kept documents
    <path>/meta.json            {last_batch, cap}

    kept_N     = domain_cap(batch_N, caps = cap − counts_{N-1})
    counts_N   = counts_{N-1} + per-domain counts of kept_N

``cap`` rides in the meta so a restart cannot silently change the
budget.

Scale shape: the per-batch work is the banded domain_cap (whole
bands keep/drop, boundary band sorts) plus one (domain)-sized count
merge — state and merge are domain-cardinality-bounded, never
corpus-sized, and nothing is collected to the driver.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myhadoop_spark.operators.url_dedup import domain_cap
from myhadoop_spark.streaming.observed import Observed
from myhadoop_spark.streaming.versioned_state import VersionedState

_state = partial(VersionedState, prefix="counts_v",
                 name="domain-cap state", coalesce=True)


def start_domain_cap_stream(doc_stream: DataFrame, *, path: str,
                            checkpoint: str, cap: int,
                            domain_col: str = "domain",
                            id_col: str = "doc_id",
                            bands: int = 32,
                            stats: list | None = None):
    """Maintain per-domain kept-budgets per micro-batch
    (availableNow-friendly); kept documents land under
    ``{path}/kept/batch_id=N``. Pass ``stats`` (a list) to receive
    one {batch, kept, domains} dict per absorbed batch, observed on
    the batch's own counts_v write (no extra job)."""
    state = _state(path, params={"cap": cap},
                   reason="change already-spent budgets")

    def _step(batch: DataFrame, v):
        obs = Observed(stats is not None)
        prev = v.prev
        if prev is not None:
            remaining = prev.select(
                domain_col,
                F.greatest(F.lit(cap).cast("long") - F.col("kept"),
                           F.lit(0).cast("long")).alias("cap"))
            kept = domain_cap(batch, domain_col=domain_col, cap=cap,
                              id_col=id_col, bands=bands, caps=remaining)
        else:
            kept = domain_cap(batch, domain_col=domain_col, cap=cap,
                              id_col=id_col, bands=bands)
        kept_path = f"{path}/kept/batch_id={v.batch_id}"
        kept.write.mode("overwrite").parquet(kept_path)
        batch_counts = (v.spark.read.parquet(kept_path)
                        .groupBy(domain_col)
                        .agg(F.count(F.lit(1)).alias("kept")))
        v.write(obs(batch_counts if prev is None
                    else prev.unionByName(batch_counts)
                    .groupBy(domain_col)
                    .agg(F.sum("kept").cast("long").alias("kept")),
                    kept=F.sum("kept"), domains=F.count(F.lit(1))))
        yield {}
        if stats is not None:
            m = obs.get()
            stats.append({"batch": v.batch_id, "kept": int(m["kept"] or 0),
                          "domains": m["domains"]})

    return state.start(doc_stream, checkpoint, _step)


def read_kept(spark: SparkSession, path: str) -> DataFrame:
    """Everything the capped ingest has kept so far (all batches)."""
    _state(path).meta(spark)
    return spark.read.parquet(f"{path}/kept")
