"""Streaming near-duplicate suppression.

Batch near-dedup (dedup.py) emits pairs/clusters; a streaming ingest
pipeline instead wants to DROP incoming documents that near-duplicate
something already seen. Exact-dup streaming uses dropDuplicates on a
content hash; near-dup streaming needs a canonical sketch that equal
near-duplicates collide on. The 16-minhash signature (zero-shuffle
narrow fold, functions/text.py's MinHash family) is that sketch: documents
whose full signatures are identical are near-duplicates with very high
probability, and signature equality is a plain equality — so streaming
dropDuplicates machinery applies unchanged, with watermark-bounded state.

This trades recall for streamability (only signature-identical docs are
suppressed — banded OR-matching would need a stateful join); the batch
operator remains the exhaustive pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from myhadoop_spark.functions.text import (
    MINHASH_BAND_ROWS,
    MINHASH_FAM,
    hash32,
    minhash_fold,
    tokens,
)
from myhadoop_spark.operators.hof import let


def minhash_signature_col(text_col: str = "text") -> Column:
    """Full 16-minhash signature of a text column as a single string —
    the same hash family as the batch operator (dedup.py), computed as
    one narrow expression so it is legal inside a streaming query.

    The hashed token array is LET-BOUND (operators/hof.py): the 16
    fold expressions share one projection, but HOF-bearing projections
    evaluate interpreted with no subexpression elimination, so an
    unbound ``hashed`` would tokenize+md5 the document 16x per row."""
    return let(
        _hashed_tokens_col(text_col),
        lambda hashed: F.array_join(
            F.array(*[minhash_fold(hashed, i).cast("string")
                      for i in range(len(MINHASH_FAM))]), ","))


def _hashed_tokens_col(text_col: str) -> Column:
    return F.transform(F.array_distinct(tokens(text_col)), hash32)


def near_dedup_stream(docs: DataFrame, ts_col: str = "ts",
                      text_col: str = "text",
                      watermark: str = "2 hours") -> DataFrame:
    """Streaming near-dedup: keep the first document per minhash
    signature within the watermark horizon; signature-identical later
    arrivals are dropped. dropDuplicatesWithinWatermark (rather than
    plain dropDuplicates) is what makes the horizon real: state for a
    signature is evicted once the watermark passes it, so memory is
    bounded and a re-ingestion after the horizon counts as fresh."""
    return (
        docs.withColumn("minhash_sig", minhash_signature_col(text_col))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["minhash_sig"])
    )


# ---------------------------------------------------------------------------
# banded (OR-of-bands) streaming near-dedup — higher recall than full-
# signature equality: a doc is a near-dup if ANY of its 4 band signatures
# was seen before (the same OR-matching the batch LSH uses).
# ---------------------------------------------------------------------------


def band_keys_col(text_col: str = "text") -> Column:
    """Array of 4 band keys ('band_index:sig') for a text column —
    bands built directly from the unrolled folds (each fold appears
    once over the LET-BOUND hashed token array; an unbound reference
    would tokenize+md5 16x per row — interpreted HOF projections have
    no subexpression elimination), not by re-parsing the full
    signature string per band."""
    n_bands = len(MINHASH_FAM) // MINHASH_BAND_ROWS
    return let(
        _hashed_tokens_col(text_col),
        lambda hashed: F.array(*[
            F.concat(
                F.lit(f"{b}:"),
                F.array_join(
                    F.array(*[minhash_fold(hashed, b * MINHASH_BAND_ROWS + r)
                              .cast("string")
                              for r in range(MINHASH_BAND_ROWS)]), ","))
            for b in range(n_bands)]))


BAND_TTL_MS = 6 * 3600 * 1000  # band ownership expires 6h of event time
# after the owner's last sighting (bounds registry state on unbounded
# streams; replays beyond the horizon are treated as fresh documents)


def _make_band_registry(use_ttl: bool):
    """Factory for the applyInPandasWithState fn keyed by band_key: the
    first document to present a band signature owns it; later presenters
    are flagged. With use_ttl (EventTimeTimeout configured), expired
    owners are evicted and the next presenter becomes the new owner.
    (Timeout APIs throw under NoTimeout, hence the closure flag.)"""

    def _band_registry(key, pdfs, state):
        import pandas as pd

        if use_ttl and state.hasTimedOut:
            # idle expiry: no data for this band since the timeout passed
            state.remove()
            return iter([pd.DataFrame({"doc_id": [], "band_key": [],
                                       "owner_doc": []})])
        owner, last_seen = (state.get if state.exists else (None, 0))
        if use_ttl and owner is not None:
            # inline expiry: hasTimedOut never fires for groups that
            # receive data in the expiring batch, so ownership must also
            # lapse here once the watermark passes last_seen + TTL
            if state.getCurrentWatermarkMs() > last_seen + BAND_TTL_MS:
                owner = None
        out = []
        frames = [pdf for pdf in pdfs if len(pdf)]
        if not frames:
            # defensive: an empty data iterator outside the timeout path
            # (possible under misconfiguration or future runtime changes)
            # must not crash pd.concat; state stays as-is
            return iter([pd.DataFrame({"doc_id": [], "band_key": [],
                                       "owner_doc": []})])
        rows = pd.concat(frames).sort_values(["ts", "doc_id"])
        max_ts_ms = last_seen
        for _, r in rows.iterrows():
            if owner is None:
                owner = int(r["doc_id"])
            out.append({"doc_id": int(r["doc_id"]),
                        "band_key": key[0],
                        "owner_doc": owner})
            max_ts_ms = max(max_ts_ms, int(r["ts"].timestamp() * 1000))
        state.update((owner, max_ts_ms))
        if use_ttl:
            state.setTimeoutTimestamp(max_ts_ms + BAND_TTL_MS)
        return iter([pd.DataFrame(out)])

    return _band_registry


def banded_near_dedup_stream(docs: DataFrame, ts_col: str = "ts",
                             text_col: str = "text",
                             watermark: str | None = None) -> DataFrame:
    """Per-(doc, band) ownership stream: explode each document into its
    4 band keys and run a stateful registry per band key. Emits one row
    per (doc_id, band_key) with the owning doc (the first presenter).
    A document is a near-duplicate iff any of its rows has
    owner_doc != doc_id — that reduction happens per micro-batch in the
    consumer (e.g. foreachBatch; all 4 rows of a doc share a batch), so
    only one stateful operator is needed.

    Pass ``watermark`` (e.g. "1 hour") to bound state: band ownership
    then expires BAND_TTL_MS after the owner's last sighting once the
    watermark passes it — the unbounded-stream configuration."""
    from pyspark.sql import types as T

    from myhadoop_spark.shipping import ensure_shipped

    ensure_shipped(docs.sparkSession)
    src = docs
    if watermark is not None:
        src = src.withWatermark(ts_col, watermark)
    # normalize the time column to "ts" — the stateful fn sorts on it
    exploded = src.select(
        "doc_id", F.col(ts_col).alias("ts"),
        F.explode(band_keys_col(text_col)).alias("band_key"))
    out_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("band_key", T.StringType()),
        T.StructField("owner_doc", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("owner", T.LongType()),
        T.StructField("last_seen_ms", T.LongType()),
    ])
    from pyspark.sql.streaming.state import GroupStateTimeout

    use_ttl = watermark is not None
    timeout = (GroupStateTimeout.EventTimeTimeout if use_ttl
               else GroupStateTimeout.NoTimeout)
    return exploded.groupBy("band_key").applyInPandasWithState(
        _make_band_registry(use_ttl),
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=timeout,
    )


def band_decisions(batch_df: DataFrame) -> DataFrame:
    """Reduce a micro-batch of band-registry rows to per-doc decisions:
    is_near_dup ⇔ any band owned by an earlier doc."""
    return (
        batch_df.groupBy("doc_id")
        .agg(F.max((F.col("owner_doc") != F.col("doc_id")).cast("int"))
             .alias("dup"),
             F.min("owner_doc").alias("matched_doc"))
        .select("doc_id", (F.col("dup") == 1).alias("is_near_dup"),
                "matched_doc")
    )
