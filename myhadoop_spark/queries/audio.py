"""Audio fingerprint family (r13) — the multimodal surface's audio
face: payload → decoded frames × bands band-energy grid
(sources/multimodal.decode_audio_grid, Arrow mapInPandas; real 16-bit
PCM WAV parse or the deterministic fake) → Haitsma–Kalker 64-bit
fingerprint (operators/audio_fp.py, pure JVM integer expressions) →
Hamming-ball join (operators/simhash_join.py, exact-recall pigeonhole
blocks).

One differential, THROUGH the decode plumbing:

  audio_fp      — synthetic payloads (planted exact duplicates) →
                  decode_audio_grid (Arrow mapInPandas, fake
                  deterministic energy grid: byte (i·5 mod 32) of
                  sha256(payload) — SQL-reproducible) → hk64, bitwise
                  per media id.

The REAL decode path (RIFF/WAVE PCM parse + rfft band energies) is
pinned in tests/test_audio.py over generated on-disk WAV corpora —
payload bytes cannot be built in SQL, so the codec parse is
test-covered rather than oracle-covered (the PPM/BMP/PNG precedent).
The Hamming join and keep-one faces are NOT duplicated here:
media_neardup / media_dedup gate-pin that machinery over the identical
fingerprint+Hamming shape (hk64 plugs into the same joins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myhadoop_spark.registry import register
from myhadoop_spark.materialize import materialize

N_AFP = 48            # audio_fp: 16 payload groups x 3 exact copies
# DuckDB 1-indexed access into the row-major 9x9 energy grid:
# E(n, m) with n = j // 8, m = j % 8
_E_NM = "g.grid[(j // 8) * 9 + (j % 8) + 1]"
_E_NM1 = "g.grid[(j // 8) * 9 + (j % 8) + 2]"
_E_N1M = "g.grid[(j // 8 + 1) * 9 + (j % 8) + 1]"
_E_N1M1 = "g.grid[(j // 8 + 1) * 9 + (j % 8) + 2]"
# signed-long bit mask: bit 63 is -2^63 (two's complement), matching
# operators/phash.py::_mask — the media-family packing
_MASK = ("CASE WHEN j = 63 THEN -9223372036854775808 "
         "ELSE (CAST(1 AS BIGINT) << CAST(j AS INT)) END")

_HK_SQL = f"""CAST(list_sum(list_transform(generate_series(0, 63),
    j -> CASE WHEN ({_E_N1M} - {_E_N1M1}) - ({_E_NM} - {_E_NM1}) > 0
         THEN {_MASK} ELSE 0 END)) AS BIGINT)"""


@register(
    "audio_fp",
    oracle=f"""
    WITH m AS (SELECT id AS media_id,
                      repeat(sha256(CAST(id // 3 AS VARCHAR)), 4)
                          AS payload
               FROM generate_series(0, {N_AFP - 1}) t(id)),
    d AS (SELECT media_id, sha256(payload) AS digest FROM m),
    g AS (SELECT media_id,
                 list_transform(generate_series(0, 80), i ->
                     CAST(concat('0x', substr(digest,
                          2 * ((i * 5) % 32) + 1, 2)) AS BIGINT)) AS grid
          FROM d)
    SELECT media_id, {_HK_SQL} AS afp
    FROM g ORDER BY media_id
    """,
    gate=True,  # promoted r13 — the audio family's gate row: the
    #             Haitsma–Kalker packing AND the Arrow audio decode
    #             plumbing pinned through one differential
    tags=("multimodal", "audio", "dedup", "extension"),
)
def audio_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, afp): Haitsma–Kalker audio fingerprints computed
    THROUGH the decode plumbing — synthetic payloads with planted
    exact duplicates (three media per payload group) →
    decode_audio_grid (Arrow mapInPandas; the deterministic fake
    energy grid is byte (i·5 mod 32) of sha256(payload),
    SQL-reproducible) → hk64 over the 9×9 grid, packed as a signed
    64-bit long by pure JVM integer expressions. sf_dir unused —
    payloads are self-generated.

    Scale: decode is batch-wise in executors; the fingerprint is one
    narrow zero-shuffle projection per media row."""
    from myhadoop_spark.operators.audio_fp import hk64
    from myhadoop_spark.sources.multimodal import decode_audio_grid

    # 8 range splits (one Python worker per split through the Arrow decode; 32 one-row tasks'
    # spin-up dominates a 48-row fixture)
    mdf = spark.range(0, N_AFP, 1, 8).select(
        F.col("id").alias("media_id"),
        F.repeat(F.sha2((F.col("id") / 3).cast("long").cast("string"),
                        256), 4).cast("binary").alias("payload"))
    grids = decode_audio_grid(mdf, frames=9, bands=9, fake=True)
    # r13: checkpoint before the global sort — orderBy's sampling pass
    # re-executes a narrow child, so the Arrow decode ran twice
    return (grids.select(
        "media_id",
        hk64(F.col("energies"), frames=9, bands=9).alias("afp"))
        .transform(materialize)
        .orderBy("media_id"))
