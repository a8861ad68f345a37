"""Video fingerprint family (r13) — the multimodal surface's video
face: payload → per-sampled-frame decoded grayscale grid
(sources/multimodal.decode_video_grids, Arrow mapInPandas; real
animated-GIF parse — pure-Python LZW — or the deterministic fake) →
dHash per frame (operators/phash.py) → positional frame-match join
(operators/video_fp.py: pigeonhole Hamming blocks with frame_idx in
the equi-join key, pair survives at ≥ min_shared matched positions).

Two differentials, the media/audio two-layer precedent:

  video_frames  — THROUGH the decode plumbing: synthetic payloads
                  (planted exact duplicates, VARIABLE frame counts
                  2–4 from the payload digest — the row-expanding
                  decode is exercised, not just its schema) →
                  decode_video_grids (Arrow mapInPandas, fake
                  deterministic frame grids: byte (i·7 + 13·f mod 32)
                  of sha256(payload) — SQL-reproducible) → per-frame
                  dhash64, bitwise per (media, frame).
  video_neardup — the join face: planted per-frame grids (one cell
                  of ONE frame perturbed ⇒ that frame's dHash moves
                  ≤ 2 bits, the other frames are identical) →
                  frame_match_pairs vs the brute-force quadratic
                  positional oracle.

The REAL decode path (GIF header walk + LZW + palette mapping) is
pinned in tests/test_video.py over generated on-disk animated GIFs —
payload bytes cannot be built in SQL (the WAV/PPM precedent). CC
keep-one over the surviving pairs is not duplicated: media_dedup
gate-pins that machinery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myhadoop_spark.queries.media import _DHASH_SQL
from myhadoop_spark.registry import register
from myhadoop_spark.materialize import materialize

N_VF = 48             # video_frames: 16 payload groups x 3 exact copies
N_VND_GROUPS = 16     # video_neardup: 16 videos x 4 variants
_VND_V = 4
_VND_FRAMES = 4


@register(
    "video_frames",
    oracle=f"""
    WITH m AS (SELECT id AS media_id,
                      repeat(sha256(CAST(id // 3 AS VARCHAR)), 4)
                          AS payload
               FROM generate_series(0, {N_VF - 1}) t(id)),
    d AS (SELECT media_id, sha256(payload) AS digest,
                 2 + CAST(concat('0x', substr(sha256(payload), 9, 2))
                          AS INT) % 3 AS nf
          FROM m),
    fr AS (SELECT media_id, digest, nf, f
           FROM d, generate_series(0, 3) s(f)
           WHERE f < nf),
    g AS (SELECT media_id, f AS frame_idx, nf,
                 list_transform(generate_series(0, 71), i ->
                     CAST(concat('0x', substr(digest,
                          2 * ((i * 7 + 13 * f) % 32) + 1, 2))
                          AS INT)) AS grid
          FROM fr)
    SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(nf AS INT) AS n_frames, {_DHASH_SQL} AS fhash
    FROM g ORDER BY media_id, frame_idx
    """,
    gate=False,
    tags=("multimodal", "video", "dedup", "extension"),
)
def video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, frame_idx, n_frames, fhash): per-frame perceptual
    hashes computed THROUGH the video decode plumbing — synthetic
    payloads with planted exact duplicates and VARIABLE frame counts
    (2–4, derived from the digest, so the row-expanding Arrow decode
    is what the differential pins) → decode_video_grids → dhash64 per
    sampled frame. sf_dir unused — payloads are self-generated (the
    media_phash precedent).

    Scale: decode expands rows batch-wise in executors (frames per
    payload bounded by max_frames); the hash is one narrow
    zero-shuffle projection per frame row."""
    from myhadoop_spark.operators.phash import dhash64
    from myhadoop_spark.sources.multimodal import decode_video_grids

    mdf = spark.range(0, N_VF, 1, 8).select(
        F.col("id").alias("media_id"),
        F.repeat(F.sha2((F.col("id") / 3).cast("long").cast("string"),
                        256), 4).cast("binary").alias("payload"))
    grids = decode_video_grids(mdf, grid_rows=8, grid_cols=9,
                               max_frames=8, fake=True)
    # r13: checkpoint before the global sort — orderBy's sampling pass
    # re-executes a narrow child, so the Arrow decode ran twice
    return (grids.select(
        "media_id", "frame_idx", "n_frames",
        dhash64(F.col("grid"), rows=8, cols=9).alias("fhash"))
        .transform(materialize)
        .orderBy("media_id", "frame_idx"))


_VND_PIX = ("CAST(concat('0x', substr(md5(concat(g, '#', f, ':', i)), "
            "1, 2)) AS INT)")


@register(
    "video_neardup",
    oracle=f"""
    WITH m AS (SELECT id AS media_id, id // {_VND_V} AS g,
                      id % {_VND_V} AS v
               FROM generate_series(0, {N_VND_GROUPS * _VND_V - 1}) t(id)),
    fr AS (SELECT media_id, g, v, f
           FROM m, generate_series(0, {_VND_FRAMES - 1}) s(f)),
    g AS (SELECT media_id, f,
                 list_transform(generate_series(0, 71), i ->
                     CASE WHEN v IN (1, 2) AND f = v
                               AND (7 * v + g) % 72 = i
                          THEN ({_VND_PIX} + 128) % 256
                          ELSE {_VND_PIX} END) AS grid
          FROM fr),
    h AS (SELECT media_id, f, {_DHASH_SQL} AS fhash FROM g),
    matched AS (SELECT a.media_id AS id_a, b.media_id AS id_b, a.f
                FROM h a JOIN h b
                  ON a.media_id < b.media_id AND a.f = b.f
                WHERE bit_count(xor(a.fhash, b.fhash)) <= 2)
    SELECT id_a, id_b, COUNT(*) AS shared_frames
    FROM matched GROUP BY id_a, id_b
    HAVING COUNT(*) >= {_VND_FRAMES - 1}
    ORDER BY id_a, id_b
    """,
    gate=True,  # promoted r13 — the video family's gate row: the
    #             positional frame-match join (frame_idx in the block
    #             key + min_shared counting) is machinery no other
    #             gated row runs
    tags=("multimodal", "video", "dedup", "extension", "lsh"),
)
def video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id_a, id_b, shared_frames): video near-duplicate pairs over
    planted per-frame grids — 16 base videos × 4 variants × 4 frames
    (v0 base; v1/v2 perturb one cell of frame v ⇒ that frame's dHash
    moves ≤ 2 bits, the other three frames are identical; v3 an
    exact copy) → per-frame dhash64 → the positional frame-match
    join at max_hamming 2, min_shared 3. The oracle is the
    brute-force quadratic positional join the banded plan must
    reproduce bitwise. sf_dir unused — grids are self-generated so
    the planted structure is the same on both engines.

    Scale: pigeonhole blocks with frame_idx in the join key (tighter
    buckets than the frame-agnostic join) + a partial-aggregable
    shared-position count; never all-pairs."""
    from myhadoop_spark.operators.video_fp import frame_match_pairs

    # checkpoint: frame_match_pairs references fh in both join
    # branches (r13)
    fh = (_planted_frame_hashes(spark).select(
        "media_id", "frame_idx", "fhash")
          .transform(materialize))
    return (frame_match_pairs(fh, bits=64, max_hamming=2,
                              min_shared=_VND_FRAMES - 1)
            .orderBy("id_a", "id_b"))


_VND_GRID_SQL = f"""
    m AS (SELECT id AS media_id, id // {_VND_V} AS g,
                 id % {_VND_V} AS v
          FROM generate_series(0, {N_VND_GROUPS * _VND_V - 1}) t(id)),
    fr AS (SELECT media_id, g, v, f
           FROM m, generate_series(0, {_VND_FRAMES - 1}) s(f)),
    g AS (SELECT media_id, v, f,
                 list_transform(generate_series(0, 71), i ->
                     CASE WHEN v IN (1, 2) AND f = v
                               AND (7 * v + g) % 72 = i
                          THEN ({_VND_PIX} + 128) % 256
                          ELSE {_VND_PIX} END) AS grid
          FROM fr),
    h AS (SELECT media_id, v, f, {_DHASH_SQL} AS fhash FROM g)
"""


@register(
    "video_probe",
    oracle=f"""
    WITH {_VND_GRID_SQL},
    matched AS (SELECT DISTINCT p.media_id, s.media_id AS sid, p.f
                FROM h p JOIN h s
                  ON p.v <> 0 AND s.v = 0 AND p.f = s.f
                 AND bit_count(xor(p.fhash, s.fhash)) <= 2)
    SELECT DISTINCT media_id
    FROM (SELECT media_id, sid, COUNT(*) AS n
          FROM matched GROUP BY media_id, sid
          HAVING COUNT(*) >= {_VND_FRAMES - 1})
    ORDER BY media_id
    """,
    gate=False,
    tags=("multimodal", "video", "dedup", "extension", "lsh"),
)
def video_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id): the cross-set suppression face for video — which
    incoming videos share ≥ min_shared aligned frame positions
    (within 2 bits each) with any single already-accepted reference
    video (here: the planted v0 bases) — `frame_match_probe`, the
    ingest-time re-upload gate. Exact recall by the same positional
    pigeonhole blocks; the oracle is the brute-force cross join.
    sf_dir unused — planted grids (see video_neardup)."""
    from myhadoop_spark.operators.video_fp import frame_match_probe

    fh = _planted_frame_hashes(spark).transform(materialize)
    seen = fh.filter(F.col("v") == 0).select(
        "media_id", "frame_idx", "fhash")
    probe = fh.filter(F.col("v") != 0).select(
        "media_id", "frame_idx", "fhash")
    return (frame_match_probe(probe, seen, bits=64, max_hamming=2,
                              min_shared=_VND_FRAMES - 1)
            .orderBy("media_id"))


def _planted_frame_hashes(spark: SparkSession) -> DataFrame:
    """(media_id, v, frame_idx, fhash) for the planted frame-grid
    table — the shared engine side of the video_neardup family. One
    transform lambda over sequence(0, 71) per frame row (the r13
    plan-size lesson — see media._planted_hashes)."""
    from myhadoop_spark.operators.hof import let
    from myhadoop_spark.operators.phash import dhash64

    base = spark.range(N_VND_GROUPS * _VND_V).select(
        F.col("id").alias("media_id"),
        (F.col("id") / _VND_V).cast("long").alias("g"),
        (F.col("id") % _VND_V).alias("v")).select(
        "media_id", "g", "v",
        F.explode(F.sequence(
            F.lit(0), F.lit(_VND_FRAMES - 1))).alias("frame_idx"))

    def cell(i):
        s = F.md5(F.concat(
            F.col("g").cast("string"), F.lit("#"),
            F.col("frame_idx").cast("string"), F.lit(":"),
            i.cast("string")))
        pix0 = F.conv(F.substring(s, 1, 2), 16, 10).cast("int")
        hit = (F.col("v").isin(1, 2)
               & (F.col("frame_idx") == F.col("v"))
               & ((F.lit(7) * F.col("v") + F.col("g")) % 72
                  == i.cast("long")))
        return let(pix0,
                   lambda pix: F.when(hit, (pix + 128) % 256)
                   .otherwise(pix))

    grids = base.select(
        "media_id", "v", "frame_idx",
        F.transform(F.sequence(F.lit(0), F.lit(71)), cell)
        .alias("grid"))
    return grids.select(
        "media_id", "v", "frame_idx",
        dhash64(F.col("grid"), rows=8, cols=9).alias("fhash"))
