"""media_features — the multimodal column pipeline as a declared query.

The media surface (sources/multimodal.py) is deterministic end-to-end:
payloads are repeat(sha256(media_id), 4) built distributed, and the
fake decode derives every feature from sha256(payload). That makes a
DuckDB oracle writable — the oracle re-derives widths/heights/durations
from the same digests, so the driver gate covers the whole mapInPandas
(Arrow batch) decode path, not just its schema.

Float note: the 8-dim feature vector is round(byte/255, 6) per
component. Rounded floats are not reliably hashable cross-engine, so
the declared query reduces features to an exact integer checksum:
round(f*255) provably recovers the source byte on both engines (the
representation error of round(b/255, 6) as float32 is ≤3e-5 · 255 ≪ .5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from myhadoop_spark.registry import register
from myhadoop_spark.sources.multimodal import decode_media, fake_media_df
from myhadoop_spark.materialize import materialize

N_MEDIA = 64

_SQL_BYTE = "CAST(concat('0x', substr(digest, 2 * {i} + 1, 2)) AS INT)"


@register(
    "media_features",
    oracle=f"""
    WITH m AS (SELECT id AS media_id,
                      CASE CAST(id % 3 AS INT) WHEN 0 THEN 'image'
                           WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                      repeat(sha256(CAST(id AS VARCHAR)), 4) AS payload
               FROM generate_series(0, {N_MEDIA - 1}) t(id)),
    d AS (SELECT media_id, kind,
                 CAST(length(payload) AS BIGINT) AS n_bytes,
                 sha256(payload) AS digest
          FROM m),
    f AS (SELECT kind, n_bytes, digest,
                 CASE WHEN kind IN ('image', 'video')
                      THEN 16 * ({_SQL_BYTE.format(i=0)} % 64 + 1) END AS width,
                 CASE WHEN kind IN ('image', 'video')
                      THEN 16 * ({_SQL_BYTE.format(i=1)} % 64 + 1) END AS height,
                 CASE WHEN kind IN ('audio', 'video')
                      THEN {_SQL_BYTE.format(i=2)} * 256
                           + {_SQL_BYTE.format(i=3)} END AS duration_ms,
                 CAST(list_sum(list_transform(generate_series(0, 7),
                     i -> CAST(concat('0x', substr(digest, 2 * i + 1, 2))
                               AS INT))) AS BIGINT) AS feat_bytes
          FROM d)
    SELECT kind,
           COUNT(*) AS n_media,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           COUNT(DISTINCT digest) AS n_sha,
           CAST(SUM(width) AS BIGINT) AS sum_width,
           CAST(SUM(height) AS BIGINT) AS sum_height,
           CAST(SUM(duration_ms) AS BIGINT) AS sum_duration_ms,
           CAST(SUM(feat_bytes) AS BIGINT) AS feat_checksum
    FROM f GROUP BY kind
    """,
    gate=False,  # demoted r13 (for the audio_fp promotion): its Arrow
    #              mapInPandas decode plumbing is gate-pinned by audio_fp
    #              (decode_audio_grid, the same digest-fake through-decode
    #              contract) and the gated media_neardup/media_dedup
    #              family; the per-kind rollup shape by agg_q1 /
    #              cube_rollup. Stays a full ungated differential.
    tags=("multimodal", "extension"),
)
def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline: synthetic binary media table (distributed
    spark.range build, no driver materialization) → Arrow mapInPandas
    decode/feature-extract (sources/multimodal.py) → per-kind rollup of
    byte counts, digests, visual dimensions, durations, and an exact
    integer checksum of the 8-dim feature vectors. sf_dir is unused —
    media payloads are self-generated (the multimodal analog of
    wc_reference_corpus's fixed corpus).

    Scale: decode runs batch-wise in executors (payloads never visit
    the driver); the rollup shuffles 3 kinds × a handful of longs."""
    df = decode_media(fake_media_df(spark, N_MEDIA), fake=True, feature_dim=8)
    feat_bytes = F.aggregate(
        F.transform("feature",
                    lambda f: F.round(f.cast("double") * 255).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        df.withColumn("feat_bytes", feat_bytes)
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("n_bytes").alias("total_bytes"),
            F.countDistinct("payload_sha").alias("n_sha"),
            F.sum("width").cast("bigint").alias("sum_width"),
            F.sum("height").cast("bigint").alias("sum_height"),
            F.sum("duration_ms").cast("bigint").alias("sum_duration_ms"),
            F.sum("feat_bytes").alias("feat_checksum"),
        )
    )


# ---------------------------------------------------------------------------
# perceptual-hash family (r12, VERDICT r11 #3): media near-duplicate
# detection — payload → decoded grayscale grid → aHash/dHash
# (operators/phash.py, pure JVM integer expressions) → Hamming-ball
# join (operators/simhash_join.py, exact-recall pigeonhole blocks).
#
# Two differentials, the media_features two-layer precedent:
#   media_phash   — THROUGH the decode plumbing: synthetic payloads
#                   (planted exact duplicates) → decode_image_grid
#                   (Arrow mapInPandas, fake deterministic grid) →
#                   both hashes, bitwise per media id.
#   media_neardup — the join face: pixel-level planted variants
#                   (single-pixel perturbations ⇒ dHash hamming ≤ 2
#                   by locality) → dhash64 → hamming_pairs vs the
#                   brute-force quadratic oracle.
# The REAL decode path (P6 PPM / 24-bpp BMP, pure Python) is pinned
# in tests/test_phash.py — payload bytes cannot be built in SQL, so
# the codec parse is test-covered rather than oracle-covered.
# ---------------------------------------------------------------------------

N_PHASH = 48          # media_phash: 16 payload groups x 3 exact copies
N_ND_GROUPS = 16      # media_neardup: 16 grids x 4 variants
_ND_V = 4

# DuckDB 1-indexed list access into the row-major 8x9 grid
_G8X9 = "g.grid[(j // 8) * 9 + (j % 8) + 1]"
_G8X9_R = "g.grid[(j // 8) * 9 + (j % 8) + 2]"
# signed-long bit mask: bit 63 is -2^63 (two's complement), matching
# the engine-side packing in operators/phash.py
_MASK = ("CASE WHEN j = 63 THEN -9223372036854775808 "
         "ELSE (CAST(1 AS BIGINT) << CAST(j AS INT)) END")

_DHASH_SQL = f"""CAST(list_sum(list_transform(generate_series(0, 63),
    j -> CASE WHEN {_G8X9} > {_G8X9_R} THEN {_MASK} ELSE 0 END))
    AS BIGINT)"""

_AHASH_SQL = f"""CAST(list_sum(list_transform(generate_series(0, 63),
    j -> CASE WHEN {_G8X9} * 64 >
        list_sum(list_transform(generate_series(0, 63),
                 i -> g.grid[(i // 8) * 9 + (i % 8) + 1]))
        THEN {_MASK} ELSE 0 END))
    AS BIGINT)"""


@register(
    "media_phash",
    oracle=f"""
    WITH m AS (SELECT id AS media_id,
                      repeat(sha256(CAST(id // 3 AS VARCHAR)), 4)
                          AS payload
               FROM generate_series(0, {N_PHASH - 1}) t(id)),
    d AS (SELECT media_id, sha256(payload) AS digest FROM m),
    g AS (SELECT media_id,
                 list_transform(generate_series(0, 71), i ->
                     CAST(concat('0x', substr(digest,
                          2 * ((i * 7) % 32) + 1, 2)) AS INT)) AS grid
          FROM d)
    SELECT media_id, {_AHASH_SQL} AS ahash, {_DHASH_SQL} AS dhash
    FROM g ORDER BY media_id
    """,
    gate=False,
    tags=("multimodal", "dedup", "extension"),
)
def media_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, ahash, dhash): perceptual hashes computed THROUGH
    the decode plumbing — synthetic payloads with planted exact
    duplicates (three media per payload group) → decode_image_grid
    (Arrow mapInPandas; the deterministic fake grid is byte
    (i·7 mod 32) of sha256(payload), SQL-reproducible) → aHash over
    the 8×8 subgrid + dHash over the 8×9 grid, both packed as signed
    64-bit longs by pure JVM integer expressions. sf_dir unused —
    payloads are self-generated (the media_features precedent).

    Scale: decode is batch-wise in executors; the hashes are one
    narrow zero-shuffle projection per media row."""
    from myhadoop_spark.operators.phash import (
        ahash64,
        dhash64,
        drop_last_column,
    )
    from myhadoop_spark.sources.multimodal import decode_image_grid

    # 8 range splits, not defaultParallelism: each split feeds one
    # Python worker through the Arrow decode, and 32 one-row tasks'
    # worker spin-up dominates a 48-row fixture (partition count
    # should track data volume — the binaryFile ingest path sizes by
    # maxPartitionBytes for exactly this reason)
    mdf = spark.range(0, N_PHASH, 1, 8).select(
        F.col("id").alias("media_id"),
        F.repeat(F.sha2((F.col("id") / 3).cast("long").cast("string"),
                        256), 4).cast("binary").alias("payload"))
    grids = decode_image_grid(mdf, grid_rows=8, grid_cols=9, fake=True)
    # r13 (optimization): materialize the fingerprints before the
    # global sort — orderBy's range-partition sampling re-executes a
    # narrow child, so the whole Arrow decode used to run TWICE per
    # invocation (sampling pass + sort pass); the checkpoint makes the
    # sampler read 48 materialized rows instead (guide §1.4/§3.3)
    return (grids.select(
        "media_id",
        ahash64(drop_last_column(F.col("grid"), cols=9)).alias("ahash"),
        dhash64(F.col("grid"), rows=8, cols=9).alias("dhash"))
        .transform(materialize)
        .orderBy("media_id"))


_ND_PIX = "CAST(concat('0x', substr(md5(concat(g, ':', i)), 1, 2)) AS INT)"


@register(
    "media_neardup",
    oracle=f"""
    WITH m AS (SELECT id AS media_id, id // {_ND_V} AS g,
                      id % {_ND_V} AS v
               FROM generate_series(0, {N_ND_GROUPS * _ND_V - 1}) t(id)),
    g AS (SELECT media_id,
                 list_transform(generate_series(0, 71), i ->
                     CASE WHEN v IN (1, 2)
                               AND (7 * v + g) % 72 = i
                          THEN ({_ND_PIX} + 128) % 256
                          ELSE {_ND_PIX} END) AS grid
          FROM m),
    h AS (SELECT media_id, {_DHASH_SQL} AS dhash FROM g)
    SELECT a.media_id AS id_a, b.media_id AS id_b,
           CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
    FROM h a JOIN h b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.dhash, b.dhash)) <= 2
    ORDER BY id_a, id_b
    """,
    gate=True,  # promoted r13 — the multimodal family's first gate row
    #             (VERDICT r12 #3): the join-face pin through the real
    #             Arrow decode plumbing
    tags=("multimodal", "dedup", "extension", "lsh"),
)
def media_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id_a, id_b, hamming): perceptual near-duplicate pairs over
    planted pixel grids — 16 base images × 4 variants (v0 base,
    v1/v2 single-pixel +128 perturbations at distinct offsets ⇒
    dHash hamming ≤ 2 to the base by locality, v3 an exact copy ⇒
    hamming 0) → dhash64 → the exact-recall pigeonhole Hamming-ball
    join. The oracle is the brute-force quadratic join the banded
    plan must reproduce bitwise. sf_dir unused — grids are
    self-generated so the planted near-dup structure is the same on
    both engines.

    Scale: identical shape to simhash_neardup — blocks-per-doc =
    max_hamming + 1, one hash equi-join on (block, value),
    candidate-sized bit_count verify, never all-pairs; hot
    boilerplate fingerprints fail loudly via max_bucket upstream."""
    from myhadoop_spark.operators.simhash_join import hamming_pairs

    # checkpoint: hamming_pairs references sh in both join branches
    # (left/right blocks), and the pair table feeds a global sort —
    # one materialization instead of three plan copies (r13)
    sh = (_planted_hashes(spark).select("media_id", "dhash")
          .transform(materialize))
    return (hamming_pairs(sh, bits=64, max_hamming=2,
                          id_col="media_id", sim_col="dhash")
            .orderBy("id_a", "id_b"))


_ND_GRID_SQL = f"""
    m AS (SELECT id AS media_id, id // {_ND_V} AS g,
                 id % {_ND_V} AS v
          FROM generate_series(0, {N_ND_GROUPS * _ND_V - 1}) t(id)),
    g AS (SELECT media_id, v,
                 list_transform(generate_series(0, 71), i ->
                     CASE WHEN v IN (1, 2)
                               AND (7 * v + g) % 72 = i
                          THEN ({_ND_PIX} + 128) % 256
                          ELSE {_ND_PIX} END) AS grid
          FROM m),
    h AS (SELECT media_id, v, {_DHASH_SQL} AS dhash FROM g)
"""


def _planted_hashes(spark: SparkSession) -> DataFrame:
    """(media_id, v, dhash) for the planted near-dup grid table —
    the shared engine side of the media_neardup family.

    The grid is ONE transform lambda over sequence(0, 71), not 72
    unrolled per-index expressions: values are identical (the lambda
    index plays the unrolled literal's role), but the r12 unrolled
    form was a ~2,000-node projection whose per-plan analysis +
    codegen cost ~10 s at EVERY fresh call — pure driver floor on a
    256-row fixture (the r13 plan-size lesson: fixed-size generated
    tables want loop-form expressions, same bytes out)."""
    from myhadoop_spark.operators.hof import let
    from myhadoop_spark.operators.phash import dhash64

    base = spark.range(N_ND_GROUPS * _ND_V).select(
        F.col("id").alias("media_id"),
        (F.col("id") / _ND_V).cast("long").alias("g"),
        (F.col("id") % _ND_V).alias("v"))

    def cell(i):
        s = F.md5(F.concat_ws(
            ":", F.col("g").cast("string"), i.cast("string")))
        pix0 = F.conv(F.substring(s, 1, 2), 16, 10).cast("int")
        hit = (F.col("v").isin(1, 2)
               & ((F.lit(7) * F.col("v") + F.col("g")) % 72
                  == i.cast("long")))
        return let(pix0,
                   lambda pix: F.when(hit, (pix + 128) % 256)
                   .otherwise(pix))

    grids = base.select(
        "media_id", "v",
        F.transform(F.sequence(F.lit(0), F.lit(71)), cell)
        .alias("grid"))
    return grids.select(
        "media_id", "v",
        dhash64(F.col("grid"), rows=8, cols=9).alias("dhash"))


@register(
    "media_dedup",
    oracle=f"""
    WITH RECURSIVE {_ND_GRID_SQL},
    pairs AS (SELECT a.media_id AS id_a, b.media_id AS id_b
              FROM h a JOIN h b ON a.media_id < b.media_id
              WHERE bit_count(xor(a.dhash, b.dhash)) <= 2),
    sym AS (SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    reach(id, r) AS (
      SELECT a, a FROM (SELECT a FROM sym UNION SELECT b FROM sym) n(a)
      UNION
      SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a
    )
    SELECT id AS media_id, CAST(MIN(r) AS BIGINT) AS component
    FROM reach GROUP BY id ORDER BY media_id
    """,
    gate=True,  # promoted r13 (VERDICT r12 #3): the keep-one composition
    #             pin (pairs -> CC -> representative) for the media family
    tags=("multimodal", "dedup", "extension", "iterative"),
)
def media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, component): perceptual near-dup pairs → transitive
    clusters → min-id keep-one representative — the media twin of
    dedup_clusters (identical CC machinery; the oracle walks the
    closure with WITH RECURSIVE over the media_neardup pair oracle).
    sf_dir unused — planted grids (see media_neardup).

    Scale: pairs are the banded Hamming join; CC is the round-bounded
    edge contraction of operators/connected_components.py."""
    from myhadoop_spark.operators.connected_components import (
        connected_components,
    )

    pairs = media_neardup(spark, sf_dir).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    return (connected_components(pairs)
            .select(F.col("id").alias("media_id"), "component")
            .orderBy("media_id"))


@register(
    "media_probe",
    oracle=f"""
    WITH {_ND_GRID_SQL}
    SELECT DISTINCT p.media_id
    FROM h p JOIN h s
      ON p.v <> 0 AND s.v = 0
     AND bit_count(xor(p.dhash, s.dhash)) <= 2
    ORDER BY p.media_id
    """,
    gate=False,
    tags=("multimodal", "dedup", "extension", "lsh"),
)
def media_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id): the cross-set suppression face — which incoming
    media are perceptual near-dups of an already-accepted reference
    set (here: the planted v0 bases) — `hamming_probe` over dHash,
    the ingest-time decontam shape for media. Exact recall by the
    same pigeonhole blocks; the oracle is the brute-force cross
    join. sf_dir unused — planted grids (see media_neardup)."""
    from myhadoop_spark.operators.simhash_join import hamming_probe

    hashes = _planted_hashes(spark).transform(materialize)
    seen = hashes.filter(F.col("v") == 0).select("media_id", "dhash")
    probe = hashes.filter(F.col("v") != 0).select("media_id", "dhash")
    return (hamming_probe(probe, seen, bits=64, max_hamming=2,
                          id_col="media_id", sim_col="dhash")
            .orderBy("media_id"))
