"""Multimodal workloads over real parquet data (rows-only checks).

The multimodal operators (multimodal/ops.py) are mapInPandas plumbing with
a stubbed codec — here they run against the driver's `documents` table by
treating each document's UTF-8 bytes as an opaque media payload (exactly
how a real pipeline treats undecoded JPEG/WAV blobs: bytes + metadata).
That scales the operators with the scale factor and puts them in the bench
loop. No SQL oracle exists for byte-level raster math, so these register
rows-only (the driver records the weaker check; unit tests in
tests/test_multimodal.py pin the numeric semantics on known rasters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sample_data_pipeline_project_spark.multimodal.ops import (
    image_features,
    sample_frames,
)
from sample_data_pipeline_project_spark.operators.materialize import materialize
from sample_data_pipeline_project_spark.sources.catalog import load_table
from sample_data_pipeline_project_spark.workloads import workload


def _docs_as_media(spark: SparkSession, sf_dir: str, kind: str, n_frames: int = 4) -> DataFrame:
    """documents -> MEDIA_SCHEMA-shaped frame: payload is the raw UTF-8
    byte blob, metadata synthesized (no codec in this container). Payload
    length is arbitrary per row — the ops only assume bytes+meta."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").alias("media_id"),
        F.lit(kind).alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.lit(16).alias("width"),
            (F.length(F.encode(F.col("text"), "UTF-8")) / 16)
            .cast("int")
            .alias("height"),
            F.lit(1).alias("channels"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(n_frames).alias("n_frames"),
        ).alias("meta"),
    )


@workload(
    "multimodal_doc_features",
    oracle="""
SELECT doc_id AS media_id,
       'image' AS kind,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       TRUE AS stats_ok
FROM documents
""",
)
def multimodal_doc_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction (mean/std/min/max intensity) over
    every document payload — the image-featurization hot path with the
    decode stubbed to identity. One numpy pass per blob, no per-row Python
    in the JVM boundary. The raster stats are codec-dependent, so the
    hashed projection keeps the codec-independent columns (per-row byte
    count) and certifies the stats with stats_ok (min<=mean<=max,
    std>=0, 0<=min<=max<=255), which the oracle states as TRUE."""
    media = _docs_as_media(spark, sf_dir, "image")
    feats = image_features(media)
    stats_ok = (
        (F.col("min_intensity") <= F.col("mean_intensity"))
        & (F.col("mean_intensity") <= F.col("max_intensity"))
        & (F.col("std_intensity") >= 0)
        & (F.col("min_intensity") >= 0)
        & (F.col("max_intensity") <= 255)
    )
    return feats.select("media_id", "kind", "n_bytes", stats_ok.alias("stats_ok"))


@workload(
    "multimodal_frame_sample",
    oracle="""
SELECT d.doc_id AS media_id,
       f.frame_idx,
       CAST(octet_length(encode(d.text)) // 4 AS BIGINT) AS frame_bytes
FROM documents d
CROSS JOIN (VALUES (0), (2)) AS f(frame_idx)
""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling: each payload split into 4 equal 'frames',
    every 2nd kept (posexplode shape — output rows > input rows). Returns
    frame sizes rather than frame bytes so the driver's collect stays
    light; the binary frames themselves are materialized inside the
    executors. Frame sizes are pure byte math (floor(n_bytes/4) for kept
    frames 0 and 2), so the oracle reproduces them exactly from the
    documents table."""
    media = _docs_as_media(spark, sf_dir, "video", n_frames=4)
    frames = sample_frames(media, every_n=2)
    return frames.select(
        "media_id",
        "frame_idx",
        F.length(F.col("frame")).cast("long").alias("frame_bytes"),
    )


@workload(
    "multimodal_audio_windows",
    oracle="""
WITH win AS (
  SELECT doc_id,
         octet_length(encode(text)) AS nb,
         unnest(generate_series(0, (octet_length(encode(text)) - 1) // 256)) AS w
  FROM documents
)
SELECT doc_id AS media_id,
       CAST(w AS INTEGER) AS window_idx,
       CAST(LEAST(256, nb - 256 * w) AS INTEGER) AS n_samples,
       TRUE AS feat_ok
FROM win
""",
)
def multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-style windowed feature extraction: every document payload
    treated as a uint8 sample stream, split into 256-sample windows with
    per-window RMS / peak / midpoint-crossing features (the speech-pipeline
    framing shape). Window partitioning (count + per-window sample counts)
    is pure byte math the oracle reproduces via generate_series; the
    codec-dependent features are certified by feat_ok (0<=rms<=128,
    0<=peak<=128, 0<=crossings<n_samples). Numeric semantics pinned on
    known waveforms in tests/test_multimodal.py."""
    from sample_data_pipeline_project_spark.multimodal.ops import (
        audio_window_energy,
    )

    media = _docs_as_media(spark, sf_dir, "audio")
    wins = audio_window_energy(media, window_samples=256)
    feat_ok = (
        (F.col("rms") >= 0)
        & (F.col("rms") <= 128.0)
        & (F.col("peak") >= 0)
        & (F.col("peak") <= 128)
        & (F.col("crossings") >= 0)
        & (F.col("crossings") < F.col("n_samples"))
    )
    return wins.select(
        "media_id", "window_idx", "n_samples", feat_ok.alias("feat_ok")
    )


# --------------------------------------------------------------------------
# Perceptual-hash near-dup over BINARY payloads: dHash fingerprints +
# banded Hamming join. Unlike the feature workloads above, this one has a
# FULL value-hash oracle — the fingerprint is pure byte arithmetic, so
# DuckDB re-derives every payload byte from hex(encode(text)).
# --------------------------------------------------------------------------
_DH_MAX_HAMMING = 3
_DH_BANDS = 4


def _duck_dhash_oracle() -> str:
    from sample_data_pipeline_project_spark.multimodal.ops import DHASH_BITS

    def byte_sql(j: int) -> str:
        c1 = f"substr(hx, {2 * j - 1}, 1)"
        c2 = f"substr(hx, {2 * j}, 1)"
        return (
            f"CASE WHEN {j} <= ob THEN (instr('0123456789ABCDEF', {c1}) - 1) * 16"
            f" + (instr('0123456789ABCDEF', {c2}) - 1) ELSE 0 END"
        )

    bytes_sel = ",\n         ".join(
        f"{byte_sql(j)} AS b_{j}" for j in range(1, DHASH_BITS + 2)
    )
    fp = " + ".join(
        f"(CASE WHEN b_{j} > b_{j + 1} THEN CAST({1 << (j - 1)} AS BIGINT)"
        f" ELSE 0 END)"
        for j in range(1, DHASH_BITS + 1)
    )
    return f"""
WITH h AS (
  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS ob
  FROM documents
),
bs AS (
  SELECT doc_id,
         {bytes_sel}
  FROM h
),
fp AS (SELECT doc_id, {fp} AS dhash FROM bs)
SELECT a.doc_id AS a, b.doc_id AS b,
       a.dhash AS dhash_a, b.dhash AS dhash_b,
       bit_count(xor(a.dhash, b.dhash)) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.dhash, b.dhash)) <= {_DH_MAX_HAMMING}
"""


@workload("multimodal_phash_neardup", oracle=_duck_dhash_oracle())
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash NEAR-DUP detection over binary payloads: 32-bit
    dHash (adjacent-byte gradient sign, Arrow-batched numpy — the shape
    used for image dedup once `_fake_raster` is swapped for a real
    decoder) + the generic banded Hamming self-join (4 bands x 8 bits,
    exact by pigeonhole for hamming <= 3). The oracle recomputes every
    fingerprint byte-for-byte from hex(payload) and compares all pairs
    quadratically — the one multimodal workload where the full value hash
    is cross-engine checkable, because dHash needs no codec."""
    from sample_data_pipeline_project_spark.multimodal.ops import (
        DHASH_BITS,
        content_dhash,
    )
    from sample_data_pipeline_project_spark.operators.dedup import (
        banded_hamming_pairs,
    )

    media = _docs_as_media(spark, sf_dir, "image")
    sig = materialize(content_dhash(media), "cache")
    return banded_hamming_pairs(
        sig,
        DHASH_BITS,
        _DH_MAX_HAMMING,
        id_col="media_id",
        fp_col="dhash",
        bands=_DH_BANDS,
    ).select(
        "a",
        "b",
        F.col("fp_a").alias("dhash_a"),
        F.col("fp_b").alias("dhash_b"),
        "hamming",
    )


# --------------------------------------------------------------------------
# Patch tokenization: full value-hash oracle (the dHash precedent) —
# every patch statistic re-derived from hex(payload) byte arithmetic.
# --------------------------------------------------------------------------
_PATCH_W = 8
_PATCH_H = 8
_PATCH_RASTER_W = 16  # _docs_as_media meta.width

_PATCH_ORACLE = f"""
WITH h AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS nb
  FROM documents
  WHERE octet_length(encode(text)) > 0
),
b AS (
  SELECT doc_id, hx, unnest(generate_series(0, nb - 1)) AS i
  FROM h
),
v AS (
  SELECT doc_id,
         i // {_PATCH_RASTER_W * _PATCH_H} AS patch_row,
         (i % {_PATCH_RASTER_W}) // {_PATCH_W} AS patch_col,
         (instr('0123456789ABCDEF', substr(hx, 2 * i + 1, 1)) - 1) * 16
         + (instr('0123456789ABCDEF', substr(hx, 2 * i + 2, 1)) - 1) AS byte
  FROM b
)
SELECT doc_id AS media_id,
       CAST(patch_row AS BIGINT) AS patch_row,
       CAST(patch_col AS BIGINT) AS patch_col,
       CAST(COUNT(*) AS BIGINT) AS n_bytes,
       CAST(SUM(byte) AS BIGINT) AS byte_sum,
       CAST(SUM(byte) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS byte_mean
FROM v GROUP BY doc_id, patch_row, patch_col
"""


@workload("multimodal_patch_tokens", oracle=_PATCH_ORACLE)
def multimodal_patch_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style patch tokenization over binary payloads: each payload's
    byte raster (row-major, width 16) is mapped onto an 8x8 patch grid
    and reduced to per-patch exact-integer stats (count, sum) plus one
    final IEEE mean — the tensorize-to-patch-tokens step of a vision
    ingest pipeline, with the decode swapped for raw bytes (codec-free,
    like multimodal_phash_neardup). FULL value-hash oracle: DuckDB
    re-derives every byte from hex(payload) and replays the identical
    patch-index arithmetic. Spark side is one vectorized np.bincount per
    blob over an Arrow-batched mapInPandas — per-blob work, no
    row-at-a-time UDF, partitionable by media_id at any scale."""
    from sample_data_pipeline_project_spark.multimodal.ops import (
        patch_token_stats,
    )

    media = _docs_as_media(spark, sf_dir, "image")
    return patch_token_stats(media, patch_w=_PATCH_W, patch_h=_PATCH_H)


# --------------------------------------------------------------------------
# Video FRAME-level near-dup: sampled frames -> per-frame dHash ->
# banded Hamming join across videos. Second full value-hash multimodal
# oracle — every frame byte re-derived from hex(payload) at its frame
# offset.
# --------------------------------------------------------------------------
_FR_EVERY = 2
_FR_NFRAMES = 4
_FR_MAX_HAMMING = 3


def _duck_frame_dhash_oracle() -> str:
    from sample_data_pipeline_project_spark.multimodal.ops import DHASH_BITS

    def byte_sql(j: int) -> str:
        c1 = f"substr(hx, 2 * (f * flen + {j}) - 1, 1)"
        c2 = f"substr(hx, 2 * (f * flen + {j}), 1)"
        return (
            f"CASE WHEN {j} <= flen THEN"
            f" (instr('0123456789ABCDEF', {c1}) - 1) * 16"
            f" + (instr('0123456789ABCDEF', {c2}) - 1) ELSE 0 END"
        )

    bytes_sel = ",\n         ".join(
        f"{byte_sql(j)} AS b_{j}" for j in range(1, DHASH_BITS + 2)
    )
    fp = " + ".join(
        f"(CASE WHEN b_{j} > b_{j + 1} THEN CAST({1 << (j - 1)} AS BIGINT)"
        f" ELSE 0 END)"
        for j in range(1, DHASH_BITS + 1)
    )
    frames = ", ".join(f"({f})" for f in range(0, _FR_NFRAMES, _FR_EVERY))
    return f"""
WITH h AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) // {_FR_NFRAMES} AS flen
  FROM documents
),
fr AS (
  SELECT doc_id, f, flen, hx FROM h CROSS JOIN (VALUES {frames}) t(f)
),
bs AS (SELECT doc_id, f, {bytes_sel} FROM fr),
fps AS (SELECT doc_id, f, {fp} AS dh FROM bs)
SELECT a.doc_id AS a, CAST(a.f AS INTEGER) AS frame_a,
       b.doc_id AS b, CAST(b.f AS INTEGER) AS frame_b,
       a.dh AS dhash_a, b.dh AS dhash_b,
       bit_count(xor(a.dh, b.dh)) AS hamming
FROM fps a JOIN fps b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.dh, b.dh)) <= {_FR_MAX_HAMMING}
"""


@workload("multimodal_frame_neardup", oracle=_duck_frame_dhash_oracle())
def multimodal_frame_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video FRAME-level near-dup detection: every payload treated as a
    4-frame video, every 2nd frame sampled (`sample_frames`), each frame
    dHashed (`content_dhash` over the frame bytes), then the generic
    banded Hamming self-join finds cross-video frame pairs within
    Hamming distance 3 — "which videos share a near-identical frame",
    the shot-level dedup a video ingest pipeline runs before training.
    FULL value-hash oracle: DuckDB re-derives every sampled frame's
    bytes from hex(payload) at the frame offset and replays the
    identical dHash + banded-join arithmetic. All stages are the
    already-certified primitives composed: byte slicing (mapInPandas),
    gradient-sign hashing, pigeonhole-exact banded join."""
    from sample_data_pipeline_project_spark.multimodal.ops import (
        DHASH_BITS,
        content_dhash,
        sample_frames,
    )
    from sample_data_pipeline_project_spark.operators.dedup import (
        banded_hamming_pairs,
    )

    media = _docs_as_media(spark, sf_dir, "video", n_frames=_FR_NFRAMES)
    frames = sample_frames(media, every_n=_FR_EVERY)
    sig = content_dhash(
        frames.select(
            # composite frame id: doc * n_frames + frame_idx (frame_idx <
            # n_frames, so the encoding is collision-free and monotone in
            # (doc, frame) — pair order matches the oracle's doc order)
            (
                F.col("media_id") * _FR_NFRAMES + F.col("frame_idx")
            ).alias("media_id"),
            F.col("frame").alias("payload"),
        )
    ).withColumnRenamed("dhash", "fp")
    pairs = banded_hamming_pairs(
        sig, DHASH_BITS, _FR_MAX_HAMMING, id_col="media_id", fp_col="fp"
    )
    nf = F.lit(_FR_NFRAMES)
    return (
        pairs.filter((F.col("a") / nf).cast("long") != (F.col("b") / nf).cast("long"))
        .select(
            (F.col("a") / nf).cast("long").alias("a"),
            (F.col("a") % nf).cast("int").alias("frame_a"),
            (F.col("b") / nf).cast("long").alias("b"),
            (F.col("b") % nf).cast("int").alias("frame_b"),
            F.col("fp_a").alias("dhash_a"),
            F.col("fp_b").alias("dhash_b"),
            "hamming",
        )
    )


# --------------------------------------------------------------------------
# Round 4: PCM16 waveform statistics — FOURTH full value-hash multimodal
# oracle (every int16 sample re-derived from hex(payload) byte pairs).
# --------------------------------------------------------------------------
_AUDIO_ORACLE = """
WITH h AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS nb
  FROM documents
  WHERE octet_length(encode(text)) >= 2
),
s AS (
  SELECT doc_id, nb // 2 AS n_samples,
         unnest(generate_series(0, nb // 2 - 1)) AS i, hx
  FROM h
),
v AS (
  SELECT doc_id, n_samples, i,
         (instr('0123456789ABCDEF', substr(hx, 4 * i + 1, 1)) - 1) * 16
         + (instr('0123456789ABCDEF', substr(hx, 4 * i + 2, 1)) - 1) AS lo,
         (instr('0123456789ABCDEF', substr(hx, 4 * i + 3, 1)) - 1) * 16
         + (instr('0123456789ABCDEF', substr(hx, 4 * i + 4, 1)) - 1) AS hi
  FROM s
),
smp AS (
  SELECT doc_id, n_samples, i,
         lo + 256 * hi - CASE WHEN hi >= 128 THEN 65536 ELSE 0 END AS samp
  FROM v
),
lagged AS (
  SELECT doc_id, n_samples, samp,
         LAG(samp >= 0) OVER (PARTITION BY doc_id ORDER BY i) AS prev_nonneg
  FROM smp
)
SELECT doc_id AS media_id,
       CAST(ANY_VALUE(n_samples) AS BIGINT) AS n_samples,
       CAST(MAX(ABS(samp)) AS BIGINT) AS peak_abs,
       CAST(SUM(samp * samp) AS BIGINT) AS sum_sq,
       CAST(SUM(CASE WHEN prev_nonneg IS NOT NULL
                      AND (samp >= 0) != prev_nonneg
                THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
FROM lagged
GROUP BY doc_id
"""


@workload("multimodal_audio_waveform", oracle=_AUDIO_ORACLE)
def multimodal_audio_waveform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO waveform statistics over undecoded PCM16 payloads
    (multimodal/ops.py:audio_waveform_stats): each blob's bytes parse as
    little-endian int16 samples, yielding exact-integer n_samples,
    peak_abs, sum-of-squares energy, and zero-crossing count — the
    feature-extraction hot path for audio curation (silence/clipping
    screens, speech-band voicing heuristics) with the decode stubbed to
    raw-PCM identity, exactly like the image tier stubs its codec. FULL
    value-hash oracle: DuckDB re-derives every sample from hex(payload)
    byte pairs (low + 256*high - 65536 sign fold) and replays the same
    integer arithmetic — the audio member of the byte-exact multimodal
    family (dHash C28, patch tokens C53, frame dHash C71). Spark side is
    one vectorized numpy pass per blob in an Arrow-batched mapInPandas;
    sum_sq <= n * 2^30 keeps int64 exact at any payload length."""
    from sample_data_pipeline_project_spark.multimodal.ops import (
        audio_waveform_stats,
    )

    media = _docs_as_media(spark, sf_dir, "audio").filter(
        F.length(F.col("payload")) >= 2
    )
    return audio_waveform_stats(media)
