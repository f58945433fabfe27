"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata.

Design: media payloads are ``binary`` columns next to a metadata struct
(mime type, width/height/duration, byte length).  Decode / feature-extract
/ resize / frame-sample run as Arrow-batched ``mapInPandas`` stages — the
only sane shape at 100 TB: payload bytes never visit the driver, each
batch is decoded inside an executor, and the output schema is fixed up
front so downstream stages remain declarative.

Codec status (no Pillow/libsndfile in this container, so everything here
is stdlib + numpy — see functions/media.py):

- REAL: metadata extraction (PNG/JPEG/GIF dimensions, WAV/AVI duration)
  via pure header parsing; PNG decode/encode/resize/features (zlib rows
  + predictor inversion); baseline-JPEG encode + DC-only decode
  (Huffman + dequantized DC → 8×-downsampled luma); GIF LZW
  encode/first-frame decode; WAV PCM16 features; MJPEG-AVI frame
  sampling (RIFF walk + per-frame JPEG DC decode).
- STUBBED: every other codec/container (``fake=True`` substitutes a
  deterministic hash-derived vector so the plumbing stays testable;
  without it those payloads raise ``NotImplementedError``).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from frames_map_reduce_spark.functions import media as MEDIA
from frames_map_reduce_spark.schema import require_columns

MEDIA_META = T.StructType([
    T.StructField("mime", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("duration_ms", T.LongType()),
    T.StructField("n_bytes", T.LongType()),
])


def attach_media_meta(df: DataFrame, binary_col: str, mime: str) -> DataFrame:
    """Derive the typed metadata struct for a binary payload column.
    Width/height/duration need decoding, so they are NULL here; n_bytes and
    mime are cheap and computed natively."""
    require_columns(df, [binary_col])
    return df.withColumn(
        "media_meta",
        F.struct(
            F.lit(mime).alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.length(F.col(binary_col)).cast("long").alias("n_bytes"),
        ),
    )


MEDIA_META_FIELDS = [f.name for f in MEDIA_META.fields]


def extract_media_meta(df: DataFrame, id_col: str, binary_col: str,
                       batch_hint: int = 1024) -> DataFrame:
    """REAL metadata extraction: (id, media_meta struct) per payload.

    Sniffs the format by magic bytes and parses dimensions (PNG IHDR,
    JPEG SOFn walk, GIF screen descriptor) and WAV duration from headers
    only — no pixel/sample decode, so cost is O(header) per row no matter
    the payload size.  Arrow-batched ``mapInPandas``: bytes stay on
    executors, and the structural plan node is safe under AQE
    re-optimization (see spark-graft gotchas on PythonUDF collapse).
    """
    require_columns(df, [id_col, binary_col])
    narrow = df.select(F.col(id_col).alias("doc_id"),
                       F.col(binary_col).alias("_payload"))
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_meta", MEDIA_META),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = []
            for p in pdf["_payload"]:
                b = bytes(p)
                mime = MEDIA.sniff_mime(b)
                dims = MEDIA.parse_dims(b) if (mime or "").startswith("image/") else None
                wav = MEDIA.parse_wav_meta(b) if mime == "audio/wav" else None
                avi = (MEDIA.parse_avi_meta(b)
                       if mime == "video/x-msvideo" else None)
                mp4 = MEDIA.parse_mp4_meta(b) if mime == "video/mp4" else None
                if avi:
                    dims = (avi["width"], avi["height"])
                elif mp4 and "width" in mp4:
                    dims = (mp4["width"], mp4["height"])
                metas.append({
                    "mime": mime,
                    "width": dims[0] if dims else None,
                    "height": dims[1] if dims else None,
                    "duration_ms": (wav["duration_ms"] if wav
                                    else avi["duration_ms"] if avi
                                    else (mp4 or {}).get("duration_ms")),
                    "n_bytes": len(b),
                })
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media_meta": metas})

    return narrow.mapInPandas(run, schema=schema)


FEATURE_DIM = 16
IMAGE_FEATURES_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("feature", T.ArrayType(T.FloatType())),
])


def _fake_features(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Deterministic stand-in for a real image encoder: features derived
    from a hash of the FULL payload bytes.  Same bytes ⇒ same vector;
    any byte difference ⇒ a different vector."""
    import hashlib
    digest = hashlib.md5(bytes(payload)).digest()
    seed = int.from_bytes(digest[:8], "little", signed=False)
    rng = np.random.default_rng(seed % (2**63))
    return rng.standard_normal(dim).astype(np.float32).tolist()


def decode_image_features(df: DataFrame, id_col: str, binary_col: str,
                          fake: bool = False, batch_hint: int = 1024) -> DataFrame:
    """binary payload → feature vector via Arrow-batched mapInPandas.

    REAL for all three image formats this engine meets (pure
    stdlib/numpy, functions/media.py):

    - PNG: full decode (zlib + predictor inversion) → 4×4 mean-pooled
      luminance grid → 16 floats in [0, 1];
    - baseline JPEG: Huffman + DC-coefficient decode → 8×-downsampled
      luma map, pooled the same way (jpeg_dc_features);
    - GIF: LZW first-frame decode through the color table
      (gif_features).

    Unrecognized payloads raise ``NotImplementedError`` unless
    ``fake=True`` (deterministic hash-derived vector, plumbing-only).
    """
    require_columns(df, [id_col, binary_col])
    narrow = df.select(F.col(id_col).alias("doc_id"), F.col(binary_col).alias("_payload"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for p in pdf["_payload"]:
                b = bytes(p)
                if fake:
                    feats.append(_fake_features(b))
                elif b[:8] == MEDIA.PNG_SIG:
                    feats.append(MEDIA.png_features(b, grid=4))
                elif b[:2] == b"\xff\xd8":
                    feats.append(MEDIA.jpeg_dc_features(b, grid=4))
                elif b[:6] in (b"GIF87a", b"GIF89a"):
                    feats.append(MEDIA.gif_features(b, grid=4))
                else:
                    raise NotImplementedError(
                        "real pixel decode implemented for PNG, baseline "
                        "JPEG, and GIF; use fake=True for other formats")
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "feature": feats})

    return narrow.mapInPandas(run, schema=IMAGE_FEATURES_SCHEMA)


def resize_images(df: DataFrame, id_col: str, binary_col: str,
                  width: int, height: int, fake: bool = False) -> DataFrame:
    """Resize stage: binary → binary with updated metadata.

    REAL for all three image formats (functions/media.py
    ``image_thumbnail_png``): PNG full decode, GIF first-frame LZW
    decode, JPEG via its DC luma map (DCT-domain thumbnailing — the 8×
    reduction JPEG stores for free, grayscale); nearest-neighbor
    resample, re-encoded as PNG.  Unrecognized payloads raise unless
    ``fake=True`` (deterministic truncated payload stand-in)."""
    require_columns(df, [id_col, binary_col])
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("media_meta", MEDIA_META),
    ])
    narrow = df.select(F.col(id_col).alias("doc_id"), F.col(binary_col).alias("_payload"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for p in pdf["_payload"]:
                b = bytes(p)
                if fake:
                    payloads.append(b[: max(16, width * height // 64)])
                elif (b[:8] == MEDIA.PNG_SIG or b[:2] == b"\xff\xd8"
                        or b[:6] in (b"GIF87a", b"GIF89a")):
                    payloads.append(MEDIA.image_thumbnail_png(b, width, height))
                else:
                    raise NotImplementedError(
                        "real resize implemented for PNG/JPEG/GIF; "
                        "use fake=True for other formats")
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": payloads,
                "media_meta": [
                    {"mime": "image/png", "width": width, "height": height,
                     "duration_ms": None, "n_bytes": len(p)}
                    for p in payloads],
            })

    return narrow.mapInPandas(run, schema=schema)


def extract_audio_features(df: DataFrame, id_col: str, binary_col: str,
                           fake: bool = False) -> DataFrame:
    """Audio feature extraction: binary → array<float> (16 bands), same
    mapInPandas plumbing as images.

    REAL for PCM16 WAV (``np.frombuffer`` sample decode) AND for G.711
    mu-law/A-law WAV (format tags 7/6 — table-codec expansion, see
    functions/media.py g711_decode): band-wise RMS energy over 16 equal
    time slices.  Other compressed formats raise unless ``fake=True``."""
    require_columns(df, [id_col, binary_col])
    narrow = df.select(F.col(id_col).alias("doc_id"), F.col(binary_col).alias("_payload"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for p in pdf["_payload"]:
                b = bytes(p)
                if fake:
                    feats.append(_fake_features(b + b"audio"))
                else:
                    real = MEDIA.wav_features(b, n_bands=FEATURE_DIM)
                    if real is None:
                        raise NotImplementedError(
                            "real audio decode implemented for PCM16 WAV only; "
                            "use fake=True for other formats")
                    feats.append(real)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "feature": feats})

    return narrow.mapInPandas(run, schema=IMAGE_FEATURES_SCHEMA)


def sample_frames(df: DataFrame, id_col: str, binary_col: str,
                  every_ms: int = 1000, fake: bool = False) -> DataFrame:
    """Video frame sampling: one output row per sampled frame.

    REAL for MJPEG AVI (functions/media.py): the RIFF container yields
    per-frame baseline JPEGs, sampled at the ``every_ms`` cadence
    (frame index = floor(t / frame_duration), deduplicated, so slow
    cadences skip frames and fast cadences don't repeat them) and
    featurized through the DC-only JPEG decoder.  ``frame_idx`` is the
    SOURCE frame index.  Other containers raise ``NotImplementedError``
    unless ``fake=True`` (hash-derived frames at the cadence over a fixed
    3 s fake duration, plumbing-only)."""
    require_columns(df, [id_col, binary_col])
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_feature", T.ArrayType(T.FloatType())),
    ])
    narrow = df.select(F.col(id_col).alias("doc_id"), F.col(binary_col).alias("_payload"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "frame_idx": [], "frame_feature": []}
            for did, payload in zip(pdf["doc_id"], pdf["_payload"]):
                b = bytes(payload)
                if fake:
                    fake_duration_ms = 3000
                    for idx in range(fake_duration_ms // every_ms):
                        rows["doc_id"].append(did)
                        rows["frame_idx"].append(idx)
                        rows["frame_feature"].append(
                            _fake_features(b + idx.to_bytes(4, "little")))
                    continue
                meta = MEDIA.parse_avi_meta(b)
                if meta is None:
                    raise NotImplementedError(
                        "real video decoding implemented for MJPEG AVI; "
                        "use fake=True for other containers")
                frames = list(MEDIA.avi_mjpeg_frames(b))
                if meta["usec_per_frame"] <= 0:
                    raise ValueError(
                        "AVI without fixed frame rate "
                        "(dwMicroSecPerFrame <= 0): cannot time-sample")
                frame_ms = meta["usec_per_frame"] / 1000.0
                wanted = []
                t = 0.0
                while t < meta["duration_ms"]:
                    idx = int(t // frame_ms)
                    if idx < len(frames) and (not wanted or wanted[-1] != idx):
                        wanted.append(idx)
                    t += every_ms
                for idx in wanted:
                    rows["doc_id"].append(did)
                    rows["frame_idx"].append(idx)
                    rows["frame_feature"].append(
                        MEDIA.jpeg_dc_features(frames[idx], grid=4))
            yield pd.DataFrame(rows)

    return narrow.mapInPandas(run, schema=schema)


# ---------------------------------------------------------------------------
# Perceptual image near-dup (dedup × multimodal)
# ---------------------------------------------------------------------------

def image_ahash(df: DataFrame, id_col: str, binary_col: str,
                grid: int = 8, n_bands: int = 4,
                fake: bool = False, method: str = "ahash") -> DataFrame:
    """Perceptual average-hash signatures for image payloads:
    ``(doc_id, bands array<bigint>)`` where ``bands`` holds the aHash's
    ``grid²`` bits split into ``n_bands`` integers (media.ahash_bands —
    exact integer arithmetic, engine-identical bits), the multimodal
    analogue of dedup.py's SimHash signatures over text.

    REAL for PNG (full decode), baseline/progressive JPEG (DC luma
    plane), and GIF (first frame) via :func:`media.image_luma1000`;
    other payloads raise unless ``fake=True`` (deterministic
    hash-derived bands, plumbing-only — the decode_image_features
    convention).

    Scale shape: ONE Arrow-batched mapInPandas scan, O(pixels) per row,
    bytes never on the driver; output is id + n_bands small ints — the
    narrowest possible signature frame to shuffle downstream.

    ``method="phash"`` swaps the bit rule for the fixed-point-DCT
    perceptual hash (:func:`media.phash_bands` — r12 verdict #5):
    same banding/pairing machinery, but letterboxed/pillarboxed and
    integer-rescaled re-encodes hash IDENTICALLY where aHash's
    geometry-tied cells flip many bits.
    """
    if method not in ("ahash", "phash"):
        raise ValueError(f"method must be 'ahash' or 'phash', "
                         f"got {method!r}")
    require_columns(df, [id_col, binary_col])
    hash_fn = MEDIA.ahash_bands if method == "ahash" else MEDIA.phash_bands
    # validate the geometry at plan-build time, not inside the worker
    hash_fn(np.zeros((grid * 4, grid * 4), dtype=np.int64),
            grid=grid, n_bands=n_bands)
    narrow = df.select(F.col(id_col).alias("doc_id"),
                       F.col(binary_col).alias("_payload"))
    schema = "doc_id long, bands array<long>"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        for pdf in batches:
            out = []
            for p in pdf["_payload"]:
                b = bytes(p)
                if fake:
                    digest = hashlib.md5(b).digest()
                    width = (grid * grid) // n_bands
                    val = int.from_bytes(digest, "little")
                    out.append([(val >> (width * m)) & ((1 << width) - 1)
                                for m in range(n_bands)])
                else:
                    out.append(hash_fn(
                        MEDIA.image_luma1000(b), grid=grid,
                        n_bands=n_bands))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "bands": out})

    return narrow.mapInPandas(run, schema=schema)


def image_near_dup_pairs(df: DataFrame, id_col: str, binary_col: str,
                         grid: int = 8, n_bands: int = 4,
                         max_hamming: int = 3, max_bucket: int = 2000,
                         fake: bool = False,
                         method: str = "ahash") -> DataFrame:
    """Visual near-duplicate pairs over image payloads — SimHash's
    banded-Hamming pairing (dedup.py simhash_near_dup_pairs, conventions
    mirrored verbatim) applied to perceptual aHash bits: any pair within
    Hamming distance ``max_hamming < n_bands`` agrees exactly on ≥1 band
    (pigeonhole), so bucketing by (band index, band value) finds every
    such pair with an EQUI-join — never an all-pairs product.  Output:
    ``(id_a, id_b, hamming_dist)`` with ``id_a < id_b``, verified by
    exact Hamming distance over the full ``grid²`` bits.

    ``max_bucket`` caps degenerate buckets exactly as in the text
    hashes: solid-color / boilerplate images agree on whole bands, and
    one B-member bucket emits B² join rows; capped buckets are dropped
    loudly (use :func:`image_ahash` + dedup.simhash_bucket_stats-style
    accounting upstream if drop visibility is needed).

    Scale shape at 100 TB: one linear Arrow signing pass → persist the
    skinny (id, bands) frame → banded explode (n_bands rows/doc) → one
    shuffle on bucket key with both sides broadcast-pruned to surviving
    buckets → candidate equi-join → codegen Hamming filter.  No
    cartesian anywhere; the pair stage touches only same-bucket rows.
    """
    sigs = image_ahash(df, id_col, binary_col, grid=grid,
                       n_bands=n_bands, fake=fake, method=method)
    return ahash_near_dup_pairs(sigs, n_bands=n_bands,
                                max_hamming=max_hamming,
                                max_bucket=max_bucket)


def ahash_near_dup_pairs(sigs: DataFrame, n_bands: int = 4,
                         max_hamming: int = 3,
                         max_bucket: int = 2000) -> DataFrame:
    """The pairing half of :func:`image_near_dup_pairs`, over a
    precomputed ``(doc_id, bands)`` signature frame — the deployment
    shape when signatures are persisted alongside the corpus (sign once,
    pair many; the minhash build/probe convention).  Semantics and scale
    notes as in :func:`image_near_dup_pairs`."""
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} >= n_bands={n_bands}: banding "
            f"only guarantees recall for Hamming distance < n_bands")
    require_columns(sigs, ["doc_id", "bands"])
    from pyspark import StorageLevel

    from frames_map_reduce_spark.operators.dedup import hamming_words

    sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)
    # materialize NOW: three consumers (bucket sizes + both join sides)
    # would otherwise race the cache and re-run the decode stage — the
    # simhash lesson (dedup.py:1058), and decode is far costlier here
    sigs.count()
    banded = sigs.select(
        "doc_id", "bands",
        F.posexplode("bands").alias("_band_idx", "_band_val")) \
        .select("doc_id", "bands",
                F.concat_ws(":", "_band_idx", "_band_val").alias("_bucket"))
    sizes = banded.groupBy("_bucket").agg(F.count(F.lit(1)).alias("_n"))
    ok = sizes.filter((F.col("_n") > 1) & (F.col("_n") <= max_bucket)) \
              .select("_bucket")
    pruned = banded.join(F.broadcast(ok), "_bucket")
    a = pruned.select("_bucket", F.col("doc_id").alias("id_a"),
                      F.col("bands").alias("_bands_a"))
    b = pruned.select(F.col("_bucket").alias("_bucket_b"),
                      F.col("doc_id").alias("id_b"),
                      F.col("bands").alias("_bands_b"))
    return (
        a.join(b, (F.col("_bucket") == F.col("_bucket_b"))
               & (F.col("id_a") < F.col("id_b")))
         .select("id_a", "id_b",
                 hamming_words(F.col("_bands_a"), F.col("_bands_b"),
                               n_bands).alias("hamming_dist"))
         .filter(F.col("hamming_dist") <= max_hamming)
         .distinct()
    )


def video_ahash_frames(df: DataFrame, id_col: str, binary_col: str,
                       grid: int = 8, n_bands: int = 4,
                       fake: bool = False) -> DataFrame:
    """Per-frame perceptual signatures for video payloads:
    ``(doc_id, frame_idx, bands array<bigint>)`` — every MJPEG-AVI
    frame's DC-luma plane (media.jpeg_dc_luma — each frame is a
    standalone baseline JPEG) hashed with the same exact-integer aHash
    as :func:`image_ahash`, so a video is a SET of image fingerprints
    and video near-dup reduces to frame-fingerprint matching (the
    classic keyframe-signature approach).

    Other containers raise unless ``fake=True`` (three deterministic
    hash-derived frames per payload, plumbing-only).

    Scale shape: ONE Arrow-batched mapInPandas scan, O(total frames ×
    pixels), bytes never on the driver; output is (id, idx) + n_bands
    small ints per frame — the narrowest frame-level signature frame.
    """
    require_columns(df, [id_col, binary_col])
    MEDIA.ahash_bands(np.zeros((grid, grid), dtype=np.int64),
                      grid=grid, n_bands=n_bands)
    narrow = df.select(F.col(id_col).alias("doc_id"),
                       F.col(binary_col).alias("_payload"))
    schema = "doc_id long, frame_idx int, bands array<long>"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        for pdf in batches:
            ids, idxs, out = [], [], []
            for did, p in zip(pdf["doc_id"], pdf["_payload"]):
                b = bytes(p)
                if fake:
                    width = (grid * grid) // n_bands
                    for k in range(3):
                        digest = hashlib.md5(b + bytes([k])).digest()
                        val = int.from_bytes(digest, "little")
                        ids.append(did)
                        idxs.append(k)
                        out.append([(val >> (width * m))
                                    & ((1 << width) - 1)
                                    for m in range(n_bands)])
                    continue
                for k, jpeg in enumerate(MEDIA.avi_mjpeg_frames(b)):
                    lum = np.rint(MEDIA.jpeg_dc_luma(jpeg) * 1000.0) \
                        .astype(np.int64)
                    ids.append(did)
                    idxs.append(k)
                    out.append(MEDIA.ahash_bands(lum, grid=grid,
                                                 n_bands=n_bands))
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs,
                                "bands": out})

    return narrow.mapInPandas(run, schema=schema)


def video_near_dup_pairs(df: DataFrame, id_col: str, binary_col: str,
                         grid: int = 8, n_bands: int = 4,
                         max_hamming: int = 3, min_match_frames: int = 2,
                         max_bucket: int = 2000,
                         fake: bool = False) -> DataFrame:
    """Visual near-duplicate VIDEO pairs: two videos are near-dups when
    at least ``min_match_frames`` distinct frame pairs match within
    Hamming ``max_hamming`` on their perceptual aHashes — re-encoded,
    re-containered, or lightly edited copies share most keyframe
    fingerprints even when no byte matches.  Output one row per video
    pair: ``(id_a, id_b, n_matched_frames, min_hamming)``, id_a < id_b.

    Pairing is the image hashes' banded equi-join lifted to frame
    granularity: frame signatures → (band idx, band value) buckets
    (capped, broadcast-pruned, the simhash/image conventions) →
    same-bucket CROSS-VIDEO frame candidates → codegen Hamming verify →
    distinct frame pairs → per-video-pair census.  Recall is exact for
    frame pairs below ``n_bands`` (pigeonhole) — so for the video pair
    whenever any qualifying frame pair survives the bucket cap.  Never
    all-pairs at either granularity."""
    sigs = video_ahash_frames(df, id_col, binary_col, grid=grid,
                              n_bands=n_bands, fake=fake)
    return video_near_dup_pairs_from_sigs(
        sigs, n_bands=n_bands, max_hamming=max_hamming,
        min_match_frames=min_match_frames, max_bucket=max_bucket)


def video_near_dup_pairs_from_sigs(sigs: DataFrame, n_bands: int = 4,
                                   max_hamming: int = 3,
                                   min_match_frames: int = 2,
                                   max_bucket: int = 2000) -> DataFrame:
    """The pairing half of :func:`video_near_dup_pairs` over a
    precomputed ``(doc_id, frame_idx, bands)`` frame-signature frame
    (sign once, pair many — the persisted-index deployment shape)."""
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} >= n_bands={n_bands}: banding "
            f"only guarantees recall for Hamming distance < n_bands")
    if min_match_frames < 1:
        raise ValueError("min_match_frames must be >= 1")
    require_columns(sigs, ["doc_id", "frame_idx", "bands"])
    from pyspark import StorageLevel

    from frames_map_reduce_spark.operators.dedup import hamming_words

    sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)
    sigs.count()
    banded = sigs.select(
        "doc_id", "frame_idx", "bands",
        F.posexplode("bands").alias("_band_idx", "_band_val")) \
        .select("doc_id", "frame_idx", "bands",
                F.concat_ws(":", "_band_idx", "_band_val").alias("_bucket"))
    sizes = banded.groupBy("_bucket").agg(F.count(F.lit(1)).alias("_n"))
    ok = sizes.filter((F.col("_n") > 1) & (F.col("_n") <= max_bucket)) \
              .select("_bucket")
    pruned = banded.join(F.broadcast(ok), "_bucket")
    a = pruned.select("_bucket", F.col("doc_id").alias("id_a"),
                      F.col("frame_idx").alias("_fa"),
                      F.col("bands").alias("_bands_a"))
    b = pruned.select(F.col("_bucket").alias("_bucket_b"),
                      F.col("doc_id").alias("id_b"),
                      F.col("frame_idx").alias("_fb"),
                      F.col("bands").alias("_bands_b"))
    frame_pairs = (
        a.join(b, (F.col("_bucket") == F.col("_bucket_b"))
               & (F.col("id_a") < F.col("id_b")))
         .select("id_a", "_fa", "id_b", "_fb",
                 hamming_words(F.col("_bands_a"), F.col("_bands_b"),
                               n_bands).alias("hamming_dist"))
         .filter(F.col("hamming_dist") <= max_hamming)
         .distinct())   # a frame pair can meet in several buckets
    return (frame_pairs.groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).cast("bigint")
                  .alias("n_matched_frames"),
                 F.min("hamming_dist").alias("min_hamming"))
            .filter(F.col("n_matched_frames")
                    >= F.lit(int(min_match_frames))))


def audio_ahash(df: DataFrame, id_col: str, binary_col: str,
                grid: int = 8, n_bands: int = 4,
                fake: bool = False) -> DataFrame:
    """Perceptual audio fingerprints for WAV payloads:
    ``(doc_id, bands array<bigint>)`` — the track's exact-integer
    energy plane (media.audio_energy_grid: grid² time windows, int64
    sum-of-squares each) hashed with the SAME aHash threshold rule as
    images (media.ahash_bands), so audio plugs into the identical
    banded-Hamming pairing (:func:`ahash_near_dup_pairs`).  Bit =
    window louder than the track mean: loudness-invariant (uniform gain
    cancels), and stable across companding codecs — a G.711 re-encode
    of the same track flips few bits, a different track is ~random.

    PCM16 and G.711 A-law/mu-law WAVs decode for real; other payloads
    raise unless ``fake=True`` (hash-derived bands, plumbing-only).

    Scale shape: ONE Arrow-batched mapInPandas scan, O(samples) per
    row, bytes never on the driver."""
    require_columns(df, [id_col, binary_col])
    MEDIA.ahash_bands(np.zeros((grid, grid), dtype=np.int64),
                      grid=grid, n_bands=n_bands)
    narrow = df.select(F.col(id_col).alias("doc_id"),
                       F.col(binary_col).alias("_payload"))
    schema = "doc_id long, bands array<long>"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        for pdf in batches:
            out = []
            for p in pdf["_payload"]:
                b = bytes(p)
                if fake:
                    digest = hashlib.md5(b).digest()
                    width = (grid * grid) // n_bands
                    val = int.from_bytes(digest, "little")
                    out.append([(val >> (width * m)) & ((1 << width) - 1)
                                for m in range(n_bands)])
                else:
                    out.append(MEDIA.ahash_bands(
                        MEDIA.audio_energy_grid(MEDIA.wav_samples(b),
                                                grid=grid),
                        grid=grid, n_bands=n_bands))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "bands": out})

    return narrow.mapInPandas(run, schema=schema)


def audio_near_dup_pairs(df: DataFrame, id_col: str, binary_col: str,
                         grid: int = 8, n_bands: int = 4,
                         max_hamming: int = 3, max_bucket: int = 2000,
                         fake: bool = False) -> DataFrame:
    """Audio near-duplicate pairs — :func:`audio_ahash` signatures
    through the shared banded-Hamming pairing
    (:func:`ahash_near_dup_pairs`; semantics, caps, and scale notes as
    in :func:`image_near_dup_pairs`).  Catches cross-codec duplicates
    (PCM vs G.711 companded copies of the same track) that exact/byte
    dedup cannot see."""
    sigs = audio_ahash(df, id_col, binary_col, grid=grid,
                       n_bands=n_bands, fake=fake)
    return ahash_near_dup_pairs(sigs, n_bands=n_bands,
                                max_hamming=max_hamming,
                                max_bucket=max_bucket)


# ---------------------------------------------------------------------------
# Media contamination firewall (decontamination × perceptual hashing)
# ---------------------------------------------------------------------------

_MEDIA_SIGNERS = {"image": image_ahash, "audio": audio_ahash}


def _media_sigs(df: DataFrame, id_col: str, binary_col: str, kind: str,
                grid: int, n_bands: int, fake: bool) -> DataFrame:
    try:
        signer = _MEDIA_SIGNERS[kind]
    except KeyError:
        raise ValueError(
            f"media contamination index: unknown kind {kind!r} "
            f"(supported: {sorted(_MEDIA_SIGNERS)}); video screens at "
            "frame granularity — sample frames and index them as images")
    return signer(df, id_col, binary_col, grid=grid, n_bands=n_bands,
                  fake=fake)


def _banded_rows(sigs: DataFrame) -> DataFrame:
    """(eval_id, bucket, bands): one row per band per item — the
    persisted shape of a perceptual contamination index.  ``bucket`` is
    the (band index, band value) key whose equality is the pigeonhole
    candidate test; ``bands`` rides along for the exact verify."""
    return (sigs.select(F.col("doc_id").alias("eval_id"), "bands",
                        F.posexplode("bands").alias("_bi", "_bv"))
                .select("eval_id", "bands",
                        F.concat_ws(":", "_bi", "_bv").alias("bucket")))


def build_media_contamination_index(eval_media: DataFrame, table: str,
                                    id_col: str, binary_col: str,
                                    kind: str = "image", grid: int = 8,
                                    n_bands: int = 4, n_buckets: int = 16,
                                    fake: bool = False) -> None:
    """Train-once half of the MEDIA decontamination firewall — the
    composition the text firewall
    (retrieval.build_contamination_index, the GPT-3 Appendix C
    n-gram screen) and the r12 perceptual-hash family were built for:
    eval-suite IMAGES or AUDIO are aHash-signed
    (:func:`image_ahash` / :func:`audio_ahash` — real pixel/sample
    decode, exact-integer bits) and persisted banded as the bucketed
    table ``{table}_bands`` (``eval_id, bands, bucket``, bucketed by
    ``bucket``), so training batches can be screened for perceptual
    collisions — recompressed, companded, or lightly edited copies of
    eval media that byte-level screening cannot see.

    One Arrow decode pass + one bucketed-write shuffle over the (small)
    eval suite; training corpora are never touched.  ``kind``/``grid``/
    ``n_bands`` are the index's spec parameters: the build stamps them
    on the table, and extend/probe check theirs against the stamp (the
    text firewall's ``n`` convention).
    """
    from frames_map_reduce_spark.sources import write_bucketed

    require_columns(eval_media, [id_col, binary_col])
    sigs = _media_sigs(eval_media, id_col, binary_col, kind, grid,
                       n_bands, fake)
    write_bucketed(_banded_rows(sigs), f"{table}_bands", ["bucket"],
                   n_buckets, _media_spec(kind, grid, n_bands))


def extend_media_contamination_index(eval_delta: DataFrame, table: str,
                                     id_col: str, binary_col: str,
                                     kind: str = "image", grid: int = 8,
                                     n_bands: int = 4,
                                     fake: bool = False) -> None:
    """Append a newly-adopted benchmark's media signatures to a
    persisted media contamination index — paying only the delta's
    decode + banding, never reading or rewriting the existing index
    (the extend contract shared by every firewall in the engine).

    The append may repeat an ``eval_id`` already present (same item in
    two benchmark generations).  Probes are immune by construction:
    :func:`probe_media_contamination_index` counts DISTINCT eval ids
    and takes a MIN Hamming — both multiplicity-blind — so
    ``build(A); extend(B)`` probes bit-identically to
    ``build(A ∪ B)`` (law pinned in tests and by the registry oracle).
    ``kind``/``grid``/``n_bands`` are checked against the build's stamp.
    """
    from frames_map_reduce_spark.sources import append_bucketed, require_spec

    require_columns(eval_delta, [id_col, binary_col])
    require_spec(eval_delta.sparkSession, f"{table}_bands",
                 _media_spec(kind, grid, n_bands))
    sigs = _media_sigs(eval_delta, id_col, binary_col, kind, grid,
                       n_bands, fake)
    append_bucketed(_banded_rows(sigs), f"{table}_bands")


def probe_media_contamination_index(spark, table: str, incoming: DataFrame,
                                    id_col: str, binary_col: str,
                                    kind: str = "image", grid: int = 8,
                                    n_bands: int = 4, max_hamming: int = 3,
                                    fake: bool = False) -> DataFrame:
    """Query-many half: screen an incoming training media batch against
    a persisted media contamination index.  Returns one row per
    CONTAMINATED incoming item — ``(id_col, n_eval_hits,
    best_hamming)``: how many distinct eval items it perceptually
    matches (full-signature Hamming ≤ ``max_hamming``) and the closest
    such distance.

    Recall is EXACT for ``max_hamming < n_bands``: two signatures
    within that Hamming distance agree exactly on ≥1 band
    (pigeonhole), so the banded equi-join proposes every true match
    and the unrolled :func:`~frames_map_reduce_spark.operators.dedup.hamming_words`
    verify keeps precision exact — the same argument as
    :func:`ahash_near_dup_pairs`, and the reason the oracle can replay
    this all-pairs.

    Plan: ONE Arrow decode pass over the batch (n_bands skinny rows
    per item), the benchmark-sized index broadcast, a candidate
    equi-join on ``bucket``, the codegen Hamming filter, and one
    per-item reduce (``countDistinct``/``min`` — multiplicity-blind,
    which is what makes extend≡rebuild exact).  Zero index-side
    exchanges, no corpus self-join.  A degenerate band value (solid
    frames) fans out incoming × that bucket's eval rows — bounded by
    the eval suite size; watch ``max_bucket`` in
    :func:`media_contamination_index_stats` if eval media is
    boilerplate-heavy.  ``kind``/``grid``/``n_bands`` are checked
    against the build's stamp."""
    from frames_map_reduce_spark.operators.dedup import hamming_words
    from frames_map_reduce_spark.sources import require_spec

    require_columns(incoming, [id_col, binary_col])
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} >= n_bands={n_bands}: banding "
            "only guarantees recall for Hamming distance < n_bands")
    require_spec(spark, f"{table}_bands", _media_spec(kind, grid, n_bands))
    idx = spark.table(f"{table}_bands") \
        .withColumnRenamed("bands", "_ibands")
    sigs = _media_sigs(incoming, id_col, binary_col, kind, grid,
                       n_bands, fake)
    banded = (sigs.select(F.col("doc_id").alias(id_col), "bands",
                          F.posexplode("bands").alias("_bi", "_bv"))
                  .select(id_col, "bands",
                          F.concat_ws(":", "_bi", "_bv").alias("bucket")))
    cand = (banded.join(F.broadcast(idx), "bucket")
                  .select(id_col, "eval_id",
                          hamming_words(F.col("bands"), F.col("_ibands"),
                                        n_bands).alias("_hd"))
                  .filter(F.col("_hd") <= max_hamming))
    return (cand.groupBy(id_col)
                .agg(F.countDistinct("eval_id").cast("long")
                      .alias("n_eval_hits"),
                     F.min("_hd").cast("int").alias("best_hamming")))


def _media_spec(kind: str, grid: int, n_bands: int) -> dict[str, str]:
    from frames_map_reduce_spark.sources import index_spec
    return index_spec("media", kind=kind, grid=grid, n_bands=n_bands)


def media_contamination_index_stats(spark, table: str) -> DataFrame:
    """Lifecycle monitor for a persisted media contamination index: one
    row — persisted band rows, distinct eval items, distinct buckets,
    and the largest bucket's row count (the probe's worst-case fan-out
    multiplier; a huge value means boilerplate eval media — rebuild
    with a finer grid or screen those eval items).  One aggregation
    over the skinny index, nothing driver-side."""
    idx = spark.table(f"{table}_bands")
    # two-phase: per-bucket counts (shuffle-free on the bucketed table),
    # then a 1-row rollup; the distinct-item count rides a second 1-row
    # agg merged by broadcast crossJoin (the dashboard merge pattern).
    per_bucket = idx.groupBy("bucket").agg(F.count(F.lit(1)).alias("_n"))
    shape = per_bucket.agg(
        F.sum("_n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.max("_n").cast("long").alias("max_bucket"))
    items = idx.agg(F.countDistinct("eval_id").cast("long")
                     .alias("n_items"))
    return shape.crossJoin(F.broadcast(items)) \
                .select("n_rows", "n_items", "n_buckets", "max_bucket")
