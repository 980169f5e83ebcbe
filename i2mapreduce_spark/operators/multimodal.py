"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design for image/audio/video at 100 TB:
- payloads are `binary` columns (or object-store URIs for >~1 MB blobs so
  the shuffle never carries them); metadata is a typed struct column
  (modality, width/height or sample_rate/duration, codec, byte length);
- decode / feature-extract / resize / frame-sample run as Arrow-batched
  mapInPandas stages so each Python worker amortizes library setup per
  batch, not per row;
- decoded features are fixed-width `array<float>` columns that flow into
  the similarity operators unchanged.

The decode step itself needs codec libraries that are NOT installed, so
it is stubbed: `decode_stub` raises NotImplementedError unless
`fake=True`, where a clearly-marked deterministic fake produces
bytes-derived features.  Every kernel here always calls it with
`fake=True`; `decode_stub` is the one place a real decoder goes.  The
Spark-side plumbing (schema, batching, partitioning, UDF signatures) is
real and tested.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F


def _round_half_away(x: float, nd: int = 4) -> float:
    """round-half-away-from-zero for non-negative x — DuckDB's double
    rounding rule (python round() is banker's and flips exact .xxxx5
    ties the other way, e.g. 0.03125 -> 0.0312 vs DuckDB's 0.0313)."""
    m = 10 ** nd
    return math.floor(x * m + 0.5) / m

#: feature-vector width of extract_features (one histogram bucket each)
FEATURE_DIM = 16
#: pooled grid of resize and phash: 6 rows x 8 columns (a 48-bit phash)
POOL_H, POOL_W = 6, 8
#: payload bytes per frame_sample frame
FRAME_BYTES = 10


def attach_binary_payload(df: DataFrame) -> DataFrame:
    """Fixture adapter: wrap the documents' text as an opaque binary
    payload with typed metadata, standing in for real image/audio bytes."""
    payload = F.col("text").cast("binary")
    meta = F.struct(
        F.lit("image").alias("modality"),
        F.length(payload).alias("byte_len"),
        (F.length(payload) % 64 + 1).alias("width"),
        (F.length(payload) % 48 + 1).alias("height"),
        F.lit(0).alias("sample_rate"),
    )
    # a row with no bytes is not a media row: drop it here so every
    # downstream decode/feature kernel sees only real payloads (their
    # oracles filter `text IS NOT NULL` identically)
    return df.select(
        "doc_id", payload.alias("payload"), meta.alias("meta")
    ).filter(F.col("payload").isNotNull())


def decode_stub(payload: bytes, modality: str, fake: bool = False) -> np.ndarray:
    """Decode one payload to a pixel/sample array.

    STUB: real decoding needs Pillow/av/soundfile, absent from this
    container.  fake=True returns a deterministic bytes-derived array so
    the distributed plumbing can be exercised end-to-end.
    """
    if not fake:
        raise NotImplementedError(
            "media codecs not available in this environment; "
            "pass fake=True for the deterministic test double"
        )
    arr = np.frombuffer(payload, dtype=np.uint8).astype(np.float64)
    return arr


def extract_features(df: DataFrame) -> DataFrame:
    """Binary payload -> fixed-width feature vector via mapInPandas.

    Deterministic fake 'feature extractor': FEATURE_DIM-bucket byte
    histogram, L2 normalized.  The stage shape (Arrow batch in, fixed
    array<double> out) is exactly what a real CLIP/audio embedder would
    use.
    """
    def extract(batches):
        for pdf in batches:
            ids, feats, lens = [], [], []
            for did, payload, meta in zip(
                pdf["doc_id"].values, pdf["payload"].values, pdf["meta"].values
            ):
                arr = decode_stub(bytes(payload), meta["modality"], fake=True)
                hist, _ = np.histogram(
                    arr % FEATURE_DIM, bins=FEATURE_DIM, range=(0, FEATURE_DIM)
                )
                v = hist.astype(np.float64)
                norm = np.linalg.norm(v)
                feats.append((v / norm if norm else v).round(6).tolist())
                ids.append(did)
                lens.append(int(meta["byte_len"]))
            yield pd.DataFrame({"doc_id": ids, "byte_len": lens, "feature": feats})

    return df.mapInPandas(
        extract, schema="doc_id long, byte_len int, feature array<double>"
    )


def _pool(payload, meta, dtype) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode (stubbed) one payload, tile its bytes to a meta.height x
    meta.width image and sum it into the POOL_H x POOL_W grid by integer
    bucket maps: (image, per-cell sums, per-cell pixel counts), all of
    `dtype`.  The fake 'image' is np.resize pad-by-repeat — deterministic
    — so the pooling is exactly reproducible across partitionings."""
    arr = decode_stub(bytes(payload), meta["modality"], fake=True)
    h, w = int(meta["height"]), int(meta["width"])
    img = np.resize(arr, (h, w)).astype(dtype)
    ys = (np.arange(h) * POOL_H) // h
    xs = (np.arange(w) * POOL_W) // w
    sums = np.zeros((POOL_H, POOL_W), dtype=dtype)
    cnts = np.zeros((POOL_H, POOL_W), dtype=dtype)
    np.add.at(sums, (ys[:, None], xs[None, :]), img)
    np.add.at(cnts, (ys[:, None], xs[None, :]), 1)
    return img, sums, cnts


def resize(df: DataFrame) -> DataFrame:
    """Image-resize stage shape: payload -> decode (stubbed) -> H x W
    pixel grid -> area-average pool to a fixed POOL_H x POOL_W grid, via
    Arrow-batched mapInPandas.  Output is reduced to scalars (pixel mean
    + two pooled corner cells) so downstream stays flat-columnar.

    Pooling is `_pool` in float64.  Every emitted value is a single
    exact-integer-sum / count quotient: one IEEE division, bit-identical
    in any engine — a mean over the 48 bucket AVERAGES would instead be
    float-summation-order-sensitive and flaps 4dp rounding ties (observed
    on the fixtures).
    """
    def _resize(batches):
        for pdf in batches:
            ids, means, c00s, clasts = [], [], [], []
            for did, payload, meta in zip(
                pdf["doc_id"].values, pdf["payload"].values, pdf["meta"].values
            ):
                img, pooled, cnt = _pool(payload, meta, np.float64)
                grid = pooled / np.maximum(cnt, 1.0)
                ids.append(did)
                means.append(_round_half_away(float(img.sum()) / img.size))
                c00s.append(_round_half_away(float(grid[0, 0])))
                clasts.append(_round_half_away(float(grid[-1, -1])))
            yield pd.DataFrame({
                "doc_id": ids, "px_mean": means, "px_c00": c00s, "px_last": clasts,
            })

    return df.mapInPandas(
        _resize,
        schema="doc_id long, px_mean double, px_c00 double, px_last double",
    )


def phash(df: DataFrame) -> DataFrame:
    """Perceptual-hash stage shape: payload -> decode (stubbed) -> pool to
    the POOL_H x POOL_W grid (`_pool` in int64) -> one bit per cell (cell
    above the global pixel mean) packed into a 48-bit integer — the aHash family used for
    near-duplicate image detection at corpus scale (hamming distance on
    the hash replaces pixel comparison).

    Exactness: the bit test is the integer cross-multiplication
    cell_sum * total_count > total_sum * cell_count — no float division
    anywhere, so the hash is bit-identical in any engine/partitioning.
    Output: (doc_id, phash, n_bits)."""
    def _hash(batches):
        for pdf in batches:
            ids, hs, nb = [], [], []
            for did, payload, meta in zip(
                pdf["doc_id"].values, pdf["payload"].values, pdf["meta"].values
            ):
                img, sums, cnts = _pool(payload, meta, np.int64)
                tot_s, tot_c = int(img.sum()), int(img.size)
                bits = (sums * tot_c) > (tot_s * cnts)
                val = 0
                for by in range(POOL_H):
                    for bx in range(POOL_W):
                        if bits[by, bx]:
                            val |= 1 << (by * POOL_W + bx)
                ids.append(did)
                hs.append(val)
                nb.append(int(bits.sum()))
            yield pd.DataFrame({"doc_id": ids, "phash": hs, "n_bits": nb})

    return df.mapInPandas(_hash, schema="doc_id long, phash long, n_bits int")


def frame_sample(df: DataFrame) -> DataFrame:
    """Frame-sampling stage shape: one payload -> one row per FRAME_BYTES
    bytes (1->N explode through mapInPandas, like video frame
    extraction)."""
    def sample(batches):
        for pdf in batches:
            ids, frames, offsets = [], [], []
            for did, payload in zip(pdf["doc_id"].values, pdf["payload"].values):
                raw = bytes(payload)
                for off in range(0, len(raw), FRAME_BYTES):
                    ids.append(did)
                    offsets.append(off)
                    frames.append(raw[off:off + FRAME_BYTES])
            yield pd.DataFrame({"doc_id": ids, "frame_off": offsets, "frame": frames})

    return df.select("doc_id", "payload").mapInPandas(
        sample, schema="doc_id long, frame_off int, frame binary"
    )


AUDIO_FRAME = 64         # samples per analysis frame
AUDIO_MAX_FRAMES = 4     # analyze the first N complete frames


def audio_frame_energy(df: DataFrame) -> DataFrame:
    """Audio-analysis stage shape: payload -> PCM samples (stubbed
    decode: raw bytes as uint8 amplitudes) -> framewise RMS energy over
    the first 4 complete 64-sample frames, via Arrow-batched mapInPandas
    exploding 1 payload row into <=4 frame rows.

    RMS divides an exact integer sum-of-squares by the fixed frame size
    before one sqrt + 6 dp round, so the value is engine-reproducible.
    The real-decoder swap point is decode_stub, same as every other
    multimodal kernel here."""
    def energies(batches):
        for pdf in batches:
            ids, fidx, rms = [], [], []
            for did, payload, meta in zip(
                pdf["doc_id"].values, pdf["payload"].values, pdf["meta"].values
            ):
                arr = decode_stub(bytes(payload), meta["modality"], fake=True)
                n_frames = min(AUDIO_MAX_FRAMES, len(arr) // AUDIO_FRAME)
                for f in range(n_frames):
                    frame = arr[f * AUDIO_FRAME:(f + 1) * AUDIO_FRAME]
                    e = float(np.sqrt(np.sum(frame * frame) / AUDIO_FRAME))
                    ids.append(did)
                    fidx.append(f)
                    rms.append(_round_half_away(e, 6))
            yield pd.DataFrame({"doc_id": ids, "frame_idx": fidx, "rms": rms})

    return df.mapInPandas(
        energies, schema="doc_id long, frame_idx int, rms double"
    )
