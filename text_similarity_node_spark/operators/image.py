"""Image / video column operators (multimodal payload handling).

Same contract as the audio side (operators/audio.py): the payload is an
opaque BINARY column with typed metadata (codec, width, height, n_frames),
never shuffled by the similarity stages, decoded only at the edges inside
Arrow-batched UDFs.

Real here (pure numpy, no image libraries needed):
* ``decode_raw_rgb8`` — the container's deterministic raw format
  (12-byte header: width/height/channels int32-LE, then H*W*C bytes);
* ``resize_bilinear`` — actual bilinear resampling (numpy meshgrid);
* ``phash64`` — 64-bit perceptual hash: grayscale -> 32x32 bilinear ->
  8x8 low-frequency DCT-II block -> sign-vs-median bits.  The classic
  public pHash construction; robust to small noise/resize, and its
  Hamming distance plugs straight into the engine's pigeonhole banding
  (operators/simhash.simhash_candidates) for image near-dup joins;
* ``frame_phashes_udf`` — video frame sampling: payload holds n_frames
  concatenated raw frames; every k-th frame is decoded and pHashed
  (array<bigint> per clip — the video analogue of audio landmarks).

Stubbed (container ships no codec libraries; the Spark-side plumbing —
schema, batch shape, partition behavior — is real and tested):
* compressed decode (``decode_image`` raises NotImplementedError for
  jpeg/png/webp/h264/...).
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# plain format string + size, NOT a struct.Struct instance: compiled
# Struct objects are unpicklable and poison any UDF closure touching them
_HDR_FMT = "<iii"  # width, height, channels
_HDR_SIZE = struct.calcsize(_HDR_FMT)


def encode_raw_rgb8(x: np.ndarray) -> bytes:
    """(H, W, C) uint8 -> raw_rgb8 payload."""
    h, w, c = x.shape
    return struct.pack(_HDR_FMT, w, h, c) + x.astype(np.uint8).tobytes()


def decode_raw_rgb8(payload: bytes) -> np.ndarray:
    """raw_rgb8 payload -> (H, W, C) uint8."""
    w, h, c = struct.unpack_from(_HDR_FMT, payload, 0)
    return np.frombuffer(payload, dtype=np.uint8, offset=_HDR_SIZE).reshape(h, w, c)


def decode_image(payload: bytes, codec: str) -> np.ndarray:
    if codec == "raw_rgb8":
        return decode_raw_rgb8(payload)
    # STUB: compressed codecs need an image library not present in this
    # container; the pipeline treats them as opaque and defers decode.
    raise NotImplementedError(f"codec {codec!r} decode not available in this build")


def resize_bilinear(x: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Real bilinear resize of (H, W) float -> (out_h, out_w) float."""
    h, w = x.shape
    if (h, w) == (out_h, out_w):
        return x.astype(np.float64)
    yy = np.linspace(0, h - 1, out_h)
    xx = np.linspace(0, w - 1, out_w)
    y0 = np.floor(yy).astype(int)
    x0 = np.floor(xx).astype(int)
    y1 = np.minimum(y0 + 1, h - 1)
    x1 = np.minimum(x0 + 1, w - 1)
    fy = (yy - y0)[:, None]
    fx = (xx - x0)[None, :]
    x = x.astype(np.float64)
    top = x[y0][:, x0] * (1 - fx) + x[y0][:, x1] * fx
    bot = x[y1][:, x0] * (1 - fx) + x[y1][:, x1] * fx
    return top * (1 - fy) + bot * fy


def _dct2_8x8_of_32(g32: np.ndarray) -> np.ndarray:
    """Top-left 8x8 block of the 2-D DCT-II of a 32x32 grayscale image
    (direct matrix form — n=32 makes the O(n^3) cost trivial)."""
    n = 32
    k = np.arange(8)[:, None]
    i = np.arange(n)[None, :]
    basis = np.cos(np.pi * (2 * i + 1) * k / (2 * n))  # (8, 32)
    return basis @ g32 @ basis.T


def phash64(img: np.ndarray) -> int:
    """64-bit perceptual hash of an (H, W, C) or (H, W) uint8 image."""
    g = img.mean(axis=2) if img.ndim == 3 else img.astype(np.float64)
    g32 = resize_bilinear(np.asarray(g, dtype=np.float64), 32, 32)
    d = _dct2_8x8_of_32(g32).ravel()
    # classic pHash: drop the DC term entirely; the 63 AC coefficients vs
    # their median give 63 discriminative bits (naturally positive int64).
    ac = d[1:]
    med = np.median(ac)
    # MSB-first pack of the 63 comparison bits (packbits pads one trailing
    # zero bit, hence the >> 1); bit-exact with the former Python loop
    return int.from_bytes(np.packbits(ac > med).tobytes(), "big") >> 1


def phash_udf(codec_default: str = "raw_rgb8"):
    """(payload, codec) -> bigint pHash; null payload/undecodable codec ->
    null (DataFrame error channel, like the kernels)."""

    @F.pandas_udf(T.LongType())
    def udf(payload: pd.Series, codec: pd.Series) -> pd.Series:
        out = []
        for b, c in zip(payload, codec):
            if b is None:
                out.append(None)
                continue
            try:
                out.append(phash64(decode_image(bytes(b), c or codec_default)))
            except NotImplementedError:
                out.append(None)
        return pd.Series(out, dtype="object")

    return udf


def frame_phashes_udf(every_k: int = 2):
    """Video frame sampling: payload = 12-byte header per frame repeated
    n_frames times back-to-back (a raw frame stream); every k-th frame is
    decoded and pHashed.  Returns array<bigint>."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def udf(payload: pd.Series) -> pd.Series:
        out = []
        for b in payload:
            if b is None or len(b) < _HDR_SIZE:
                out.append([])
                continue
            b = bytes(b)
            hashes, off, idx = [], 0, 0
            while off + _HDR_SIZE <= len(b):
                w, h, c = struct.unpack_from(_HDR_FMT, b, off)
                frame_len = _HDR_SIZE + w * h * c
                if off + frame_len > len(b):
                    break
                if idx % every_k == 0:
                    hashes.append(phash64(decode_raw_rgb8(b[off : off + frame_len])))
                off += frame_len
                idx += 1
            out.append(hashes)
        return pd.Series(out)

    return udf


def synth_image_udf(n_classes: int = 40, noise_amp: float = 4.0):
    """Deterministic raw_rgb8 64x64 image per id: an 8x8 seeded random
    block pattern keyed by id % n_classes, upsampled 8x.  Ids >= 1_000_000
    additionally carry seeded Gaussian pixel noise — the planted "same
    image, re-captured" rows.  1_000_000 % n_classes == 0 for the default
    40, so id % n_classes IS the ground-truth pairing key (the q34
    oracle).  Measured pHash separation on this family: intra-class
    Hamming <= 2, inter-class >= 19 — radius 6 splits them exactly."""

    @F.pandas_udf(T.BinaryType())
    def udf(doc_id: pd.Series) -> pd.Series:
        out = []
        for d in doc_id:
            d = int(d)
            base = np.random.RandomState(1000 + d % n_classes).rand(8, 8)
            x = np.kron(base, np.ones((8, 8))) * 255.0
            if d >= 1_000_000:
                x = x + np.random.RandomState(d % 2**31).randn(64, 64) * noise_amp
            img = np.clip(x, 0, 255).astype(np.uint8)[..., None].repeat(3, axis=2)
            out.append(encode_raw_rgb8(img))
        return pd.Series(out)

    return udf


def synth_video_udf(
    n_classes: int = 40, n_frames: int = 6, noise_amp: float = 4.0
):
    """Deterministic raw frame stream per id: ``n_frames`` 64x64 raw_rgb8
    frames back-to-back, frame f keyed by (id % n_classes, f) — a
    class-specific frame SEQUENCE, the video analogue of
    ``synth_image_udf``.  Ids >= 1_000_000 carry per-frame seeded noise
    (the planted "same video, re-encoded" rows); 1_000_000 % 40 == 0, so
    id % n_classes is the ground-truth pairing key (the q50 oracle)."""

    @F.pandas_udf(T.BinaryType())
    def udf(doc_id: pd.Series) -> pd.Series:
        out = []
        for d in doc_id:
            d = int(d)
            frames = []
            for f in range(n_frames):
                base = np.random.RandomState(
                    1000 + (d % n_classes) * 101 + f
                ).rand(8, 8)
                x = np.kron(base, np.ones((8, 8))) * 255.0
                if d >= 1_000_000:
                    x = x + (
                        np.random.RandomState((d + 7919 * f) % 2**31)
                        .randn(64, 64)
                        * noise_amp
                    )
                img = np.clip(x, 0, 255).astype(np.uint8)[..., None].repeat(
                    3, axis=2
                )
                frames.append(encode_raw_rgb8(img))
            out.append(b"".join(frames))
        return pd.Series(out)

    return udf


def video_neardup(
    df: DataFrame,
    id_col: str,
    bytes_col: str,
    every_k: int = 2,
    hamming_radius: int = 6,
    min_frames: int = 2,
) -> DataFrame:
    """Video near-dup pairs: sample every k-th frame, pHash each sampled
    frame, and require >= ``min_frames`` sampled positions whose hashes
    land within ``hamming_radius`` — temporal corroboration on top of the
    per-frame perceptual match (one lucky frame collision can't pair two
    clips).  Returns (id1, id2, n_frames_matched).

    Scale shape: frames never shuffle — the payload is consumed by one
    Arrow pass into <= n_frames/k 64-bit hashes per clip.  Each (clip,
    position) becomes a pseudo-doc (id*64 + pos) routed through the SAME
    salted/capped pigeonhole block join as the text SimHash pass, so a
    degenerate frame (all-black intros across a corpus) hits the hot-key
    disposition instead of one reducer; position equality is enforced on
    the candidate output (cross-position collisions are dropped before
    the pair aggregate)."""
    from ..config import PipelineConfig
    from . import simhash

    cfg = PipelineConfig(hamming_radius=hamming_radius)
    hashed = df.select(
        F.col(id_col),
        F.posexplode(frame_phashes_udf(every_k)(F.col(bytes_col))).alias(
            "pos", "simhash"
        ),
    )
    # pos < 1024 by contract (~34 min of video at the default 2-frame
    # stride); longer clips would alias pseudo-ids — callers chunk first
    pseudo = hashed.select(
        (F.col(id_col) * 1024 + F.col("pos")).alias("clip_id"), "simhash"
    )
    cands, _dispositions = simhash.simhash_candidates(pseudo, cfg)
    return (
        cands.filter(F.col("id1") % 1024 == F.col("id2") % 1024)
        .select(
            F.expr("id1 div 1024").alias("id1"),
            F.expr("id2 div 1024").alias("id2"),
            (F.col("id1") % 1024).alias("pos"),
        )
        .groupBy("id1", "id2")
        .agg(F.countDistinct("pos").alias("n_frames_matched"))
        .filter(F.col("n_frames_matched") >= min_frames)
    )


def image_neardup(
    df: DataFrame,
    id_col: str,
    bytes_col: str,
    codec_col: str = "codec",
    hamming_radius: int = 6,
) -> DataFrame:
    """Image near-dup pairs: pHash + the engine's pigeonhole Hamming
    banding (same machinery as the SimHash text pass — blocks of the
    64-bit hash as equi-join keys, JVM bit_count(xor) verify).  Returns
    (id1, id2, hamming)."""
    from ..config import PipelineConfig
    from . import simhash

    cfg = PipelineConfig(hamming_radius=hamming_radius)
    hashed = df.select(
        F.col(id_col).alias("clip_id"),
        phash_udf()(F.col(bytes_col), F.col(codec_col)).alias("simhash"),
    ).filter(F.col("simhash").isNotNull())
    pairs, _dispositions = simhash.simhash_candidates(hashed, cfg)
    return pairs
