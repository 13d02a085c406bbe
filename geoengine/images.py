"""Image payload kernels (BASELINE.json input_hint: image+caption table
``(image_id, bytes, w, h, fmt, caption, phash)``).

All kernels run as Arrow-batched ``mapInPandas`` / pandas UDFs over opaque
``binary`` columns with typed metadata — the Spark-side plumbing (schema,
batching, partitioning) is real; only external codecs are stubbed:

  fmt='raw'  — lossless HxWx3 uint8, pure numpy (real codec)
  fmt='q6'   — 6-bit/channel quantized (lossy, PSNR ~46 dB > 40 dB — real)
  fmt='jpeg'/'png'/... — NotImplementedError stub (no PIL in this sandbox)

phash = 8x8 DCT sign hash (pure numpy, FIXTURES.md §3).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, DoubleType, LongType, StructField, StructType


def _extended(df: DataFrame, *fields: StructField) -> StructType:
    """Copy of df.schema + new fields (never mutate the cached schema)."""
    return StructType(list(df.schema.fields) + list(fields))


# ---------------------------------------------------------------------------
# codecs (numpy; vectorized per image, batched per Arrow chunk)
# ---------------------------------------------------------------------------

def decode_image(buf: bytes, w: int, h: int, fmt: str) -> np.ndarray:
    """bytes -> HxWx3 uint8 pixels."""
    if fmt == "raw":
        return np.frombuffer(buf, dtype=np.uint8).reshape(h, w, 3)
    if fmt == "q6":
        q = np.frombuffer(buf, dtype=np.uint8).reshape(h, w, 3)
        return q  # stored dequantized (centered) at encode time
    raise NotImplementedError(
        f"codec {fmt!r} requires an external library not present in this "
        "environment; plumbing (schema/batching) is exercised with raw/q6"
    )


def encode_q6(pixels: np.ndarray) -> bytes:
    """Lossy 6-bit/channel quantization, dequantized-centered storage.
    Max per-channel error 2 -> PSNR ≈ 46 dB (>= 40 dB contract)."""
    return (((pixels >> 2) << 2) + 1).astype(np.uint8).tobytes()


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0**2 / mse))


_DCT32 = None


def _dct_matrix(n: int = 32) -> np.ndarray:
    global _DCT32
    if _DCT32 is None:
        k = np.arange(n)[:, None]
        i = np.arange(n)[None, :]
        m = np.sqrt(2.0 / n) * np.cos((2 * i + 1) * k * np.pi / (2 * n))
        m[0] = np.sqrt(1.0 / n)
        _DCT32 = m
    return _DCT32


def resize_block_mean(pixels: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Deterministic area resize (no PIL). When the shape divides evenly
    it is a TRUE block mean (each output pixel = rint of its source
    block's mean — global mean preserved to within +-0.5, the invariant
    the images_resize gate certifies); otherwise a deterministic
    index-mapped subsample fallback. Round-2 shipped the fallback for
    every shape despite the name — fixed in round 3."""
    h, w = pixels.shape[:2]
    if h % out_h == 0 and w % out_w == 0:
        bh, bw = h // out_h, w // out_w
        blocks = pixels.reshape(out_h, bh, out_w, bw, -1).astype(np.float64)
        out = np.rint(blocks.mean(axis=(1, 3))).astype(np.uint8)
        # 2-D (grayscale) input must come back 2-D like the fallback branch
        return out[:, :, 0] if pixels.ndim == 2 else out
    ys = (np.arange(out_h) * h) // out_h
    xs = (np.arange(out_w) * w) // out_w
    return pixels[ys][:, xs]


_BIT_SHIFTS = np.arange(63, -1, -1, dtype=np.uint64)


def phash64_batch(pixels: np.ndarray) -> np.ndarray:
    """Vectorized 8x8 DCT sign hash over a (B, H, W, 3) uint8 stack:
    gray -> 32x32 -> DCT-II -> top-left 8x8 minus DC, threshold at median
    -> int64[B] (FIXTURES.md §3). One matmul pair for the whole batch."""
    gray = pixels.astype(np.float64).mean(axis=3)  # (B, H, W)
    h, w = gray.shape[1:]
    ys = (np.arange(32) * h) // 32
    xs = (np.arange(32) * w) // 32
    g32 = gray[:, ys][:, :, xs]  # (B, 32, 32)
    m = _dct_matrix(32)
    d = m @ g32 @ m.T  # batched matmul
    block = d[:, :8, :8].reshape(len(gray), 64)
    med = np.median(block[:, 1:], axis=1)  # exclude DC
    bits = (block > med[:, None]).astype(np.uint64)
    acc = (bits << _BIT_SHIFTS[None, :]).sum(axis=1, dtype=np.uint64)
    return acc.astype(np.int64)


def phash64(pixels: np.ndarray) -> int:
    """Single-image convenience wrapper over phash64_batch."""
    return int(phash64_batch(pixels[None, ...])[0])


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


# ---------------------------------------------------------------------------
# DataFrame operators (mapInPandas — Arrow batches, no per-row Python at the
# plan level; the per-image loop is inside the batch kernel)
# ---------------------------------------------------------------------------

def with_computed_phash(df: DataFrame, out: str = "phash_computed") -> DataFrame:
    """Recompute phash from the payload (validates the stored column)."""
    schema = _extended(df, StructField(out, LongType()))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            vals = np.zeros(len(b), dtype=np.int64)
            # group rows by (h, w, fmt) so the DCT runs as one batched matmul
            shapes = pd.Series(zip(b["h"], b["w"], b["fmt"]), index=b.index)
            for (h, w, fmt), idx in b.groupby(shapes.values).groups.items():
                pos = b.index.get_indexer(idx)
                stack = np.stack(
                    [decode_image(b["bytes"].iloc[p], w, h, fmt) for p in pos]
                )
                vals[pos] = phash64_batch(stack)
            b[out] = pd.Series(vals, index=b.index)
            yield b

    return df.mapInPandas(gen, schema=schema)


def phash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "image_id",
    max_hamming: int = 7,
    block_bits: int = 8,
    phash_col: str | None = None,
) -> DataFrame:
    """IMAGE near-duplicate detection — the multimodal arm of the dedup
    suite: perceptual-hash the payload (batched DCT, mapInPandas), then the
    same block-pigeonhole candidate join the text SimHash path uses
    (``text.hash_near_dup_pairs``). With 8-bit blocks the pigeonhole bound
    makes recall EXACT for hamming <= 7 (a pair differing in <= 7 bits
    cannot touch all 8 blocks); measured kernel behavior on noised twins
    (2% pixels perturbed +-10) is hamming <= 2 vs >= 22 for independent
    images, so the default threshold separates with margin. Pass
    ``phash_col`` to reuse a stored hash (e.g. the input_hint table's
    ``phash`` column) and skip the decode+DCT stage entirely.

    Scale posture: candidates come from an equi-join on (block, value) —
    never all-pairs; the decode+DCT stage is one Arrow pass."""
    from .text import hash_near_dup_pairs

    if phash_col is None:
        df = with_computed_phash(df, out="_phash64")
        phash_col = "_phash64"
    return hash_near_dup_pairs(
        df.select(F.col(id_col), F.col(phash_col)),
        phash_col,
        id_col=id_col,
        max_hamming=max_hamming,
        block_bits=block_bits,
    )


def with_decode_stats(df: DataFrame) -> DataFrame:
    """Decode + per-image stats (mean/std per channel) — the 'feature
    extract' kernel shape over binary payloads."""
    schema = _extended(df, StructField("px_mean", DoubleType()), StructField("px_std", DoubleType()))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            means, stds = [], []
            for buf, w, h, fmt in zip(b["bytes"], b["w"], b["h"], b["fmt"]):
                px = decode_image(buf, w, h, fmt).astype(np.float64)
                means.append(float(px.mean()))
                stds.append(float(px.std()))
            b["px_mean"] = means
            b["px_std"] = stds
            yield b

    return df.mapInPandas(gen, schema=schema)


def reencode_q6(df: DataFrame) -> DataFrame:
    """raw -> q6 transcode (the 'resize/compress' pipeline shape); carries a
    per-row PSNR column proving the >=40 dB lossy contract."""
    schema = _extended(df, StructField("bytes_q6", BinaryType()), StructField("psnr_db", DoubleType()))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            outs, ps = [], []
            for buf, w, h, fmt in zip(b["bytes"], b["w"], b["h"], b["fmt"]):
                px = decode_image(buf, w, h, fmt)
                enc = encode_q6(px)
                dec = decode_image(enc, w, h, "q6")
                outs.append(enc)
                ps.append(psnr(px, dec))
            b["bytes_q6"] = outs
            b["psnr_db"] = ps
            yield b

    return df.mapInPandas(gen, schema=schema)


def frame_sample(df: DataFrame, every_k: int = 2) -> DataFrame:
    """Video-payload shape: treat bytes as n concatenated HxWx3 frames
    (n = len(bytes)/(h*w*3)), keep every k-th frame. Real Spark plumbing
    (schema/batching); the 'codec' is the raw frame stack — container
    formats (mp4 etc.) would slot in behind decode_image's stub."""
    schema = _extended(
        df,
        StructField("n_frames", LongType()),
        StructField("bytes_sampled", BinaryType()),
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ns, outs = [], []
            for buf, w, h in zip(b["bytes"], b["w"], b["h"]):
                fsz = int(w) * int(h) * 3
                n = max(len(buf) // fsz, 0)
                frames = np.frombuffer(buf[: n * fsz], dtype=np.uint8).reshape(
                    n, int(h), int(w), 3
                )
                ns.append(n)
                outs.append(frames[::every_k].tobytes())
            b["n_frames"] = pd.Series(ns, index=b.index, dtype="int64")
            b["bytes_sampled"] = outs
            yield b

    return df.mapInPandas(gen, schema=schema)


def audio_features(df: DataFrame, sample_rate: int = 16000) -> DataFrame:
    """Audio-payload shape: treat bytes as mono int16 PCM; extract RMS
    energy, peak, duration (vectorized numpy per Arrow batch). Compressed
    codecs (mp3/flac) would slot behind decode stubs like image formats."""
    schema = _extended(
        df,
        StructField("duration_s", DoubleType()),
        StructField("rms", DoubleType()),
        StructField("peak", LongType()),
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            dur, rms, peak = [], [], []
            for buf in b["bytes"]:
                pcm = np.frombuffer(buf[: len(buf) - len(buf) % 2], dtype=np.int16)
                n = len(pcm)
                dur.append(n / float(sample_rate))
                rms.append(
                    float(np.sqrt(np.mean(pcm.astype(np.float64) ** 2))) if n else 0.0
                )
                peak.append(int(np.abs(pcm).max()) if n else 0)
            b["duration_s"] = dur
            b["rms"] = rms
            b["peak"] = pd.Series(peak, index=b.index, dtype="int64")
            yield b

    return df.mapInPandas(gen, schema=schema)


def resize_images(df: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Deterministic area resize of the raw payload (real, no PIL)."""
    schema = _extended(df, StructField("bytes_resized", BinaryType()))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            outs = []
            for buf, w, h, fmt in zip(b["bytes"], b["w"], b["h"], b["fmt"]):
                px = decode_image(buf, w, h, fmt)
                outs.append(resize_block_mean(px, out_h, out_w).tobytes())
            b["bytes_resized"] = outs
            yield b

    return df.mapInPandas(gen, schema=schema)


def dedup_images(
    imgs: DataFrame,
    id_col: str = "image_id",
    max_hamming: int = 7,
    block_bits: int = 8,
    phash_col: str | None = None,
    keeper_order: list | None = None,
    max_iter: int = 30,
) -> DataFrame:
    """One-call IMAGE corpus dedup — the multimodal twin of
    clusters.dedup_documents: perceptual-hash near-dup pairs
    (phash_near_dup_pairs: batched DCT + block-pigeonhole candidate join,
    or a stored ``phash_col`` skipping decode entirely) -> connected
    components -> deterministic keeper. Returns imgs + (cluster_id,
    is_keeper); ``.where("is_keeper")`` is the deduplicated image corpus.
    Every stage is the corresponding certified operator, just wired
    together."""
    from .clusters import dedup_clusters

    pairs = phash_near_dup_pairs(
        imgs, id_col=id_col, max_hamming=max_hamming,
        block_bits=block_bits, phash_col=phash_col,
    )
    return dedup_clusters(imgs, pairs, id_col=id_col,
                          keeper_order=keeper_order, max_iter=max_iter)
