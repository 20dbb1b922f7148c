"""In-house deterministic raster byte codec.

The reference keeps pixels as an eagerly-materialized numpy array backed
by an in-memory GTiff (ukis_pysat/raster.py:49,189-213).  In this engine
pixels live *encoded* in a ``bytes BINARY`` column and are decoded only
inside the row-wise Arrow stages of operators/arrowio.py on executors.  GDAL/rasterio/PIL are not
available in the target environment, so the codec is pure numpy + zlib:

- ``raw``  : 20-byte header + C-order band-first array, little-endian.
             Lossless; zero-copy decode via np.frombuffer.
- ``rawz`` : same payload, zlib-compressed.  Lossless.
- ``q8``   : per-band affine quantization to uint8 (min + scale*q).
             Lossy; reconstruction satisfies PSNR >= 40 dB for arrays
             whose per-band dynamic range spans < ~2^14 steps, which is
             the invariant BASELINE.json:15 requires of the lossy path.
- ``png``  : body is a complete PNG stream (sources/png.py writer, up
             filter).  Lossless; uint8/uint16 with 1-4 bands only —
             anything else raises.  Interchange-friendly: the payload
             minus the 20-byte header IS a valid .png file.

Header layout (little-endian, 20 bytes):
    magic   4s   b"UPSR"
    version u8   1
    fmt     u8   0=raw 1=rawz 2=q8 3=png
    dtype   u8   index into _DTYPES
    ndim    u8   always 3 (2-D inputs are promoted, like raster.py:65-66)
    bands   u16
    _pad    u16
    rows    u32
    cols    u32
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

MAGIC = b"UPSR"
VERSION = 1
_HEADER = struct.Struct("<4sBBBBHHII")
HEADER_SIZE = _HEADER.size  # 20

_DTYPES = ["uint8", "uint16", "int16", "int32", "float32", "float64", "int64", "uint32", "int8", "uint64"]
_DTYPE_CODE = {np.dtype(d): i for i, d in enumerate(_DTYPES)}

FMT_CODES = {"raw": 0, "rawz": 1, "q8": 2, "png": 3}
FMT_NAMES = {v: k for k, v in FMT_CODES.items()}

LOSSLESS_FMTS = ("raw", "rawz", "png")


def promote_3d(arr: np.ndarray) -> np.ndarray:
    """2-D -> 3-D (1, rows, cols) promotion, matching raster.py:65-66."""
    if arr.ndim == 2:
        return arr[np.newaxis, :, :]
    if arr.ndim != 3:
        raise ValueError(f"array must be 2-D or 3-D, got ndim={arr.ndim}")
    return arr


def make_header(fmt: str, dtype_name: str, bands: int, rows: int, cols: int) -> bytes:
    """Precomputed header for bulk encoders that append raw body bytes
    themselves (e.g. the tiler's strided bulk path)."""
    return _HEADER.pack(
        MAGIC, VERSION, FMT_CODES[fmt], _DTYPE_CODE[np.dtype(dtype_name)], 3, bands, 0, rows, cols
    )


def encode(arr: np.ndarray, fmt: str = "raw") -> bytes:
    """Encode a (bands, rows, cols) array into payload bytes."""
    arr = promote_3d(np.ascontiguousarray(arr))
    dt = arr.dtype.newbyteorder("<")
    if np.dtype(arr.dtype.name) not in _DTYPE_CODE:
        raise ValueError(f"unsupported dtype {arr.dtype}")
    bands, rows, cols = arr.shape
    header = _HEADER.pack(
        MAGIC,
        VERSION,
        FMT_CODES[fmt],
        _DTYPE_CODE[np.dtype(arr.dtype.name)],
        3,
        bands,
        0,
        rows,
        cols,
    )
    if fmt == "raw":
        body = arr.astype(dt, copy=False).tobytes()
    elif fmt == "rawz":
        body = zlib.compress(arr.astype(dt, copy=False).tobytes(), level=1)
    elif fmt == "q8":
        chunks = []
        f = arr.astype(np.float64, copy=False)
        for b in range(bands):
            lo = float(f[b].min()) if f[b].size else 0.0
            hi = float(f[b].max()) if f[b].size else 0.0
            scale = (hi - lo) / 255.0 if hi > lo else 1.0
            q = np.clip(np.rint((f[b] - lo) / scale), 0, 255).astype(np.uint8)
            chunks.append(struct.pack("<dd", lo, scale) + q.tobytes())
        body = b"".join(chunks)
    elif fmt == "png":
        from ukis_pysat_spark.sources.png import write_png

        # signed ints ride PNG's unsigned samples via a lossless bias;
        # the UPSR header keeps the true dtype for the decoder
        if arr.dtype == np.dtype("int16"):
            enc = (arr.astype(np.int32) + 32768).astype(np.uint16)
        elif arr.dtype == np.dtype("int8"):
            enc = (arr.astype(np.int16) + 128).astype(np.uint8)
        else:
            enc = arr
        if enc.dtype not in (np.dtype("uint8"), np.dtype("uint16")) or bands > 4:
            raise ValueError(
                f"png payload needs (u)int8/(u)int16 with <=4 bands, got {arr.dtype} x{bands}"
            )
        body = write_png(enc)
    else:
        raise ValueError(f"unknown fmt {fmt!r}")
    return header + body


def encode_chunks(arr: np.ndarray, fmt: str = "raw") -> tuple[bytes, np.ndarray]:
    """(header bytes, body uint8 array) without materializing one joined
    bytes object — an Arrow stage (operators/arrowio.py) takes the tuple
    as one payload and copies both parts straight into its output
    buffer, so the raw path costs ZERO payload copies here (the body is
    a view of the input array)."""
    arr = promote_3d(np.ascontiguousarray(arr))
    if np.dtype(arr.dtype.name) not in _DTYPE_CODE:
        raise ValueError(f"unsupported dtype {arr.dtype}")
    dt = arr.dtype.newbyteorder("<")
    bands, rows, cols = arr.shape
    header = make_header(fmt, arr.dtype.name, bands, rows, cols)
    if fmt == "raw":
        body = arr.astype(dt, copy=False).view(np.uint8).reshape(-1)
    elif fmt in ("rawz", "q8", "png"):
        # compressed/lossy bodies are produced by the scalar encoder
        # (compression materializes a copy regardless)
        body = np.frombuffer(encode(arr, fmt), dtype=np.uint8)[HEADER_SIZE:]
    else:
        raise ValueError(f"unknown fmt {fmt!r}")
    return header, body


def decode(payload: bytes | bytearray | memoryview, dimorder: str = "first") -> np.ndarray:
    """Decode payload bytes back to a pixel array.

    dimorder='first' -> (bands, rows, cols) (storage order);
    dimorder='last'  -> (rows, cols, bands) view — the reference's
    presentation-layer choice (raster.py:42-45,76-82); storage is always
    band-first."""
    arr = _decode_first(payload)
    if dimorder == "first":
        return arr
    if dimorder == "last":
        return arr.transpose(1, 2, 0)
    raise TypeError("dimorder for bands or channels must be either 'first' or 'last'.")


def _decode_first(payload) -> np.ndarray:
    """Decode payload bytes back to a (bands, rows, cols) array.

    Accepts anything exposing the buffer protocol (bytes, memoryview,
    pyarrow.Buffer) — the raw path is fully zero-copy: the returned
    array is a read-only view over the input buffer."""
    payload = memoryview(payload)
    magic, version, fmt_code, dtype_code, ndim, bands, _, rows, cols = _HEADER.unpack_from(
        payload, 0
    )
    if magic != MAGIC or version != VERSION or ndim != 3:
        raise ValueError("bad UPSR payload header")
    dtype = np.dtype(_DTYPES[dtype_code]).newbyteorder("<")
    body = payload[HEADER_SIZE:]
    fmt = FMT_NAMES[fmt_code]
    if fmt == "raw":
        arr = np.frombuffer(body, dtype=dtype, count=bands * rows * cols)
        return arr.reshape(bands, rows, cols)
    if fmt == "rawz":
        arr = np.frombuffer(zlib.decompress(body), dtype=dtype, count=bands * rows * cols)
        return arr.reshape(bands, rows, cols)
    if fmt == "q8":
        out = np.empty((bands, rows, cols), dtype=np.float32)
        off = 0
        plane = rows * cols
        for b in range(bands):
            lo, scale = struct.unpack_from("<dd", body, off)
            off += 16
            q = np.frombuffer(body, dtype=np.uint8, count=plane, offset=off)
            off += plane
            out[b] = (q.astype(np.float32) * np.float32(scale) + np.float32(lo)).reshape(
                rows, cols
            )
        return out
    if fmt == "png":
        from ukis_pysat_spark.sources.png import read_png

        arr, _ = read_png(bytes(body))
        want = np.dtype(_DTYPES[dtype_code])
        if want == np.dtype("int16"):  # undo the signed-int encode bias
            arr = (arr.astype(np.int32) - 32768).astype(np.int16)
        elif want == np.dtype("int8"):
            arr = (arr.astype(np.int16) - 128).astype(np.int8)
        if arr.shape != (bands, rows, cols) or arr.dtype != want:
            raise ValueError(
                f"png body {arr.shape}/{arr.dtype} disagrees with header "
                f"({bands},{rows},{cols})/{want}"
            )
        return arr
    raise ValueError(f"unknown fmt code {fmt_code}")


def peek_shape(payload: bytes) -> tuple[int, int, int]:
    """(bands, rows, cols) without decoding the body."""
    _, _, _, _, _, bands, _, rows, cols = _HEADER.unpack_from(bytes(payload[:HEADER_SIZE]), 0)
    return bands, rows, cols


def minimum_dtype(arr: np.ndarray) -> str:
    """Minimal dtype that represents every value — the semantics of
    rasterio.dtypes.get_minimum_dtype used by the reference's
    write_to_file(dtype='min') (reference raster.py:555-556): range
    checking picks the smallest unsigned/signed integer type for
    integer-valued data, float32/float64 otherwise."""
    a = np.asarray(arr)
    if a.size == 0:
        return "uint8"
    native_int = np.issubdtype(a.dtype, np.integer)
    if native_int:
        # exact integer bounds (no float round-trip: float(2**64-1) would
        # overshoot the uint64 ceiling and mis-raise)
        lo, hi = int(a.min()), int(a.max())
    else:
        lo, hi = float(a.min()), float(a.max())
    is_int = native_int or bool(np.all(np.mod(a, 1) == 0))
    if is_int:
        if lo >= 0:
            if hi <= 255:
                return "uint8"
            if hi <= 65535:
                return "uint16"
            if hi <= 4294967295:
                return "uint32"
            if hi <= 18446744073709551615:
                return "uint64"
        else:
            if lo >= -32768 and hi <= 32767:
                return "int16"
            if lo >= -2147483648 and hi <= 2147483647:
                return "int32"
            if lo >= -(2**63) and hi <= 2**63 - 1:
                return "int64"
        raise ValueError(
            f"no integer dtype can represent range [{lo}, {hi}]; cast "
            "explicitly (e.g. to float64) before dtype='min'"
        )
    if -3.4028235e38 <= lo and hi <= 3.4028235e38:
        return "float32"
    return "float64"


def psnr(reference: np.ndarray, test: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB (inf when identical).

    Peak = dynamic range of the reference array, the convention used by
    the pixel-fidelity gate (PSNR >= 40 dB for lossy codecs).
    """
    ref = reference.astype(np.float64)
    mse = float(np.mean((ref - test.astype(np.float64)) ** 2))
    if mse == 0.0:
        return float("inf")
    peak = float(ref.max() - ref.min())
    if peak <= 0:
        peak = 1.0
    return 10.0 * np.log10(peak * peak / mse)
