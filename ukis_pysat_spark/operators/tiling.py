"""Sliding-window tiling — the engine's flatMap/explode.

Reproduces the reference's ``Image.get_tiles``/``get_subset`` semantics
(ukis_pysat/raster.py:485-519) exactly:

- offsets enumerate ``product(range(0, cols, width), range(0, rows,
  height))`` — **columns outer, rows inner**, so
  ``tile_id = col_idx * ceil(rows/height) + row_idx``;
- each window is ``(col_off-overlap, row_off-overlap, width+2*overlap,
  height+2*overlap)`` intersected with the full-array window, i.e.
  negative offsets clamp to 0 and edge windows shrink;
- bounds follow rasterio.windows.bounds (raster.py:515):
  ``left = c + col_off*a; top = f + row_off*e; right = left + tw*a;
  bottom = top + th*e`` for the GDAL affine (a,b,c,d,e,f).

Two physical strategies, chosen by what the query needs:

``tile_windows``   pure relational (sequence + posexplode + greatest/
                   least).  Window geometry only — **no pixel decode, no
                   Python** — whole-stage-codegen'd JVM expressions, and
                   the ``bytes`` column is never read (column pruning
                   reaches the parquet scan).  Use for counting, geometry,
                   and joining tiles spatially.

``tile_pixels``    one row-wise Arrow stage (operators/arrowio.py) that
                   decodes each image once, slices every window from the
                   in-memory array and emits encoded tile payloads.  One decode per image per
                   stage (the reference instead re-materializes a GTiff
                   after every op, raster.py:189-213).

Golden invariants (reference tests/test_raster.py:362-375): a 679x764
image at (5,5,1) yields 20,808 windows; window 2578 = (79,649,7,7) with
bounds (11.903960582768779, 51.45624717410995, 11.904589403469808,
51.45687599481152).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

from ukis_pysat_spark import codec
from ukis_pysat_spark.operators import arrowio

TILE_PIXELS_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("tile_id", pa.int64()),
        ("col_off", pa.int32()),
        ("row_off", pa.int32()),
        ("tw", pa.int32()),
        ("th", pa.int32()),
        ("left", pa.float64()),
        ("bottom", pa.float64()),
        ("right", pa.float64()),
        ("top", pa.float64()),
        ("px", pa.binary()),
        ("caption", pa.string()),
    ]
)


def _clip(off0: Column, full: Column, size: int, overlap: int) -> tuple[Column, Column]:
    """Intersection with the bounding window (raster.py:497-505)."""
    start = F.greatest(off0 - F.lit(overlap), F.lit(0))
    end = F.least(off0 - F.lit(overlap) + F.lit(size + 2 * overlap), full)
    return start, end - start


def tile_windows(
    images: DataFrame, width: int = 256, height: int = 256, overlap: int = 0
) -> DataFrame:
    """Relational tile-window enumeration (no pixel decode).

    Input needs columns (image_id, w, h, transform); output one row per
    window with deterministic tile_id matching the reference enumeration.
    """
    n_row_tiles = F.ceil(F.col("h") / F.lit(height)).cast("long")
    df = (
        images.select("image_id", "w", "h", "transform")
        .select(
            "image_id",
            "w",
            "h",
            "transform",
            n_row_tiles.alias("_nrt"),
            F.posexplode(F.sequence(F.lit(0), F.col("w") - 1, F.lit(width))).alias(
                "col_idx", "col_off0"
            ),
        )
        .select(
            "*",
            F.posexplode(F.sequence(F.lit(0), F.col("h") - 1, F.lit(height))).alias(
                "row_idx", "row_off0"
            ),
        )
    )
    col_off, tw = _clip(F.col("col_off0"), F.col("w"), width, overlap)
    row_off, th = _clip(F.col("row_off0"), F.col("h"), height, overlap)
    a = F.get("transform", 0)
    c = F.get("transform", 2)
    e = F.get("transform", 4)
    f = F.get("transform", 5)
    left = c + col_off.cast("double") * a
    top = f + row_off.cast("double") * e
    return df.select(
        "image_id",
        (F.col("col_idx").cast("long") * F.col("_nrt") + F.col("row_idx")).alias("tile_id"),
        col_off.cast("int").alias("col_off"),
        row_off.cast("int").alias("row_off"),
        tw.cast("int").alias("tw"),
        th.cast("int").alias("th"),
        left.alias("left"),
        (top + th.cast("double") * e).alias("bottom"),
        (left + tw.cast("double") * a).alias("right"),
        top.alias("top"),
    )


def enumerate_windows(w: int, h: int, width: int, height: int, overlap: int) -> np.ndarray:
    """numpy mirror of the window enumeration: rows of
    (tile_id, col_off, row_off, tw, th).  Used by the pixel path and by
    test oracles; must stay in lockstep with tile_windows()."""
    col_offs = np.arange(0, w, width, dtype=np.int64)
    row_offs = np.arange(0, h, height, dtype=np.int64)
    gx, gy = np.meshgrid(col_offs, row_offs, indexing="ij")  # cols outer
    co = gx.ravel()
    ro = gy.ravel()
    tile_id = np.arange(co.size, dtype=np.int64)
    c0 = np.maximum(co - overlap, 0)
    r0 = np.maximum(ro - overlap, 0)
    c1 = np.minimum(co - overlap + width + 2 * overlap, w)
    r1 = np.minimum(ro - overlap + height + 2 * overlap, h)
    return np.column_stack([tile_id, c0, r0, c1 - c0, r1 - r0])


def tile_pixels(
    images: DataFrame,
    width: int = 256,
    height: int = 256,
    overlap: int = 0,
    band: int | None = None,
    out_fmt: str = "raw",
) -> DataFrame:
    """Pixel-emitting tiling: decode once per image, slice every window,
    emit encoded tile payloads.

    Physical strategy: one row-wise Arrow stage — tile payloads are
    written into ONE contiguous uint8 buffer per (image, window-shape)
    group (header broadcast + strided body copy, zero per-tile Python)
    and handed to the stage's output buffer as packed payloads.

    band=None keeps all bands; band=k extracts a single band like the
    reference's get_subset(tile, band) (raster.py:507-519).
    """

    def encode_group(arr, sub, th, tw, bands, dt) -> arrowio.Packed:
        """The encoded tiles of one window-shape group."""
        view = np.lib.stride_tricks.sliding_window_view(arr, (th, tw), axis=(1, 2))
        block = view[:, sub[:, 2], sub[:, 1]]  # (bands, n, th, tw)
        block = block.transpose(1, 0, 2, 3).astype(dt, copy=False)
        n = sub.shape[0]
        if out_fmt == "raw":
            header = codec.make_header("raw", str(arr.dtype.name), bands, th, tw)
            hlen = len(header)
            sz = bands * th * tw * dt.itemsize
            out = np.empty((n, hlen + sz), dtype=np.uint8)
            out[:, :hlen] = np.frombuffer(header, dtype=np.uint8)
            out[:, hlen:] = np.ascontiguousarray(block).view(np.uint8).reshape(n, sz)
            return arrowio.Packed(out.reshape(-1), hlen + sz)
        # compressed/lossy formats (rawz/q8): per-tile encode; payload
        # sizes differ per tile, so the per-tile lengths ride along
        bufs = [codec.encode(np.ascontiguousarray(block[j]), out_fmt) for j in range(n)]
        sizes = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=n)
        return arrowio.Packed(np.frombuffer(b"".join(bufs), dtype=np.uint8), sizes)

    def row_fn(row: dict):
        arr = codec.decode(row["bytes"])
        a, _, c, _, e, f = row["transform"][:6]
        wins = enumerate_windows(row["w"], row["h"], width, height, overlap)
        src = arr if band is None else arr[band : band + 1]
        bands = src.shape[0]
        dt = src.dtype.newbyteorder("<")
        # group windows by clipped shape (at most 4 groups)
        shape_key = wins[:, 4] * np.int64(1 << 32) + wins[:, 3]
        order = np.argsort(shape_key, kind="stable")
        wins = wins[order]
        shape_key = shape_key[order]
        starts = np.flatnonzero(np.r_[True, shape_key[1:] != shape_key[:-1]])
        ends = np.r_[starts[1:], wins.shape[0]]
        for s, epos in zip(starts, ends):
            sub = wins[s:epos]
            th, tw = int(sub[0, 4]), int(sub[0, 3])
            left = c + sub[:, 1] * a
            top = f + sub[:, 2] * e
            yield {
                "image_id": row["image_id"],
                "caption": row["caption"],
                "tile_id": sub[:, 0],
                "col_off": sub[:, 1],
                "row_off": sub[:, 2],
                "tw": sub[:, 3],
                "th": sub[:, 4],
                "left": left,
                "bottom": top + sub[:, 4] * e,
                "right": left + sub[:, 3] * a,
                "top": top,
                "px": encode_group(src, sub, th, tw, bands, dt),
            }

    cols = ["image_id", "bytes", "w", "h", "transform", "caption"]
    return arrowio.map_rows(images.select(*cols), row_fn, TILE_PIXELS_SCHEMA)
