"""Raster -> pixel-table materialization (the ``gdal2xyz`` /
``rasterio.sample`` workflow).

The reference exposes raw arrays for callers to iterate
(ukis_pysat/raster.py:84-102); the tabular equivalent at cluster scale
is "give me every pixel as a row" so plain SQL / joins / ML featurizers
can take over.  ``to_pixels`` emits one row per (band, row, col) with
the pixel-CENTER map coordinates from the affine transform.

Physical strategy: one row-wise Arrow stage (operators/arrowio.py),
zero shuffle.  Per image the (band, r, c, val) columns are built as
whole numpy arrays (C-order broadcasts, no per-pixel Python); output
batches flush on the contract's row bound so worker memory stays flat
regardless of image size.  The op multiplies row count by h*w*bands —
it is an explicit materializer; filter bands or crop first when only a
subset is needed.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from ukis_pysat_spark import codec
from ukis_pysat_spark.operators import arrowio

PIXELS_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("band", pa.int32()),
        ("r", pa.int32()),
        ("c", pa.int32()),
        ("x", pa.float64()),
        ("y", pa.float64()),
        ("val", pa.float64()),
    ]
)


def to_pixels(
    images: DataFrame,
    band: int | None = None,
    drop_nodata: bool = False,
) -> DataFrame:
    """One row per pixel: (image_id, band, r, c, x, y, val) where (x, y)
    is the pixel-center map coordinate ``transform * (c + 0.5, r + 0.5)``
    and ``val`` is the pixel cast to float64.  ``band`` selects a single
    band; ``drop_nodata`` skips rows whose value equals the image's
    nodata."""

    def row_fn(row: dict):
        arr = codec.decode(row["bytes"])
        if band is not None:
            arr = arr[band : band + 1]
        nb, h, w = arr.shape
        a, b_, c0, d_, e, f_ = row["transform"]
        val = arr.reshape(-1).astype(np.float64)
        bidx = np.repeat(
            np.arange(nb, dtype=np.int32)
            if band is None
            else np.array([band], dtype=np.int32),
            h * w,
        )
        rr = np.tile(np.repeat(np.arange(h, dtype=np.int32), w), nb)
        cc = np.tile(np.arange(w, dtype=np.int32), nb * h)
        if drop_nodata and row["nodata"] is not None:
            keep = val != row["nodata"]
            val, bidx, rr, cc = val[keep], bidx[keep], rr[keep], cc[keep]
        rc = rr.astype(np.float64) + 0.5
        cf = cc.astype(np.float64) + 0.5
        yield {
            "image_id": row["image_id"],
            "band": bidx,
            "r": rr,
            "c": cc,
            "x": c0 + cf * a + rc * b_,
            "y": f_ + cf * d_ + rc * e,
            "val": val,
        }

    return arrowio.map_rows(
        images.select("image_id", "bytes", "transform", "nodata"), row_fn, PIXELS_SCHEMA
    )
