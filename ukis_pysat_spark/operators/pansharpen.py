"""Pansharpening (the ``gdal_pansharpen`` workflow, weighted Brovey):
fuse a high-resolution panchromatic band with a lower-resolution
multispectral stack on the pan grid.

Formula (GDAL's weighted Brovey):

    pseudo_pan(r, c) = sum_b weight_b * ms_b(r//f, c//f)
    out_b(r, c)      = ms_b(r//f, c//f) * pan(r, c) / pseudo_pan(r, c)

with ``f`` the integer resolution ratio (pan pixels per ms pixel) and
nearest-neighbor upsampling of the ms stack (GDAL defaults to more
elaborate resampling; nearest keeps the kernel exact and the warp
operator supplies bilinear/cubic upsampling when wanted upstream).

Pixels where pan or any ms band is nodata, or where pseudo_pan == 0,
emit nodata.

Physical strategy: ONE payload equi-join on image_id (both sides
pruned to payload + grid columns) and one Arrow stage — the same
pattern as change detection; embarrassingly parallel per scene pair.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from ukis_pysat_spark import codec
from ukis_pysat_spark.operators import arrowio

def pansharpen(
    ms: DataFrame,
    pan: DataFrame,
    weights: list[float] | None = None,
    out_nodata: float = 0.0,
) -> DataFrame:
    """Weighted-Brovey pansharpening of each (ms, pan) scene pair
    joined on image_id.  `weights` defaults to equal 1/bands.  The pan
    grid must be an integer multiple of the ms grid (same origin);
    output rides the pan grid with one band per ms band, float64."""
    j = (
        ms.select(
            "image_id",
            F.col("bytes").alias("bytes_ms"),
            F.col("transform").alias("transform_ms"),
            F.col("nodata").alias("nodata_ms"),
        )
        .join(
            pan.select(
                "image_id",
                F.col("bytes").alias("bytes_pan"),
                "transform",
                "crs",
                F.col("nodata").alias("nodata_pan"),
            ),
            "image_id",
        )
    )

    def rows_fn(row: dict):
        arr_ms = codec.decode(row["bytes_ms"]).astype(np.float64)
        arr_pan = codec.decode(row["bytes_pan"]).astype(np.float64)
        pan_plane = arr_pan[0]
        nb, mh, mw = arr_ms.shape
        ph, pw = pan_plane.shape
        if ph % mh or pw % mw or (ph // mh) != (pw // mw):
            raise ValueError(
                f"pan grid {ph}x{pw} is not an integer multiple of the "
                f"ms grid {mh}x{mw}"
            )
        f = ph // mh
        t_ms, t_pan = row["transform_ms"], row["transform"]
        if not (
            abs(t_ms[0] - t_pan[0] * f) < 1e-9 * abs(t_ms[0])
            and t_ms[2] == t_pan[2]
            and t_ms[5] == t_pan[5]
        ):
            raise ValueError(
                "pan/ms transforms disagree (origin or resolution ratio)"
            )
        wts = (
            np.full(nb, 1.0 / nb)
            if weights is None
            else np.asarray(weights, dtype=np.float64)
        )
        if wts.size != nb:
            raise ValueError(f"{wts.size} weights for {nb} ms bands")
        up = np.repeat(np.repeat(arr_ms, f, axis=1), f, axis=2)
        pseudo = np.einsum("b,bij->ij", wts, up)
        valid = pseudo != 0.0
        if row["nodata_ms"] is not None:
            valid &= ~(up == row["nodata_ms"]).any(axis=0)
        if row["nodata_pan"] is not None:
            valid &= pan_plane != row["nodata_pan"]
        with np.errstate(divide="ignore", invalid="ignore"):
            ratio = np.where(valid, pan_plane / pseudo, 0.0)
        out = np.where(valid[None, :, :], up * ratio[None, :, :], out_nodata)
        yield {
            "image_id": row["image_id"],
            "w": pw,
            "h": ph,
            "fmt": "raw",
            "bands": nb,
            "dtype": "float64",
            "crs": row["crs"],
            "transform": list(t_pan),
            "nodata": out_nodata,
            "bytes": codec.encode_chunks(out, "raw"),
        }

    return arrowio.map_rows(
        j.select("image_id", "bytes_ms", "transform_ms", "nodata_ms",
                 "bytes_pan", "transform", "crs", "nodata_pan"),
        rows_fn,
        arrowio.RASTER_SCHEMA,
    )
