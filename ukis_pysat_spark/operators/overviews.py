"""Overview pyramids: per-image downsampled levels (GDAL
BuildOverviews semantics) as one 1->N Arrow emission.

The reference writes full-resolution GTiffs only; GDAL users call
``BuildOverviews([2, 4, 8], 'AVERAGE')`` before serving tiles.  Here
each image row fans out to one row per factor in one row-wise Arrow
stage (operators/arrowio.py): block sums and valid-pixel counts come from two
``np.add.reduceat`` passes (the resize_images 'area' kernel made
nodata-aware), the affine transform scales by the factor, and
partial edge blocks average over their real pixel count (GDAL ceil
sizing).

nodata handling: a block's value is the mean of its VALID pixels;
all-nodata blocks emit the nodata value itself — so pyramids of
nodata-striped scenes keep their masks instead of bleeding the fill
value into the imagery.

Scale: embarrassingly parallel per image; each level is ~1/f^2 of the
source payload, so the full pyramid adds ~1/3 of the input bytes.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from ukis_pysat_spark import codec
from ukis_pysat_spark.operators import arrowio

OVERVIEW_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("level", pa.int32()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("bands", pa.int32()),
        ("dtype", pa.string()),
        ("crs", pa.string()),
        ("transform", pa.list_(pa.float64())),
        ("nodata", pa.float64()),
    ]
)


def _downsample(arr: np.ndarray, f: int, nod):
    """Nodata-aware area downsample by integer factor f (ceil sizing)."""
    nb, h, w = arr.shape
    re = np.arange(0, h, f)
    ce = np.arange(0, w, f)
    if nod is None:
        sums = np.add.reduceat(np.add.reduceat(arr, re, axis=1), ce, axis=2)
        cnt = np.outer(
            np.diff(np.append(re, h)), np.diff(np.append(ce, w))
        ).astype(np.float64)
        return sums / cnt[None, :, :]
    valid = arr != nod
    sums = np.add.reduceat(
        np.add.reduceat(np.where(valid, arr, 0.0), re, axis=1), ce, axis=2
    )
    cnt = np.add.reduceat(
        np.add.reduceat(valid.astype(np.float64), re, axis=1), ce, axis=2
    )
    return np.where(cnt > 0, sums / np.maximum(cnt, 1.0), nod)


def build_overviews(
    images: DataFrame,
    factors: tuple[int, ...] = (2, 4, 8),
    fmt: str = "raw",
) -> DataFrame:
    """One output row per (image, factor): payload area-downsampled by
    the factor (nodata-aware block means, GDAL ceil sizing), transform
    scaled accordingly, `level` = the factor.  Output dtype is float64
    (block means are fractional; cast with sinks.cast_images when an
    integer pyramid is wanted)."""
    if not factors or any(int(f) < 2 for f in factors):
        raise ValueError("factors must all be >= 2")
    factors = tuple(int(f) for f in factors)

    def rows_fn(row: dict):
        arr = codec.decode(row["bytes"]).astype(np.float64)
        nb, h, w = arr.shape
        a, _b, c, _d, e, f_ = row["transform"]
        nod = row["nodata"]
        for f in factors:
            out = _downsample(arr, f, nod)
            yield {
                "image_id": row["image_id"],
                "level": f,
                "w": out.shape[2],
                "h": out.shape[1],
                "fmt": fmt,
                "bands": nb,
                "dtype": "float64",
                "crs": row["crs"],
                "transform": [a * f, 0.0, c, 0.0, e * f, f_],
                "nodata": nod,
                "bytes": codec.encode_chunks(out, fmt),
            }

    return arrowio.map_rows(
        images.select("image_id", "bytes", "transform", "crs", "nodata"),
        rows_fn,
        OVERVIEW_SCHEMA,
    )
