"""Raster write sinks (reference S4, write_to_file, raster.py:535-580).

The reference casts the in-memory array (including the ``'min'``
minimal-dtype choice, raster.py:555-556) and writes one GTiff with a
driver/compression profile.  The engine's sink is a table write: the
payload is cast + re-encoded per row in one row-wise Arrow stage
(operators/arrowio.py), then the rows land in Parquet (zstd) — or any
table format the caller points at.
Payload-level compression maps to the codec's ``rawz`` format; columnar
compression is the Parquet codec.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from ukis_pysat_spark import codec
from ukis_pysat_spark.operators import arrowio
from ukis_pysat_spark.operators.arrowio import IMAGES_SCHEMA, META_COLS as _META_COLS


def cast_images(images: DataFrame, dtype: str = "min", out_fmt: str | None = None) -> DataFrame:
    """Cast every payload to `dtype` ('min' = smallest dtype representing
    the values, per image — reference raster.py:555-556) and re-encode,
    updating the dtype/fmt metadata columns.  One decode+encode per row.
    """

    def row_fn(row: dict):
        arr = codec.decode(row["bytes"])
        dt = codec.minimum_dtype(arr) if dtype == "min" else dtype
        out = arr.astype(np.dtype(dt), copy=False)
        fmt = out_fmt or row["fmt"]
        yield dict(row, bytes=codec.encode_chunks(out, fmt), dtype=str(out.dtype), fmt=fmt)

    return arrowio.map_rows(images.select(*_META_COLS), row_fn, IMAGES_SCHEMA)


def write_images(
    images: DataFrame,
    path: str,
    dtype: str = "min",
    out_fmt: str | None = None,
    mode: str = "overwrite",
    compression: str = "zstd",
    partition_by: list[str] | None = None,
) -> None:
    """Sink: cast (incl. 'min') + encode + Parquet write.

    On a catalog-backed cluster swap the final write for
    ``df.writeTo(table).append()`` — everything upstream is unchanged.
    """
    out = cast_images(images, dtype=dtype, out_fmt=out_fmt)
    writer = out.write.mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


# --------------------------------------------------------------------------
# GeoTIFF sink/source (reference S4, write_to_file driver='GTiff' +
# compress, raster.py:535-580): the engine's payloads leave as real
# GeoTIFF files — one strip-organized GTiff per image row, written by
# sources/geotiff.write_geotiff (pure-numpy container writer, TIFF 6.0
# / GeoTIFF 1.1).  The stages are Arrow stages (operators/arrowio.py) or
# mapInPandas; nothing collects to the driver, so the sink scales with
# partitions.

_GTIFF_SCHEMA = pa.schema(
    [("image_id", pa.string()), ("caption", pa.string()),
     ("n_bytes", pa.int64()), ("tiff", pa.binary())]
)
_GTIFF_COLS = ["image_id", "bytes", "caption", "transform", "crs", "nodata"]


def to_geotiff(
    images: DataFrame,
    dtype: str | None = None,
    compression: str = "deflate",
    predictor: int | str = "auto",
) -> DataFrame:
    """images table -> (image_id, caption, n_bytes, tiff) rows, each
    `tiff` a complete GeoTIFF encoding of the row's payload + geo
    metadata.  dtype: None keeps the stored dtype, 'min' picks the
    smallest representing dtype per image (reference raster.py:555),
    anything else casts.  Composable: write the result to Parquet /
    Iceberg for a blob table, or hand it to write_geotiff_files."""
    from ukis_pysat_spark.sources.geotiff import write_geotiff

    def row_fn(row: dict):
        arr = codec.decode(row["bytes"])
        if dtype == "min":
            arr = arr.astype(codec.minimum_dtype(arr), copy=False)
        elif dtype is not None:
            arr = arr.astype(np.dtype(dtype), copy=False)
        tiff = write_geotiff(
            arr,
            transform=row["transform"],
            crs=row["crs"],
            nodata=row["nodata"],
            compression=compression,
            predictor=predictor,
        )
        yield {"image_id": row["image_id"], "caption": row["caption"],
               "n_bytes": len(tiff), "tiff": tiff}

    return arrowio.map_rows(images.select(*_GTIFF_COLS), row_fn, _GTIFF_SCHEMA)


def from_geotiff(blobs: DataFrame, tiff_col: str = "tiff", fmt: str = "raw") -> DataFrame:
    """(image_id, caption, tiff) blob rows -> images table: parse each
    GeoTIFF (sources/geotiff.read_geotiff), re-encode with the engine
    codec, rebuild the geo columns from the parsed tags.  The read twin
    of to_geotiff — to_geotiff |> from_geotiff is a lossless loop.
    Each blob enters as a zero-copy buffer view (operators/arrowio.py)."""
    import pyspark.sql.functions as F

    from ukis_pysat_spark.datagen import phash64
    from ukis_pysat_spark.sources.geotiff import read_geotiff

    def row_fn(row: dict):
        arr, meta = read_geotiff(bytes(row["bytes"]))
        t = meta["transform"] or [1.0, 0.0, 0.0, 0.0, -1.0, 0.0]
        lon0, lat0 = t[2], t[5]
        lon1 = lon0 + arr.shape[2] * t[0]
        lat1 = lat0 + arr.shape[1] * t[4]
        yield {
            "image_id": row["image_id"],
            "w": int(arr.shape[2]),
            "h": int(arr.shape[1]),
            "fmt": fmt,
            "caption": row.get("caption") or row["image_id"],
            "phash": phash64(arr),
            "bands": int(arr.shape[0]),
            "dtype": str(arr.dtype),
            "crs": meta["crs"] or "EPSG:4326",
            "transform": [float(v) for v in t],
            "nodata": meta["nodata"] if meta["nodata"] is not None else 0.0,
            "footprint_lon": [lon0, lon1, lon1, lon0, lon0],
            "footprint_lat": [lat0, lat0, lat1, lat1, lat0],
            "platform": "",
            "bytes": codec.encode_chunks(arr, fmt),
        }

    src = blobs.select(
        "image_id",
        (F.col("caption") if "caption" in blobs.columns else F.col("image_id")).alias("caption"),
        F.col(tiff_col).alias("bytes"),
    )
    return arrowio.map_rows(src, row_fn, IMAGES_SCHEMA)


def write_geotiff_files(
    images: DataFrame,
    out_dir: str,
    dtype: str | None = None,
    compression: str = "deflate",
    predictor: int | str = "auto",
) -> DataFrame:
    """Sink: one `<image_id>.tif` per row under out_dir, written from
    the executors (posix paths here; on a cluster point out_dir at a
    fuse/NFS mount, or keep the blobs in a table via to_geotiff and
    let the object store take them).  Returns the (image_id, path,
    n_bytes) manifest — an action on it performs the writes."""
    import os

    import pandas as pd

    blobs = to_geotiff(images, dtype=dtype, compression=compression, predictor=predictor)

    def run(batches):
        os.makedirs(out_dir, exist_ok=True)
        for pdf in batches:
            paths = []
            for r in pdf.itertuples(index=False):
                p = os.path.join(out_dir, f"{r.image_id}.tif")
                with open(p, "wb") as fh:
                    fh.write(r.tiff)
                paths.append(p)
            yield pd.DataFrame(
                {"image_id": pdf["image_id"], "path": paths, "n_bytes": pdf["n_bytes"]}
            )

    return blobs.mapInPandas(run, schema="image_id string, path string, n_bytes long")
