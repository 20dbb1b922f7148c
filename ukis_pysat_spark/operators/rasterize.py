"""Rasterize: burn AOI polygons into target image grids (vector->raster).

The inverse of operators/zonal.py and the missing half of the north
rule's raster<->vector axis.  The reference reaches the same semantics
through rasterio: ``Image.mask`` (ukis_pysat/raster.py:113-138) has
rasterio.mask geometry-rasterize the shapes against the scene grid
before applying them.  Here the burn is a distributed plan:

1. ``spatial_join`` (cell index + exact refine) pairs each target grid
   with the AOIs that touch it.
2. Pairs fold to ONE row per target (``collect_list`` of its AOIs) —
   rings are id+vertices only, so the fold shuffle is tiny and AQE
   broadcasts it against the targets table.
3. One Arrow stage per target: allocate the canvas at ``background``,
   and for each AOI reuse zonal's analyzed-ring machinery
   (``_ring_info`` cache, box / convex half-plane / generic PIP window
   masks) to burn the AOI's value into the covered pixel centers.
   The payload leaves through the Arrow-stage output buffer
   (operators/arrowio.py).

Combine rule: overlapping AOIs take the MAXIMUM burn value — unlike
rasterio's document-order last-wins, max is commutative, so the result
is deterministic under any Spark partitioning / fold order.

Closed-boundary center containment throughout (a pixel is burned iff
its center is inside-or-on the ring), matching zonal_stats membership
exactly: ``zonal_stats`` over a rasterized mask reproduces the burn
counts.

Scale: targets never shuffle their payloads (targets here carry no
input payload at all — the canvas is BORN in the Arrow stage); the
only exchanges are the ids-only cell join and the small ring fold.
Output payload is one encoded raster per covered target.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from ukis_pysat_spark import codec
from ukis_pysat_spark.operators import arrowio
from ukis_pysat_spark.operators import spatial_join as sj
from ukis_pysat_spark.operators.zonal import (
    _AoiListView,
    _WinCache,
    _is_lonlat,
)

RASTERIZE_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("bands", pa.int32()),
        ("dtype", pa.string()),
        ("crs", pa.string()),
        ("transform", pa.list_(pa.float64())),
        ("nodata", pa.float64()),
        ("burned", pa.int64()),
    ]
)


def _burn_rows(dtype: str, background: float, fmt: str):
    np_dtype = np.dtype(dtype)

    def factory():
        ring_cache: dict = {}
        win_cache = _WinCache()

        def burn(row: dict):
            w, h = row["w"], row["h"]
            crs = row["crs"]
            lonlat = _is_lonlat(crs)
            tr = row["transform"]
            tkey = (w, h, tr[0], tr[1], tr[2], tr[3], tr[4], tr[5])
            aois, idx = row["aois"]
            # AOIs covering the whole canvas fold to ONE max (max is
            # commutative/associative, so one full-canvas np.maximum
            # replaces per-AOI passes — same final pixels)
            full_max = None
            touched = False
            partials = []  # (win, val) burns on sub-windows
            for i in idx:
                win = win_cache.get(ring_cache, aois, i, crs, tkey, tr, w, h, lonlat)
                if win is None:
                    continue
                touched = True
                val = np_dtype.type(aois.extra[i])
                c0, c1, r0, r1, inside = win
                if inside is None and c0 == 0 and r0 == 0 and c1 == w and r1 == h:
                    full_max = val if full_max is None else max(full_max, val)
                else:
                    partials.append((win, val))
            if not touched:
                return
            canvas = np.full((1, h, w), background, dtype=np_dtype)
            if full_max is not None:
                np.maximum(canvas, full_max, out=canvas)
            for (c0, c1, r0, r1, inside), val in partials:
                target = canvas[0, r0:r1, c0:c1]
                if inside is None:
                    np.maximum(target, val, out=target)
                else:
                    target[inside] = np.maximum(target[inside], val)
            yield {
                "image_id": row["image_id"],
                "bytes": codec.encode_chunks(canvas, fmt),
                "w": w,
                "h": h,
                "fmt": fmt,
                "bands": 1,
                "dtype": dtype,
                "crs": crs,
                "transform": tr,
                "nodata": float(background),
                "burned": int(np.count_nonzero(canvas != background)),
            }

        return burn

    return factory


def rasterize(
    targets: DataFrame,
    aois: DataFrame,
    res: int | None = sj.DEFAULT_RES,
    value_col: str | None = None,
    dtype: str = "int32",
    background: float = 0.0,
    fmt: str = "raw",
) -> DataFrame:
    """Burn AOI polygons into each intersecting target grid.

    targets: image_id, w, h, transform, crs, footprint_lon,
             footprint_lat (the grids to burn into; any payload they
             carry is ignored — the canvas is created fresh)
    aois:    aoi_id, ring_lon, ring_lat (lon/lat degrees), plus
             `value_col` when per-AOI burn values are wanted
             (default burn value 1)

    Returns one images-schema-like row per target touched by >= 1 AOI:
    (image_id, bytes, w, h, fmt, bands=1, dtype, crs, transform,
    nodata=background, burned) where `burned` counts pixels whose
    final value differs from `background`.  Pixels are burned iff
    their CENTER is inside-or-on a ring (closed boundary); overlaps
    resolve to the maximum value (commutative, partitioning-safe)."""
    burn_val = (
        F.col(value_col).cast("double") if value_col else F.lit(1.0)
    )
    # bbox candidate superset, not the exact join (r7): a target emits
    # a canvas iff >= 1 pixel CENTER is inside >= 1 ring (win_cache
    # returns None otherwise), so false candidates burn nothing and
    # never create a row — identical output, no refine machinery
    pairs = sj.candidate_pairs(
        targets.select("image_id", "footprint_lon", "footprint_lat"), aois, res=res
    )
    per_img = (
        pairs.join(
            aois.select(
                "aoi_id", "ring_lon", "ring_lat", burn_val.alias("burn")
            ),
            "aoi_id",
        )
        .groupBy("image_id")
        .agg(
            F.collect_list(
                F.struct("aoi_id", "ring_lon", "ring_lat", "burn")
            ).alias("aois")
        )
    )
    joined = targets.select("image_id", "w", "h", "transform", "crs").join(
        per_img, "image_id"
    )
    return arrowio.map_rows(
        joined,
        _burn_rows(dtype, background, fmt),
        RASTERIZE_SCHEMA,
        views={"aois": lambda col: _AoiListView(col, extra="burn")},
        per_partition=True,
    )
