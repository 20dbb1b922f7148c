"""Proximity raster (the ``gdal_proximity`` workflow): per-pixel
Euclidean distance to the nearest TARGET pixel, computed exactly.

GDAL users run gdal_proximity on the reference's masks (e.g. distance
to the nearest water/cloud pixel feeding a classifier); here it is a
:data:`~ukis_pysat_spark.operators.transforms.TransformFn`, so it
chains inside the same single ``mapInArrow`` stage as pixel_math /
sieve / terrain kernels — embarrassingly parallel per image, zero
shuffle at any scale.

Algorithm (exact, fully vectorized):

1. vertical pass — two row sweeps give each pixel the exact distance
   to the nearest target IN ITS COLUMN (O(h*w));
2. horizontal pass — ``D2(r, c) = min_d (d^2 + vdist(r, c+d)^2)`` over
   the shifted planes for ``|d| <= md``, where ``md`` is the maxdist
   bound in columns.  This decomposition is the standard exact
   two-pass squared EDT; bounding ``md`` costs nothing in accuracy for
   any pixel whose true distance is <= maxdist (a nearer target can
   never sit further than maxdist columns away).

Cost is O(h * w * md) elementwise mins.  At 100 TB the realistic use
is a bounded search radius (the GDAL ``-maxdist`` contract: beyond it
the fill value is emitted); leaving ``maxdist=None`` scans the full
width and is O(h * w^2) — exact but only sensible on moderate tiles.

Distances are sqrt of integer squared sums — bit-exact across engines
(IEEE sqrt is correctly rounded), which the driver's value-oracle
exploits.
"""

from __future__ import annotations

import math
import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from ukis_pysat_spark import codec
from ukis_pysat_spark.operators import arrowio


def _edt_d2(tgt: np.ndarray, md: int) -> np.ndarray:
    """Exact squared EDT to the True cells of `tgt`, horizontal search
    bounded at `md` columns (see module docstring)."""
    h, w = tgt.shape
    inf = float(h + w + 1)
    vd = np.where(tgt, 0.0, inf)
    for r in range(1, h):
        np.minimum(vd[r], vd[r - 1] + 1.0, out=vd[r])
    for r in range(h - 2, -1, -1):
        np.minimum(vd[r], vd[r + 1] + 1.0, out=vd[r])
    v2 = vd * vd
    d2 = v2.copy()
    for d in range(1, min(md, w - 1) + 1):
        dd = float(d * d)
        np.minimum(d2[:, d:], v2[:, :-d] + dd, out=d2[:, d:])
        np.minimum(d2[:, :-d], v2[:, d:] + dd, out=d2[:, :-d])
    return d2


def _nearest_valid(valid: np.ndarray, maxdist_px: float | None):
    """Exact nearest-valid-pixel transport: returns (src_r, src_c, d2)
    per pixel, argmin over (d2, src_r, src_c) lexicographically — a
    total, partitioning-independent tie rule an oracle can replay.
    Same two-pass decomposition as the EDT, carrying the winner's
    coordinates through both passes."""
    h, w = valid.shape
    inf = float(h + w + 1)
    # vertical: nearest valid row per column, ties -> smaller row
    vd = np.where(valid, 0.0, inf)
    vr = np.where(valid, np.arange(h)[:, None], -1).astype(np.float64)
    for r in range(1, h):
        better = vd[r - 1] + 1.0 < vd[r]  # strict: up wins ties later
        vd[r] = np.where(better, vd[r - 1] + 1.0, vd[r])
        vr[r] = np.where(better, vr[r - 1], vr[r])
    for r in range(h - 2, -1, -1):
        better = vd[r + 1] + 1.0 < vd[r]  # strict: smaller row kept on tie
        vd[r] = np.where(better, vd[r + 1] + 1.0, vd[r])
        vr[r] = np.where(better, vr[r + 1], vr[r])
    v2 = vd * vd
    # horizontal: argmin over (d2, src_r, src_c); src_c = c + d
    d2 = v2.copy()
    src_r = vr.copy()
    src_c = np.broadcast_to(
        np.arange(w, dtype=np.float64)[None, :], (h, w)
    ).copy()
    src_c[vr < 0] = -1.0

    def consider(cand_d2, cand_r, cand_c, sl):
        cur_d2, cur_r, cur_c = d2[:, sl], src_r[:, sl], src_c[:, sl]
        take = (cand_d2 < cur_d2) | (
            (cand_d2 == cur_d2)
            & ((cand_r < cur_r) | ((cand_r == cur_r) & (cand_c < cur_c)))
        )
        d2[:, sl] = np.where(take, cand_d2, cur_d2)
        src_r[:, sl] = np.where(take, cand_r, cur_r)
        src_c[:, sl] = np.where(take, cand_c, cur_c)

    md = w - 1 if maxdist_px is None else min(int(np.ceil(maxdist_px)), w - 1)
    cols = np.arange(w, dtype=np.float64)
    for d in range(1, md + 1):
        dd = float(d * d)
        consider(v2[:, :-d] + dd, vr[:, :-d],
                 np.broadcast_to(cols[:-d], (h, w - d)), slice(d, None))
        consider(v2[:, d:] + dd, vr[:, d:],
                 np.broadcast_to(cols[d:], (h, w - d)), slice(None, w - d))
    return src_r.astype(np.int64), src_c.astype(np.int64), d2


def fillnodata(maxdist: float | None = None):
    """TransformFn (gdal.FillNodata workflow, nearest-neighbor
    variant): every nodata pixel takes the value of its nearest valid
    pixel (Euclidean; ties broken by smaller (row, col) — exact and
    deterministic), searching up to `maxdist` pixels.  Pixels with no
    valid pixel in reach stay nodata.  Valid pixels are untouched."""

    def t(arr: np.ndarray, meta: dict):
        nod = meta["nodata"]
        if nod is None:
            return arr, meta
        z = arr.astype(np.float64, copy=True)
        nb, h, w = z.shape
        for b in range(nb):
            plane = z[b]
            valid = plane != nod
            if valid.all() or not valid.any():
                continue
            sr, sc, d2 = _nearest_valid(valid, maxdist)
            dist = np.sqrt(d2)
            ok = (sr >= 0) & (dist <= (maxdist if maxdist is not None else np.inf))
            fill_from = plane[np.clip(sr, 0, h - 1), np.clip(sc, 0, w - 1)]
            z[b] = np.where(valid, plane, np.where(ok, fill_from, nod))
        return z, meta

    return t


def proximity(
    target_values: list[float] | None = None,
    maxdist: float | None = None,
    units: str = "pixel",
    fill: float = -1.0,
):
    """TransformFn: per-band Euclidean distance to the nearest target
    pixel.  Targets are pixels whose value is in `target_values`
    (default: every non-zero pixel — the gdal_proximity default).
    Distances beyond `maxdist` (same units as the output) emit `fill`.
    ``units='geo'`` scales by the pixel size (square pixels required);
    ``'pixel'`` leaves distances in pixel units."""
    if units not in ("pixel", "geo"):
        raise ValueError("units must be 'pixel' or 'geo'")

    def t(arr: np.ndarray, meta: dict):
        a, _, _, _, e, _ = meta["transform"]
        if units == "geo":
            if abs(abs(a) - abs(e)) > 1e-12 * max(abs(a), abs(e)):
                raise ValueError(
                    "units='geo' needs square pixels; warp to a square "
                    "grid first"
                )
            scale = abs(a)
        else:
            scale = 1.0
        md_px = None if maxdist is None else maxdist / scale
        z = arr.astype(np.float64, copy=False)
        nb, h, w = z.shape
        out = np.empty((nb, h, w), dtype=np.float64)
        for b in range(nb):
            plane = z[b]
            if target_values is None:
                tgt = plane != 0.0
            else:
                tgt = np.isin(plane, np.asarray(target_values, dtype=np.float64))
            md = w - 1 if md_px is None else min(int(np.ceil(md_px)), w - 1)
            dist = np.sqrt(_edt_d2(tgt, md)) * scale
            # no-target pixels carry the sentinel (> any real distance)
            lim = math.hypot(h, w) * scale if maxdist is None else maxdist
            out[b] = np.where(dist > lim, fill, dist)
        return out, dict(meta, nodata=fill)

    return t


# --- distributed proximity over tiled grids -------------------------------

_STRIP_SCHEMA = pa.schema(
    [("dtx", pa.int32()), ("dty", pa.int32()), ("gr", pa.int64()), ("gc", pa.int64())]
)


def proximity_grid(
    tiles: DataFrame,
    grid_transform: list[float],
    tile: int = 256,
    maxdist: float = 32.0,
    target_values: list[float] | None = None,
    fill: float = -1.0,
    band: int = 0,
) -> DataFrame:
    """Distributed ``proximity`` over a TILED raster grid (mosaic /
    rasterize output): exact Euclidean distance (pixel units) to the
    nearest target pixel anywhere on the GRID, up to `maxdist` —
    row-identical to running :func:`proximity` on the assembled grid.

    Physical strategy (halo exchange): a first ``mapInArrow`` stage
    emits each tile's target pixels that fall within ``k =
    ceil(maxdist)`` of a neighboring tile's edge as (dest tile, global
    coords) rows — O(perimeter * k * target density) per tile, never
    the payload.  The strips aggregate per destination (one shuffle of
    those coordinate rows) and equi-join back onto the tiles, whose
    payloads STAY IN PLACE on their input partitions.  A second Arrow
    stage re-runs the exact EDT on the tile extended by the halo
    margin and crops — any pixel whose true distance is <= maxdist has
    its nearest target inside the margin, so tiled == untiled exactly;
    everything farther emits `fill` in both.

    Requires ``maxdist <= tile`` (one neighbor ring).  `tiles` rows
    need image_id, bytes, transform, nodata aligned to
    `grid_transform`."""
    k = int(math.ceil(maxdist))
    if k > tile:
        raise ValueError("maxdist must be <= tile (one halo ring)")
    ga, gc0 = grid_transform[0], grid_transform[2]
    ge, gf0 = grid_transform[4], grid_transform[5]

    def targets(row: dict):
        arr = codec.decode(row["bytes"])
        plane = arr[min(band, arr.shape[0] - 1)].astype(np.float64)
        if target_values is None:
            return plane != 0.0
        return np.isin(plane, np.asarray(target_values, float))

    def strips_fn(row: dict):
        a, _b, c, _d, e, f_ = row["transform"]
        tx = int(round((c - gc0) / (ga * tile)))
        ty = int(round((f_ - gf0) / (ge * tile)))
        tr, tc = np.nonzero(targets(row))
        gr = tr.astype(np.int64) + ty * tile
        gc = tc.astype(np.int64) + tx * tile
        for dty in (-1, 0, 1):
            for dtx in (-1, 0, 1):
                if dtx == 0 and dty == 0:
                    continue
                # neighbor bbox expanded by k, in global coords
                r0 = (ty + dty) * tile - k
                r1 = (ty + dty) * tile + tile + k
                c0 = (tx + dtx) * tile - k
                c1 = (tx + dtx) * tile + tile + k
                m = (gr >= r0) & (gr < r1) & (gc >= c0) & (gc < c1)
                yield {"dtx": tx + dtx, "dty": ty + dty, "gr": gr[m], "gc": gc[m]}

    strips = (
        arrowio.map_rows(tiles.select("bytes", "transform"), strips_fn, _STRIP_SCHEMA)
        .groupBy("dtx", "dty")
        .agg(
            F.collect_list("gr").alias("halo_r"),
            F.collect_list("gc").alias("halo_c"),
        )
    )

    txc = F.round(
        (F.get("transform", 2) - F.lit(gc0)) / F.lit(ga * tile)
    ).cast("int")
    tyc = F.round(
        (F.get("transform", 5) - F.lit(gf0)) / F.lit(ge * tile)
    ).cast("int")
    joined = (
        tiles.select("image_id", "bytes", "transform", "nodata")
        .withColumn("dtx", txc)
        .withColumn("dty", tyc)
        .join(strips, ["dtx", "dty"], "left")
    )

    def rows_fn(row: dict):
        tgt = targets(row)
        h, w = tgt.shape
        a, _b, c, _d, e, f_ = row["transform"]
        tx, ty = row["dtx"], row["dty"]
        ext = np.zeros((h + 2 * k, w + 2 * k), dtype=bool)
        ext[k : k + h, k : k + w] = tgt
        if row["halo_r"] is not None:
            hr = np.asarray(row["halo_r"], dtype=np.int64) - ty * tile + k
            hc = np.asarray(row["halo_c"], dtype=np.int64) - tx * tile + k
            keep = (hr >= 0) & (hr < h + 2 * k) & (hc >= 0) & (hc < w + 2 * k)
            ext[hr[keep], hc[keep]] = True
        dist = np.sqrt(_edt_d2(ext, k))[k : k + h, k : k + w]
        out = np.where(dist > maxdist, fill, dist)[None, :, :]
        yield {
            "image_id": row["image_id"],
            "bytes": codec.encode_chunks(out, "raw"),
            "w": w,
            "h": h,
            "fmt": "raw",
            "bands": 1,
            "dtype": "float64",
            "crs": "grid",
            "transform": [a, 0.0, c, 0.0, e, f_],
            "nodata": fill,
        }

    return arrowio.map_rows(
        joined.select("image_id", "bytes", "transform", "dtx", "dty", "halo_r", "halo_c"),
        rows_fn,
        arrowio.RASTER_SCHEMA,
    )
