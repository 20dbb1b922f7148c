"""Zonal statistics: per-(AOI, image, band) pixel aggregates.

The classic EO analytics step the reference leaves to its caller: after
``mask()`` crops a scene to an AOI (ukis_pysat/raster.py:113-138), a
user computes band statistics over the masked pixels.  This operator
fuses the whole chain — footprint x AOI spatial join, window crop,
center-in-polygon mask, per-band masked stats — into one distributed
plan that never materializes masked rasters:

1. ``spatial_join`` (cell index + exact refine) produces the
   (image_id, aoi_id) pair set — the same pair semantics the driver
   hash-gates via ``spatial_box_join`` / ``spatial_quad_join``.
2. Pairs pick up AOI ring geometry and fold to ONE row per image
   (``collect_list`` of its AOIs) — so each image payload crosses the
   join exactly once no matter how many AOIs hit it.  The folded side
   is id+rings only; AQE broadcasts it when small.
3. A single row-wise Arrow stage decodes each image ONCE, and for each
   of its AOIs: bounds the AOI to a pixel window (floor/ceil of the
   geometry bounds, mask_bbox's exact snap rule), tests window pixel
   CENTERS against the ring (closed-boundary PIP; axis-aligned rings
   take a vectorized bbox fast path), and reduces all bands over the
   valid inside pixels in one vectorized pass.  Only the tiny stats
   rows leave the stage.

Scale: the only payload movement is the one image_id equi-join shuffle
(stats output is O(pairs x bands) small rows); pixel work is bounded by
the AOI window, not the scene size.  Rings are interpreted in the
image's CRS: lon/lat rings are projected with the engine's analytic
CRS kernels (transforms._fwd) when the image is in a projected CRS, so
zonal stats work unchanged over warped scenes.

nodata pixels are excluded from the stats (decode_stats convention);
(image, AOI) pairs with zero valid inside pixels emit no row.
"""

from __future__ import annotations

import math
import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from ukis_pysat_spark import codec
from ukis_pysat_spark.operators import arrowio
from ukis_pysat_spark.operators import spatial_join as sj
from ukis_pysat_spark.operators.geometry import points_in_polygon

ZONAL_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("aoi_id", pa.string()),
        ("band", pa.int32()),
        ("n_valid", pa.int64()),
        ("sum", pa.float64()),
        ("mean", pa.float64()),
        ("min", pa.float64()),
        ("max", pa.float64()),
    ]
)

_LONLAT_CRS = {"EPSG:4326", "4326", "OGC:CRS84", "CRS84"}


def _is_lonlat(crs: str | None) -> bool:
    if crs is None or crs == "":
        return True
    if crs in _LONLAT_CRS:
        return True
    return crs.startswith("+proj=longlat")


def _ring_in_image_crs(rlon: np.ndarray, rlat: np.ndarray, crs: str | None):
    """AOI ring (lon/lat degrees) -> image CRS coordinates."""
    if _is_lonlat(crs):
        return rlon, rlat
    from ukis_pysat_spark.operators.transforms import _fwd

    return _fwd(crs, rlon, rlat)


def _is_axis_box(rx: np.ndarray, ry: np.ndarray) -> bool:
    """True when the ring is an axis-aligned rectangle (every vertex on
    a bbox corner and both bbox edges represented) — the common
    satellite-AOI case, testable with two vectorized compares."""
    if rx.size < 4 or rx.size > 5:
        return False
    x0, x1 = rx.min(), rx.max()
    y0, y1 = ry.min(), ry.max()
    on_x = ((rx == x0) | (rx == x1)).all()
    on_y = ((ry == y0) | (ry == y1)).all()
    return bool(on_x and on_y and x0 < x1 and y0 < y1)


def _rot1(a: np.ndarray) -> np.ndarray:
    """np.roll(a, -1) for 1-D without roll's normalize-axis overhead."""
    return np.concatenate((a[1:], a[:1]))


def _convex_orient(rx: np.ndarray, ry: np.ndarray):
    """(orientation, rx', ry') with orientation +1 (CCW) / -1 (CW) when
    the ring is convex AND simply wound (total turning == +-2*pi — a
    same-sign cross test alone would admit star polygons like the 5/2
    pentagram, whose even-odd interior differs from the half-plane
    intersection), else orientation 0.  Closing duplicate and repeated
    vertices are dropped from the returned ring."""
    if rx.size > 1 and rx[0] == rx[-1] and ry[0] == ry[-1]:
        rx, ry = rx[:-1], ry[:-1]
    keep = (rx != np.concatenate((rx[-1:], rx[:-1]))) | (
        ry != np.concatenate((ry[-1:], ry[:-1]))
    )
    if not keep.all():
        rx, ry = rx[keep], ry[keep]
    if rx.size < 3:
        return 0, rx, ry
    ex = _rot1(rx) - rx
    ey = _rot1(ry) - ry
    cr = ex * _rot1(ey) - ey * _rot1(ex)
    if not ((cr >= 0.0).all() or (cr <= 0.0).all()):
        return 0, rx, ry
    dt = ex * _rot1(ex) + ey * _rot1(ey)
    turn = float(np.arctan2(cr, dt).sum())
    if abs(abs(turn) - 2.0 * math.pi) > 1e-6:
        return 0, rx, ry
    return (1 if turn > 0.0 else -1), rx, ry


def _convex_inside(px: np.ndarray, py: np.ndarray, rx, ry, orient) -> np.ndarray:
    """(len(py), len(px)) closed-boundary inside mask of the pixel-center
    grid against a convex ring — one half-plane test per edge, built
    from two 1-D terms and a broadcast (no meshgrid, no even-odd
    division).  For convex simple rings this is pixel-identical to
    points_in_polygon's closed even-odd test (the boundary expression
    is the same signed cross product)."""
    inside = None
    for x1, y1, x2i, y2i in zip(rx, ry, _rot1(rx), _rot1(ry)):
        hp = (
            orient
            * (((x2i - x1) * (py - y1))[:, None] - ((y2i - y1) * (px - x1))[None, :])
        ) >= 0.0
        inside = hp if inside is None else (inside & hp)
        if not inside.any():
            break
    return inside


def _convex_contains(xs: np.ndarray, ys: np.ndarray, rx, ry, orient) -> bool:
    """True iff every (xs[i], ys[i]) point is inside-or-on the convex
    ring.  With convexity, all four window corners inside implies the
    whole window is inside (the hull of the corners contains every
    center) — the O(edges) short-circuit for the dominant
    'AOI covers the image' case.  One (edges, points) cross matrix."""
    ex = _rot1(rx) - rx
    ey = _rot1(ry) - ry
    cr = ex[:, None] * (ys[None, :] - ry[:, None]) - ey[:, None] * (
        xs[None, :] - rx[:, None]
    )
    return bool((orient * cr >= 0.0).all())


def _pip_planar(px, py, rx, ry):
    """Closed-boundary PIP for PLANAR (projected) coordinates.

    geometry.points_in_polygon treats the x axis as periodic longitude
    (+-360 frame shifts); meter-scale projected coordinates are not
    periodic, so both the points and the ring are affinely normalized
    (shift + positive per-axis scale, which preserves crossing parity
    and boundary sidedness) into a sub-degree span where the periodic
    shift provably cannot fire."""
    x0 = min(px.min(), rx.min())
    x1 = max(px.max(), rx.max())
    sx = max(x1 - x0, 1.0)
    return points_in_polygon((px - x0) / sx, py, (rx - x0) / sx, ry)


def _window_stats(win: np.ndarray, inside, nod):
    """Per-band (n, sum, min, max) over the window; ``inside=None``
    means the whole window is in the ring.  One boolean validity pass,
    then masked reductions."""
    if nod is not None:
        valid = win != nod
        if inside is not None:
            valid &= inside[None, :, :]
    elif inside is not None:
        valid = np.broadcast_to(inside[None, :, :], win.shape)
    else:
        valid = None
    if valid is None:
        n = np.full(win.shape[0], win.shape[1] * win.shape[2], dtype=np.int64)
        return n, win.sum(axis=(1, 2)), win.min(axis=(1, 2)), win.max(axis=(1, 2))
    n = valid.sum(axis=(1, 2))
    s1 = np.where(valid, win, 0.0).sum(axis=(1, 2))
    mn = np.where(valid, win, np.inf).min(axis=(1, 2))
    mx = np.where(valid, win, -np.inf).max(axis=(1, 2))
    return n, s1, mn, mx


def _ring_info(cache: dict, aoi_id: str, crs: str | None, ring_fn):
    """Per-(aoi_id, crs) cached ring analysis — AOIs repeat across
    every image they intersect, so projection, bounds, box detection
    and the convexity certificate are paid once per ring, not per
    pair.  ``ring_fn`` materializes the (rlon, rlat) float64 arrays
    and is only invoked on a cache miss, so the Arrow list buffers are
    not converted per pair.  aoi_id is the output join key, so two
    rows sharing an id with different rings would already be
    ill-defined upstream."""
    key = (aoi_id, crs)
    info = cache.get(key)
    if info is None:
        rlon, rlat = ring_fn()
        rx, ry = _ring_in_image_crs(rlon, rlat, crs)
        bounds = (rx.min(), rx.max(), ry.min(), ry.max())
        if _is_axis_box(rx, ry):
            kind, orient, crx, cry = "box", 0, None, None
        else:
            orient, crx, cry = _convex_orient(rx, ry)
            kind = "convex" if orient else "generic"
        info = (rx, ry, bounds, kind, orient, crx, cry)
        if len(cache) >= 65536:  # bound worker memory on huge AOI sets
            cache.clear()
        cache[key] = info
    return info


class _AoiListView:
    """Arrow-level view of the folded ``aois`` list<struct> column.

    The fold duplicates each ring once per (image, AOI) pair, so a
    hotspot image row carries thousands of structs; ``to_pylist`` on
    the whole column would build a dict + two float lists per pair.
    This view materializes only the aoi_id strings (needed per pair
    for the output and cache keys) and leaves the ring/extra child
    arrays in Arrow, converted per element on ring-cache miss only.
    Offsets are absolute into the child arrays (pyarrow slices keep
    the full child), so ``range(offs[ri], offs[ri+1])`` indexes
    ``ids``/``ring(i)`` directly; ``view[ri]`` is that (view, range)
    pair, the per-row value the Arrow stage hands a row function."""

    __slots__ = ("offs", "ids", "_lon", "_lat", "extra")

    def __init__(self, col, extra: str | None = None):
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        self.offs = col.offsets.to_numpy()
        flat = col.values
        self.ids = flat.field("aoi_id").to_pylist()
        self._lon = flat.field("ring_lon")
        self._lat = flat.field("ring_lat")
        self.extra = (
            flat.field(extra).to_numpy(zero_copy_only=False) if extra else None
        )

    def __getitem__(self, ri: int):
        return self, range(self.offs[ri], self.offs[ri + 1])

    def ring(self, i: int):
        return (
            np.asarray(self._lon[i].as_py(), dtype=np.float64),
            np.asarray(self._lat[i].as_py(), dtype=np.float64),
        )


_WIN_MISS = object()  # sentinel: None is a legitimate cached value


class _WinCache:
    """Memoized ``_aoi_window_mask`` keyed by (aoi_id, crs, grid).

    Scene corpora repeat grids: tiles of one mosaic share a grid per
    (tx, ty), and co-registered scene stacks (the hotspot case) share
    one transform exactly — so the window clip + inside-mask PIP for a
    given (AOI, grid) is paid once, not once per image.  Bounded by
    entry count and by the bytes held in ``inside`` masks."""

    __slots__ = ("cache", "nbytes")

    _MAX_ENTRIES = 65536
    _MAX_BYTES = 128 << 20

    def __init__(self):
        self.cache: dict = {}
        self.nbytes = 0

    def get(self, ring_cache, aois: _AoiListView, i: int, crs, tkey, tr, w, h, lonlat):
        aid = aois.ids[i]
        key = (aid, crs, tkey)
        win = self.cache.get(key, _WIN_MISS)
        if win is _WIN_MISS:
            info = _ring_info(ring_cache, aid, crs, lambda: aois.ring(i))
            win = _aoi_window_mask(info, tr, w, h, lonlat)
            if len(self.cache) >= self._MAX_ENTRIES or self.nbytes > self._MAX_BYTES:
                self.cache.clear()
                self.nbytes = 0
            if win is not None and win[4] is not None:
                self.nbytes += win[4].nbytes
            self.cache[key] = win
        return win


def _aoi_window_mask(info, transform, w: int, h: int, lonlat: bool):
    """Clip one analyzed ring (`_ring_info` tuple) to an image grid.

    Returns None when the ring's window is empty or holds no inside
    pixel center, else (c0, c1, r0, r1, inside) where inside is the
    (r1-r0, c1-c0) closed-boundary center mask — or None for a window
    that is entirely inside the ring (the all-covered fast path)."""
    rx, ry, (xmn, xmx, ymn, ymx), kind, orient, crx, cry = info
    a, _b, c, _d, e, f_ = transform
    # pixel window: floor/ceil of ring bounds (mask_bbox snap)
    c0 = max(math.floor((xmn - c) / a), 0)
    c1 = min(math.ceil((xmx - c) / a), w)
    r0 = max(math.floor((ymx - f_) / e), 0)
    r1 = min(math.ceil((ymn - f_) / e), h)
    if c0 >= c1 or r0 >= r1:
        return None
    px = c + (np.arange(c0, c1, dtype=np.float64) + 0.5) * a
    py = f_ + (np.arange(r0, r1, dtype=np.float64) + 0.5) * e
    inside = False  # None = all-inside; False = not yet known
    if kind == "box":
        in_x = (px >= xmn) & (px <= xmx)
        in_y = (py >= ymn) & (py <= ymx)
        if in_x.all() and in_y.all():
            inside = None
        else:
            inside = in_y[:, None] & in_x[None, :]
    else:
        # the half-plane fast path needs a frame where longitude
        # periodicity provably cannot fire
        nowrap = (not lonlat) or (max(xmx, px[-1]) - min(xmn, px[0]) <= 180.0)
        if kind == "convex" and nowrap:
            corners = (
                np.array([px[0], px[-1], px[0], px[-1]]),
                np.array([py[0], py[0], py[-1], py[-1]]),
            )
            if _convex_contains(*corners, crx, cry, orient):
                inside = None
            else:
                inside = _convex_inside(px, py, crx, cry, orient)
        else:
            gx, gy = np.meshgrid(px, py)
            pip = points_in_polygon if lonlat else _pip_planar
            inside = pip(gx.ravel(), gy.ravel(), rx, ry).reshape(r1 - r0, c1 - c0)
    if inside is not None and not inside.any():
        return None
    return c0, c1, r0, r1, inside


def _image_windows(row: dict, ring_cache: dict, win_cache: _WinCache):
    """Decode one image row and clip each of its AOIs to the grid:
    (arr, nodata, [(aoi_id, window)] for partial windows, [aoi_id] for
    AOIs covering the whole grid)."""
    arr = codec.decode(row["bytes"]).astype(np.float64)
    _nb, h, w = arr.shape
    crs = row["crs"]
    lonlat = _is_lonlat(crs)
    tr = row["transform"]
    tkey = (w, h, tr[0], tr[1], tr[2], tr[3], tr[4], tr[5])
    aois, idx = row["aois"]
    partial, full_ids = [], []
    for i in idx:
        win = win_cache.get(ring_cache, aois, i, crs, tkey, tr, w, h, lonlat)
        if win is None:
            continue
        c0, c1, r0, r1, inside = win
        if inside is None and c0 == 0 and r0 == 0 and c1 == w and r1 == h:
            full_ids.append(aois.ids[i])
        else:
            partial.append((aois.ids[i], win))
    return arr, row["nodata"], partial, full_ids


def _repeat_ids(aoi_ids: list, k: int) -> np.ndarray:
    """Each AOI id k times: the aoi_id column of per-band rows shared by
    several AOIs (AOI-major, band-minor)."""
    return np.repeat(np.array(aoi_ids, dtype=object), k)


def _stats_rows():
    ring_cache: dict = {}
    win_cache = _WinCache()

    def chunk(image_id, aoi_ids: list, stats) -> dict:
        n, s1, mn, mx = stats
        keep = n > 0
        k = len(aoi_ids)
        return {
            "image_id": image_id, "aoi_id": _repeat_ids(aoi_ids, int(keep.sum())),
            "band": np.tile(np.flatnonzero(keep), k), "n_valid": np.tile(n[keep], k),
            "sum": np.tile(s1[keep], k), "mean": np.tile((s1 / np.maximum(n, 1))[keep], k),
            "min": np.tile(mn[keep], k), "max": np.tile(mx[keep], k),
        }

    def row_fn(row: dict):
        arr, nod, partial, full_ids = _image_windows(row, ring_cache, win_cache)
        for aid, (c0, c1, r0, r1, inside) in partial:
            yield chunk(row["image_id"], [aid], _window_stats(arr[:, r0:r1, c0:c1], inside, nod))
        if full_ids:  # AOIs covering the whole grid share one stat
            yield chunk(row["image_id"], full_ids, _window_stats(arr, None, nod))

    return row_fn


def _zonal_stage(images: DataFrame, aois: DataFrame, res, factory, schema) -> DataFrame:
    """Fold each image's bbox-candidate AOIs into one list column and
    run the per-image zonal row function over it."""
    pairs = sj.candidate_pairs(
        images.select("image_id", "footprint_lon", "footprint_lat"), aois, res=res
    )
    per_img = (
        pairs.join(aois.select("aoi_id", "ring_lon", "ring_lat"), "aoi_id")
        .groupBy("image_id")
        .agg(F.collect_list(F.struct("aoi_id", "ring_lon", "ring_lat")).alias("aois"))
    )
    joined = images.select(
        "image_id", "bytes", "transform", "nodata", "crs"
    ).join(per_img, "image_id")
    return arrowio.map_rows(
        joined, factory, schema, views={"aois": _AoiListView}, per_partition=True
    )


def zonal_stats(
    images: DataFrame,
    aois: DataFrame,
    res: int | None = sj.DEFAULT_RES,
    nodata_from: str = "nodata",
) -> DataFrame:
    """Per-band pixel statistics of each image restricted to each
    intersecting AOI polygon.

    images: image_id, bytes, transform, nodata, crs,
            footprint_lon, footprint_lat
    aois:   aoi_id, ring_lon, ring_lat (lon/lat degrees)

    Returns (image_id, aoi_id, band, n_valid, sum, mean, min, max) for
    every pair x band with >= 1 valid pixel whose CENTER lies inside
    the ring (closed boundary).

    Pairs come from the bbox candidate SUPERSET, not the exact join
    (r7): output rows exist only where the window mask finds >= 1
    inside pixel center, so a false candidate contributes nothing and
    the exact-refine machinery is pure overhead here."""
    return _zonal_stage(images, aois, res, _stats_rows, ZONAL_SCHEMA)


ZONAL_MODE_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("aoi_id", pa.string()),
        ("band", pa.int32()),
        ("mode", pa.float64()),
        ("n_mode", pa.int64()),
        ("n_valid", pa.int64()),
    ]
)


def _modes(block: np.ndarray, nod):
    """Per-band (band, mode, n_mode, n_valid) columns for an (nb, k)
    value block; unique is ascending, so the FIRST argmax is the
    smallest tied value."""
    out = []
    for b in range(block.shape[0]):
        vals = block[b]
        if nod is not None:
            vals = vals[vals != nod]
        if vals.size == 0:
            continue
        uq, cnts = np.unique(vals, return_counts=True)
        k = int(np.argmax(cnts))
        out.append((b, float(uq[k]), int(cnts[k]), int(vals.size)))
    return [list(c) for c in zip(*out)] if out else [[], [], [], []]


def _mode_rows():
    ring_cache: dict = {}
    win_cache = _WinCache()

    def chunk(image_id, aoi_ids: list, modes) -> dict:
        band, mode, n_mode, n_valid = modes
        k = len(aoi_ids)
        return {"image_id": image_id, "aoi_id": _repeat_ids(aoi_ids, len(band)),
                "band": band * k, "mode": mode * k, "n_mode": n_mode * k,
                "n_valid": n_valid * k}

    def row_fn(row: dict):
        arr, nod, partial, full_ids = _image_windows(row, ring_cache, win_cache)
        nb = arr.shape[0]
        for aid, (c0, c1, r0, r1, inside) in partial:
            sub = arr[:, r0:r1, c0:c1].reshape(nb, -1)
            if inside is not None:
                sub = sub[:, inside.ravel()]
            yield chunk(row["image_id"], [aid], _modes(sub, nod))
        if full_ids:  # AOIs covering the whole grid share one result
            yield chunk(row["image_id"], full_ids, _modes(arr.reshape(nb, -1), nod))

    return row_fn


def zonal_mode(
    images: DataFrame,
    aois: DataFrame,
    res: int | None = sj.DEFAULT_RES,
) -> DataFrame:
    """Zonal MAJORITY (mode): the most frequent valid pixel value of
    each image restricted to each intersecting AOI — the land-cover /
    classification zonal stat (ArcGIS ZonalStatistics MAJORITY).  Ties
    break to the SMALLEST value (total, partitioning-independent).
    Same fused plan as :func:`zonal_stats`: bbox candidate pairs on ids
    (the window mask is the exact test — see zonal_stats), rings fold
    to one row per image, one row-wise Arrow stage decodes each image
    once.  Returns (image_id, aoi_id, band, mode, n_mode, n_valid)."""
    return _zonal_stage(images, aois, res, _mode_rows, ZONAL_MODE_SCHEMA)


def zonal_stats_grid(
    tiles: DataFrame,
    aois: DataFrame,
    res: int | None = sj.DEFAULT_RES,
) -> DataFrame:
    """Zonal statistics over a TILED raster grid (mosaic / rasterize
    output): per-(AOI, band) aggregates of the grid pixels inside each
    ring, however many tiles the ring spans.

    Every stat is decomposable, so this is plain composition: tiles
    get bbox footprints from their own affine (closed-form column
    arithmetic), ``zonal_stats`` produces per-(tile, AOI, band)
    partials through the usual spatial join + fused Arrow stage, and
    one small groupBy merges partials (mean re-derived from the merged
    sums — never averaged across tiles).  The merge shuffle carries
    O(tile x AOI x band) stat rows, no pixels.

    tiles: rows with bytes, w, h, transform, nodata (tx/ty or
    image_id — an id is derived from the transform when absent)."""
    a = F.get("transform", 0)
    c = F.get("transform", 2)
    e = F.get("transform", 4)
    f_ = F.get("transform", 5)
    lon1 = c + F.col("w").cast("double") * a
    lat1 = f_ + F.col("h").cast("double") * e
    t = tiles
    if "image_id" not in t.columns:
        t = t.withColumn(
            "image_id",
            F.concat_ws("_", F.lit("tile"), F.col("tx"), F.col("ty")),
        )
    t = t.withColumns(
        {
            "footprint_lon": F.array(c, lon1, lon1, c, c),
            "footprint_lat": F.array(f_, f_, lat1, lat1, f_),
        }
    )
    per_tile = zonal_stats(t, aois, res=res)
    return (
        per_tile.groupBy("aoi_id", "band")
        .agg(
            F.sum("n_valid").alias("n_valid"),
            F.sum("sum").alias("sum"),
            F.min("min").alias("min"),
            F.max("max").alias("max"),
            F.count("*").alias("n_tiles"),
        )
        .withColumn("mean", F.col("sum") / F.col("n_valid"))
        .select(
            "aoi_id", "band", "n_valid", "sum", "mean", "min", "max", "n_tiles"
        )
    )
