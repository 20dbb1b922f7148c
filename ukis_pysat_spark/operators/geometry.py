"""Pure-numpy computational geometry for the spatial engine.

shapely/GEOS is not available in the target environment; the reference
uses it only for bbox/polygon plumbing (ukis_pysat/raster.py:131-134,
ukis_pysat/file.py:143-169).  Everything here is vectorized numpy and is
called ONLY from inside Arrow-batched UDFs — there is no per-row Python
in any hot path.

Cell index
----------
A deterministic H3/S2-style hierarchical grid over lon/lat:
resolution r splits the world into 2^r x 2^r rectangular cells.  A cell
id packs (resolution, ix, iy) into an int64:

    cell = (r << 58) | (ix << 29) | iy      with ix, iy < 2^29 (r <= 29)

Rectangle covers are exact; polygon covers use the bbox cover as the
coarse filter (always a superset), so the cell equi-join is a candidate
generator and exact point-in-polygon / polygon-intersects refinement
restores exact semantics, the standard filter-and-refine spatial join
design (PBSM / SpatialSpark lineage).
"""

from __future__ import annotations

import numpy as np

# --- cell index ---------------------------------------------------------

MAX_RES = 29


def cell_id(res: int, ix: np.ndarray, iy: np.ndarray) -> np.ndarray:
    """Pack (resolution, ix, iy) into int64 cell ids (vectorized)."""
    return (
        (np.int64(res) << np.int64(58))
        | (ix.astype(np.int64) << np.int64(29))
        | iy.astype(np.int64)
    )


def cell_of_points(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """Cell id containing each (lon, lat) point. Vectorized.  Longitude
    folds modulo n (a point at exactly +180 lands in seam cell 0);
    latitude clamps at the poles."""
    n = 1 << res
    ix = np.floor((np.asarray(lon) + 180.0) / 360.0 * n).astype(np.int64) % n
    iy = np.clip(((np.asarray(lat) + 90.0) / 180.0 * n).astype(np.int64), 0, n - 1)
    return cell_id(res, ix, iy)


def cover_bbox(lon_min, lat_min, lon_max, lat_max, res: int) -> np.ndarray:
    """All cells at `res` intersecting the bbox (exact rectangle cover).

    Antimeridian convention: lon_min > lon_max denotes a bbox that
    crosses +-180 and covers [lon_min, 180] U [-180, lon_max]; the ix
    range wraps modulo n."""
    n = 1 << res
    ix0 = int(np.clip(np.floor((lon_min + 180.0) / 360.0 * n), 0, n - 1))
    ix1_raw = int(np.floor((lon_max + 180.0) / 360.0 * n))
    iy0 = int(np.clip(np.floor((lat_min + 90.0) / 180.0 * n), 0, n - 1))
    iy1 = int(np.clip(np.floor((lat_max + 90.0) / 180.0 * n), 0, n - 1))
    if lon_min > lon_max:  # wrapped interval
        ix1_raw += n
    # east edge folds modulo n (exactly +180 gains seam cell 0),
    # bounded to one revolution — mirrors spatial_join.with_cells
    ix = np.arange(ix0, min(ix1_raw, ix0 + n - 1) + 1, dtype=np.int64) % n
    iy = np.arange(iy0, iy1 + 1, dtype=np.int64)
    gx, gy = np.meshgrid(np.unique(ix), iy, indexing="ij")
    return cell_id(res, gx.ravel(), gy.ravel())


def cover_polygon(ring_lon: np.ndarray, ring_lat: np.ndarray, res: int) -> np.ndarray:
    """Cells at `res` covering the polygon's bbox (superset of the exact
    cover — sufficient as the coarse filter of filter-and-refine)."""
    return cover_bbox(
        float(np.min(ring_lon)),
        float(np.min(ring_lat)),
        float(np.max(ring_lon)),
        float(np.max(ring_lat)),
        res,
    )


def neighbors(cell: int, k: int = 1) -> np.ndarray:
    """Cells within a (2k+1)^2 square ring neighborhood.  Longitude
    WRAPS at the antimeridian (ix mod n); latitude clamps at the
    poles (no cells beyond them)."""
    res = int(cell >> 58)
    n = 1 << res
    ix = int((cell >> 29) & ((1 << 29) - 1))
    iy = int(cell & ((1 << 29) - 1))
    xs = np.arange(ix - k, ix + k + 1) % n
    ys = np.clip(np.arange(iy - k, iy + k + 1), 0, n - 1)
    gx, gy = np.meshgrid(np.unique(xs), np.unique(ys), indexing="ij")
    return cell_id(res, gx.ravel(), gy.ravel())


# --- point in polygon ----------------------------------------------------


def unwrap_ring(ring_x: np.ndarray) -> np.ndarray:
    """Normalize one ring's longitudes for the antimeridian: a ring
    whose planar lon span exceeds 180 deg is taken to cross +-180
    (engine-wide convention: physical extent < 180 deg), and its
    negative lons are shifted +360 into a continuous [0, 360) frame."""
    rx = np.asarray(ring_x, dtype=np.float64)
    if rx.size and (rx.max() - rx.min()) > 180.0:
        rx = np.where(rx < 0.0, rx + 360.0, rx)
    return rx


def points_in_polygon(
    px: np.ndarray,
    py: np.ndarray,
    ring_x: np.ndarray,
    ring_y: np.ndarray,
    include_boundary: bool = True,
) -> np.ndarray:
    """Point-in-polygon, vectorized over points.

    CLOSED boundary semantics by default (engine-wide convention:
    'inside' includes the boundary, matching the relational <=/>=
    bbox fast path for axis-aligned boxes); include_boundary=False
    gives the raw even-odd ray-cast (open-ish boundary).
    Ring may be open or closed; orientation irrelevant.  Antimeridian:
    rings spanning +-180 are unwrapped and each point is shifted into
    the ring's frame (longitudes are periodic).
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    rx = np.asarray(ring_x, dtype=np.float64)
    ry = np.asarray(ring_y, dtype=np.float64)
    rx = unwrap_ring(rx)
    if rx.size:
        mid = (rx.min() + rx.max()) / 2.0
        px = px + 360.0 * np.round((mid - px) / 360.0)
    if rx[0] == rx[-1] and ry[0] == ry[-1] and len(rx) > 1:
        rx, ry = rx[:-1], ry[:-1]
    x1, y1 = rx, ry
    x2, y2 = np.roll(rx, -1), np.roll(ry, -1)
    # (n_points, n_edges) crossing tests
    pyc = py[:, None]
    pxc = px[:, None]
    cond = (y1[None, :] > pyc) != (y2[None, :] > pyc)
    with np.errstate(divide="ignore", invalid="ignore"):
        xin = (x2 - x1)[None, :] * (pyc - y1[None, :]) / (y2 - y1)[None, :] + x1[None, :]
    crossings = cond & (pxc < xin)
    inside = crossings.sum(axis=1) % 2 == 1
    if include_boundary:
        crossv = (x2 - x1)[None, :] * (pyc - y1[None, :]) - (y2 - y1)[None, :] * (
            pxc - x1[None, :]
        )
        within = (
            (pxc >= np.minimum(x1, x2)[None, :])
            & (pxc <= np.maximum(x1, x2)[None, :])
            & (pyc >= np.minimum(y1, y2)[None, :])
            & (pyc <= np.maximum(y1, y2)[None, :])
        )
        inside |= ((crossv == 0.0) & within).any(axis=1)
    return inside


def polygon_intersects(ax: np.ndarray, ay: np.ndarray, bx: np.ndarray, by: np.ndarray) -> bool:
    """True iff simple polygons A and B intersect — CLOSED semantics
    ('share any point', boundary included, matching the relational
    <=/>= bbox fast path for axis-aligned boxes).

    Sufficient & complete test for simple polygons: any vertex of A
    inside-or-on B, any vertex of B inside-or-on A, or any edge pair
    properly crosses (a crossing with no vertex on/inside the other
    ring is always proper).  Antimeridian-crossing rings are unwrapped
    and brought into a common frame first.
    """
    ax = unwrap_ring(np.asarray(ax, dtype=np.float64))
    ay = np.asarray(ay, dtype=np.float64)
    bx = unwrap_ring(np.asarray(bx, dtype=np.float64))
    by = np.asarray(by, dtype=np.float64)
    mid_a = (ax.min() + ax.max()) / 2.0
    mid_b = (bx.min() + bx.max()) / 2.0
    bx = bx + 360.0 * np.round((mid_a - mid_b) / 360.0)
    if points_in_polygon(ax, ay, bx, by, include_boundary=True).any():
        return True
    if points_in_polygon(bx, by, ax, ay, include_boundary=True).any():
        return True
    return edges_cross(ax, ay, bx, by)


def edges_cross(ax, ay, bx, by) -> bool:
    """Any edge of ring A properly crosses any edge of ring B."""

    def close(rx, ry):
        if rx[0] != rx[-1] or ry[0] != ry[-1]:
            rx = np.append(rx, rx[0])
            ry = np.append(ry, ry[0])
        return rx, ry

    ax, ay = close(np.asarray(ax, float), np.asarray(ay, float))
    bx, by = close(np.asarray(bx, float), np.asarray(by, float))
    a1x, a1y, a2x, a2y = ax[:-1], ay[:-1], ax[1:], ay[1:]
    b1x, b1y, b2x, b2y = bx[:-1], by[:-1], bx[1:], by[1:]

    def cross(ox, oy, p1x, p1y, p2x, p2y):
        return (p1x - ox) * (p2y - oy) - (p1y - oy) * (p2x - ox)

    # broadcast A edges (m,1) vs B edges (1,n)
    A1x, A1y, A2x, A2y = (v[:, None] for v in (a1x, a1y, a2x, a2y))
    B1x, B1y, B2x, B2y = (v[None, :] for v in (b1x, b1y, b2x, b2y))
    d1 = cross(B1x, B1y, B2x, B2y, A1x, A1y)
    d2 = cross(B1x, B1y, B2x, B2y, A2x, A2y)
    d3 = cross(A1x, A1y, A2x, A2y, B1x, B1y)
    d4 = cross(A1x, A1y, A2x, A2y, B2x, B2y)
    proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))
    return bool(proper.any())


# --- batched pairwise geometry (vectorized across an Arrow batch) ---------


def pad_rings(rings_x, rings_y) -> tuple[np.ndarray, np.ndarray]:
    """Stack variable-length CLOSED rings into (n, kmax) arrays, padding
    by repeating the last vertex.  Degenerate (zero-length) padded edges
    contribute nothing to ray-casting or crossing tests, so padded rings
    are safe for the batch predicates below."""
    n = len(rings_x)
    lens = np.fromiter((len(r) for r in rings_x), dtype=np.int64, count=n)
    if n and (lens == lens[0]).all():
        # fast path: uniform ring length -> one stack, vectorized closure
        RX = np.stack([np.asarray(r, dtype=np.float64) for r in rings_x])
        RY = np.stack([np.asarray(r, dtype=np.float64) for r in rings_y])
        open_mask = (RX[:, 0] != RX[:, -1]) | (RY[:, 0] != RY[:, -1])
        if open_mask.any():
            RX = np.concatenate([RX, RX[:, :1]], axis=1)
            RY = np.concatenate([RY, RY[:, :1]], axis=1)
            # already-closed rings get a harmless duplicated last==first
            RX[~open_mask, -1] = RX[~open_mask, -2]
            RY[~open_mask, -1] = RY[~open_mask, -2]
        return RX, RY
    closed_x, closed_y = [], []
    kmax = 0
    for rx, ry in zip(rings_x, rings_y):
        rx = np.asarray(rx, dtype=np.float64)
        ry = np.asarray(ry, dtype=np.float64)
        if rx[0] != rx[-1] or ry[0] != ry[-1]:
            rx = np.append(rx, rx[0])
            ry = np.append(ry, ry[0])
        closed_x.append(rx)
        closed_y.append(ry)
        kmax = max(kmax, len(rx))
    RX = np.empty((n, kmax))
    RY = np.empty((n, kmax))
    for i, (rx, ry) in enumerate(zip(closed_x, closed_y)):
        RX[i, : len(rx)] = rx
        RX[i, len(rx) :] = rx[-1]
        RY[i, : len(ry)] = ry
        RY[i, len(ry) :] = ry[-1]
    return RX, RY


def pip_pairwise(PX: np.ndarray, PY: np.ndarray, RX: np.ndarray, RY: np.ndarray) -> np.ndarray:
    """Row-wise PIP: are points (PX[i,j], PY[i,j]) inside ring i?
    PX (n, ka); RX (n, kb) closed padded rings -> (n, ka) bool."""
    x1 = RX[:, None, :-1]
    x2 = RX[:, None, 1:]
    y1 = RY[:, None, :-1]
    y2 = RY[:, None, 1:]
    px = PX[:, :, None]
    py = PY[:, :, None]
    cond = (y1 > py) != (y2 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xin = (x2 - x1) * (py - y1) / (y2 - y1) + x1
    return ((cond & (px < xin)).sum(axis=2) % 2) == 1


def on_boundary_pairwise(
    PX: np.ndarray, PY: np.ndarray, RX: np.ndarray, RY: np.ndarray
) -> np.ndarray:
    """Row-wise point-on-ring-boundary: is point (PX[i,j], PY[i,j]) on
    any edge of closed padded ring i?  -> (n, ka) bool.  Exact (zero
    cross product + segment bbox), matching the <=/>= closed-boundary
    convention of the relational box fast path."""
    x1 = RX[:, None, :-1]
    x2 = RX[:, None, 1:]
    y1 = RY[:, None, :-1]
    y2 = RY[:, None, 1:]
    px = PX[:, :, None]
    py = PY[:, :, None]
    crossv = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
    within = (
        (px >= np.minimum(x1, x2))
        & (px <= np.maximum(x1, x2))
        & (py >= np.minimum(y1, y2))
        & (py <= np.maximum(y1, y2))
    )
    return ((crossv == 0.0) & within).any(axis=2)


def unwrap_rings_padded(RX: np.ndarray) -> np.ndarray:
    """Row-wise antimeridian unwrap of padded rings: rows whose lon
    span exceeds 180 get their negative lons shifted +360 (see
    unwrap_ring).  Returns a new array; non-wrapping rows unchanged."""
    if not RX.size:
        return RX
    span = RX.max(axis=1) - RX.min(axis=1)
    wraps = span > 180.0
    if not wraps.any():
        return RX
    RX = RX.copy()
    rows = np.where(wraps)[0]
    sub = RX[rows]
    RX[rows] = np.where(sub < 0.0, sub + 360.0, sub)
    return RX


def _edges_cross_pairwise(AX, AY, BX, BY) -> np.ndarray:
    """Any proper edge crossing between ring A[i] and ring B[i] -> (n,) bool."""
    a1x, a1y = AX[:, :-1, None], AY[:, :-1, None]
    a2x, a2y = AX[:, 1:, None], AY[:, 1:, None]
    b1x, b1y = BX[:, None, :-1], BY[:, None, :-1]
    b2x, b2y = BX[:, None, 1:], BY[:, None, 1:]

    def cross(ox, oy, px, py, qx, qy):
        return (px - ox) * (qy - oy) - (py - oy) * (qx - ox)

    d1 = cross(b1x, b1y, b2x, b2y, a1x, a1y)
    d2 = cross(b1x, b1y, b2x, b2y, a2x, a2y)
    d3 = cross(a1x, a1y, a2x, a2y, b1x, b1y)
    d4 = cross(a1x, a1y, a2x, a2y, b2x, b2y)
    proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))
    return proper.any(axis=(1, 2))


def polygon_intersects_pairwise(rings_ax, rings_ay, rings_bx, rings_by) -> np.ndarray:
    """Vectorized polygon-intersects over n (A[i], B[i]) ring pairs —
    CLOSED semantics ('share any point', boundary included), same as
    polygon_intersects, evaluated for a whole Arrow batch at once (the
    refine hot path of the spatial join).

    Antimeridian: each ring is unwrapped row-wise, then B is shifted
    by the unique multiple of 360 that brings it into A's frame (both
    spans < 180 deg by convention, so the relative placement with any
    physical overlap is unique)."""
    AX, AY = pad_rings(rings_ax, rings_ay)
    BX, BY = pad_rings(rings_bx, rings_by)
    AX = unwrap_rings_padded(AX)
    BX = unwrap_rings_padded(BX)
    if AX.size and BX.size:
        mid_a = (AX.min(axis=1) + AX.max(axis=1)) / 2.0
        mid_b = (BX.min(axis=1) + BX.max(axis=1)) / 2.0
        shift = 360.0 * np.round((mid_a - mid_b) / 360.0)
        if shift.any():
            BX = BX + shift[:, None]
    hit = pip_pairwise(AX, AY, BX, BY).any(axis=1)
    todo = ~hit
    if todo.any():
        hit[todo] |= pip_pairwise(BX[todo], BY[todo], AX[todo], AY[todo]).any(axis=1)
        todo = ~hit
    if todo.any():
        hit[todo] |= on_boundary_pairwise(AX[todo], AY[todo], BX[todo], BY[todo]).any(axis=1)
        todo = ~hit
    if todo.any():
        hit[todo] |= on_boundary_pairwise(BX[todo], BY[todo], AX[todo], AY[todo]).any(axis=1)
        todo = ~hit
    if todo.any():
        hit[todo] |= _edges_cross_pairwise(AX[todo], AY[todo], BX[todo], BY[todo])
    return hit


# --- distances & misc ----------------------------------------------------

EARTH_RADIUS_KM = 6371.0


def points_in_rings_pairwise(px, py, rings_x, rings_y) -> np.ndarray:
    """Row-wise point-in-ring: is point i inside ring i (CLOSED
    boundary semantics, engine-wide convention)?  The pairwise twin of
    points_in_polygon for heterogeneous (point, ring) candidate rows —
    the spatial join's PIP refine hot path (round 5 Arrow-native stage).

    Antimeridian: rings are unwrapped row-wise and each point is
    shifted into its ring's frame by the unique 360-multiple, exactly
    as points_in_polygon does per ring."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    RX, RY = pad_rings(rings_x, rings_y)
    if not RX.size:
        return np.zeros(0, dtype=bool)
    RX = unwrap_rings_padded(RX)
    mid = (RX.min(axis=1) + RX.max(axis=1)) / 2.0
    px = px + 360.0 * np.round((mid - px) / 360.0)
    P = px[:, None]
    Q = py[:, None]
    inside = pip_pairwise(P, Q, RX, RY)[:, 0]
    todo = ~inside
    if todo.any():
        inside = inside.copy()
        inside[todo] |= on_boundary_pairwise(P[todo], Q[todo], RX[todo], RY[todo])[:, 0]
    return inside


def haversine_km(lon1, lat1, lon2, lat2):
    """Great-circle distance in km, vectorized."""
    lon1, lat1, lon2, lat2 = (np.radians(np.asarray(v, float)) for v in (lon1, lat1, lon2, lat2))
    dlon = lon2 - lon1
    dlat = lat2 - lat1
    a = np.sin(dlat / 2.0) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2.0) ** 2
    return 2.0 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(a))
