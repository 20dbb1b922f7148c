"""Distributed raster<->vector spatial join (filter-and-refine).

The reference's only spatial operation is per-image: mask an Image with
one polygon (ukis_pysat/raster.py:113-138) or read a footprint
(ukis_pysat/file.py:143-169).  The engine generalizes this to a
many-to-many join between a scene table and an AOI polygon set, the
north rule's core operator:

1. FILTER: both sides get an H3/S2-style cell cover — pure relational
   explode(sequence()) arithmetic over the ring bbox (zero Python),
   exploded to a cell-keyed table; a plain cell equi-join produces
   candidate pairs — Catalyst/AQE pick broadcast vs sort-merge and
   split skewed cells.
2. PRE-REFINE: a relational bbox-overlap test (pure JVM expressions)
   eliminates most false candidates without touching Python.
3. REFINE: exact polygon-polygon intersection (vertex-in-or-on +
   edge-crossing, pure numpy) inside a chunked Arrow stage
   (operators/arrowio.py) restores exact semantics — output rows match
   a brute-force O(n*m) oracle.

Boundary semantics are CLOSED engine-wide: 'intersects' means 'share
any point', boundary included — the relational <=/>= box-box fast path
and the general polygon refine agree on touching geometries.
Antimeridian: rings spanning +-180 (planar lon span > 180 deg, physical
extent < 180 deg) get wrapped cell covers, circular-interval bbox
pre-refines, and frame-normalized exact refinement.

Skew: dense AOI clusters make some cells hot.  ``salt_cells`` spreads a
hot cell across S shuffle keys by salting the big (scene) side with
pmod(xxhash64(image_id), S) and replicating the small (AOI) side S
ways; AQE's skew-join splitting handles residual imbalance.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

from ukis_pysat_spark.operators import arrowio, geometry

DEFAULT_RES = 12  # ~0.09 deg cells: tens of cells per fixture footprint


def _cell_index(coord: Column, origin: float, span: float, res: int) -> Column:
    n = 1 << res
    return F.least(
        F.greatest(F.floor((coord + F.lit(origin)) / F.lit(span) * F.lit(n)), F.lit(0)),
        F.lit(n - 1),
    ).cast("long")


def lon_interval(lon_col: Column) -> tuple[Column, Column]:
    """(west, east) edges of a ring's longitude interval, UNWRAPPED:
    east >= west always, and east may exceed 180.

    Antimeridian convention (engine-wide): a ring whose planar lon span
    exceeds 180 deg crosses +-180 (physical extent is < 180 deg); its
    interval is [min non-negative lon, max negative lon + 360].  For
    ordinary rings this is just [array_min, array_max].

    GLOBAL rings are outside the convention: when the wrapped reading
    ALSO spans >= 180 deg (vertices fill most of the circle), neither
    interpretation is faithful and the cover would silently miss cells
    — such rows now raise at the cell-cover boundary instead (VERDICT
    r4 next-round #6); split the geometry upstream."""
    mn, mx = F.array_min(lon_col), F.array_max(lon_col)
    wraps = (mx - mn) > F.lit(180.0)
    pos_min = F.array_min(F.filter(lon_col, lambda x: x >= F.lit(0.0)))
    neg_max = F.array_max(F.filter(lon_col, lambda x: x < F.lit(0.0)))
    too_wide = wraps & ((neg_max + F.lit(360.0) - pos_min) >= F.lit(180.0))
    guarded = F.when(
        ~too_wide, F.lit(0.0)
    ).otherwise(
        F.raise_error(
            F.lit(
                "global ring: physical lon extent >= 180 deg is outside the "
                "antimeridian convention — split the ring before the cell cover"
            )
        ).cast("double")
    )
    lon0 = F.when(wraps, pos_min + guarded).otherwise(mn + guarded)
    lon1 = F.when(wraps, neg_max + F.lit(360.0)).otherwise(mx)
    return lon0, lon1


def lon_intervals_overlap(a0: Column, a1: Column, b0: Column, b1: Column) -> Column:
    """Closed overlap of two UNWRAPPED longitude intervals on the
    circle: b starts within a (mod 360) or a starts within b."""
    return (F.pmod(b0 - a0, F.lit(360.0)) <= (a1 - a0)) | (
        F.pmod(a0 - b0, F.lit(360.0)) <= (b1 - b0)
    )


def with_cells(df: DataFrame, lon_col: str, lat_col: str, res: int = DEFAULT_RES) -> DataFrame:
    """Add an exploded `cell` column covering the ring's bbox.

    FULLY relational (the tile_windows pattern): the bbox comes from
    array_min/array_max and the ix x iy cell grid from two nested
    explode(sequence(...)) generators — whole-stage-codegen'd JVM
    expressions, zero Python in the spatial join's filter stage.
    Cell packing matches geometry.cell_id: (res<<58) | (ix<<29) | iy.
    Rings crossing the antimeridian (lon_interval convention) cover a
    wrapped ix range — the sequence runs past n-1 and is folded back
    with pmod, so Pacific footprints land in the seam cells on both
    sides instead of covering (or missing) the whole globe.
    """
    n = 1 << res
    lon0, lon1 = lon_interval(F.col(lon_col))
    ix0 = _cell_index(lon0, 180.0, 360.0, res)
    ix1_raw = F.floor((lon1 + F.lit(180.0)) / F.lit(360.0) * F.lit(n)).cast("long")
    # east edge unclamped (folded by pmod below), bounded to one full
    # revolution: an east edge at exactly +180 gains the seam cell 0,
    # so geometries touching across the antimeridian share a cell
    ix1 = F.least(ix1_raw, ix0 + F.lit(n - 1))
    iy0 = _cell_index(F.array_min(F.col(lat_col)), 90.0, 180.0, res)
    iy1 = _cell_index(F.array_max(F.col(lat_col)), 90.0, 180.0, res)
    base = F.lit(int(res) << 58).cast("long")
    return (
        df.withColumn("_ix", F.explode(F.sequence(ix0, ix1)))
        .withColumn("_iy", F.explode(F.sequence(iy0, iy1)))
        .withColumn(
            "cell",
            base
            + F.pmod(F.col("_ix"), F.lit(n).cast("long")) * F.lit(1 << 29).cast("long")
            + F.col("_iy"),
        )
        .drop("_ix", "_iy")
    )


def axis_aligned_box(lon_col: Column, lat_col: Column) -> Column:
    """True when a closed 5-vertex ring is an axis-aligned rectangle.

    For such rings the bbox-overlap pre-refine IS the exact
    intersection test, so box-box candidate pairs need no Python
    refinement at all.  The check is pure JVM array expressions:
    4 vertices + closure, exactly two distinct values per axis, and
    every edge rectilinear (changes exactly one coordinate — this
    excludes self-crossing 'bowtie' quads that share the same value
    sets)."""
    edge_lon_eq = F.zip_with(
        F.slice(lon_col, 1, 4), F.slice(lon_col, 2, 4), lambda a, b: a == b
    )
    edge_lat_eq = F.zip_with(
        F.slice(lat_col, 1, 4), F.slice(lat_col, 2, 4), lambda a, b: a == b
    )
    rectilinear = F.forall(
        F.zip_with(edge_lon_eq, edge_lat_eq, lambda a, b: a != b), lambda x: x
    )
    # F.get (0-based, null-safe): common-subexpression elimination can
    # hoist the index-4 access out of the size==5 short-circuit when
    # this predicate appears in several conjuncts of one projection
    # (r7) — with get, a short ring yields NULL and
    # `false AND null = false` keeps the verdict identical.  get is
    # used instead of try_element_at because ElementAt's codegen
    # mis-scopes its isNull flag when the conjunct tree is split into
    # helper methods (janino "isNull_N is not an rvalue"), silently
    # dropping the whole stage to interpreted execution.
    return (
        (F.size(lon_col) == 5)
        & (F.size(F.array_distinct(lon_col)) == 2)
        & (F.size(F.array_distinct(lat_col)) == 2)
        & (F.get(lon_col, 0) == F.get(lon_col, 4))
        & (F.get(lat_col, 0) == F.get(lat_col, 4))
        & rectilinear
    )


def convex_simple_ring(lon_col: Column, lat_col: Column) -> Column:
    """True when a CLOSED ring (first == last vertex) is strictly
    convex and simply wound — the relational twin of the Python-side
    ``zonal._convex_orient`` certificate: all edge cross products share
    one strict sign (collinear/repeated vertices fail closed, routing
    the pair to the exact Python refine) AND the total turning is
    ±2π within 1e-6 (a same-sign test alone would admit star
    polygons, whose even-odd interior differs from the convex hull).
    Pure JVM array expressions; O(V) per ring."""
    n = F.size(lon_col) - 1  # true vertex count (closing dup dropped)
    xs = F.slice(lon_col, 1, n)
    ys = F.slice(lat_col, 1, n)
    nxt = lambda a: F.concat(F.slice(a, 2, n - 1), F.slice(a, 1, 1))  # noqa: E731
    ex = F.zip_with(nxt(xs), xs, lambda b, a: b - a)
    ey = F.zip_with(nxt(ys), ys, lambda b, a: b - a)
    ex2 = F.concat(F.slice(ex, 2, n - 1), F.slice(ex, 1, 1))
    ey2 = F.concat(F.slice(ey, 2, n - 1), F.slice(ey, 1, 1))
    cr = F.zip_with(
        F.zip_with(ex, ey2, lambda a, b: a * b),
        F.zip_with(ey, ex2, lambda a, b: a * b),
        lambda a, b: a - b,
    )
    dt = F.zip_with(
        F.zip_with(ex, ex2, lambda a, b: a * b),
        F.zip_with(ey, ey2, lambda a, b: a * b),
        lambda a, b: a + b,
    )
    turn = F.aggregate(
        F.zip_with(cr, dt, lambda c, d: F.atan2(c, d)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    same_sign = F.forall(cr, lambda c: c > 0.0) | F.forall(cr, lambda c: c < 0.0)
    closed = (
        (F.get(lon_col, 0) == F.get(lon_col, F.size(lon_col) - 1))
        & (F.get(lat_col, 0) == F.get(lat_col, F.size(lat_col) - 1))
    )
    return (
        (n >= 3)
        & closed
        & same_sign
        & (F.abs(F.abs(turn) - F.lit(2.0 * math.pi)) <= F.lit(1e-6))
    )


def sat_axes(lon_col: Column, lat_col: Column) -> Column:
    """(nx, ny, qmin, qmax) per edge of a convex closed ring."""
    n = F.size(lon_col) - 1
    xs = F.slice(lon_col, 1, n)
    ys = F.slice(lat_col, 1, n)
    nxt = lambda a: F.concat(F.slice(a, 2, n - 1), F.slice(a, 1, 1))  # noqa: E731
    nx = F.zip_with(nxt(ys), ys, lambda b, a: -(b - a))
    ny = F.zip_with(nxt(xs), xs, lambda b, a: b - a)
    return F.zip_with(
        nx,
        ny,
        lambda nxi, nyi: F.struct(
            nxi.alias("nx"),
            nyi.alias("ny"),
            F.array_min(
                F.zip_with(xs, ys, lambda x, y: nxi * x + nyi * y)
            ).alias("qmin"),
            F.array_max(
                F.zip_with(xs, ys, lambda x, y: nxi * x + nyi * y)
            ).alias("qmax"),
        ),
    )


def sat_box_separated(axes: Column, x0, x1, y0, y1) -> Column:
    """True iff some AOI edge normal STRICTLY separates the convex
    ring from the axis-aligned box [x0,x1]x[y0,y1] (closed semantics:
    touching is intersecting, so separation is strict).  The box's own
    axes were already tested by the closed bbox overlap in the cell
    join, so by SAT: not separated here <=> the polygons intersect."""
    return F.exists(
        axes,
        lambda e: (
            e["qmin"]
            > (
                F.greatest(e["nx"] * x0, e["nx"] * x1)
                + F.greatest(e["ny"] * y0, e["ny"] * y1)
            )
        )
        | (
            e["qmax"]
            < (
                F.least(e["nx"] * x0, e["nx"] * x1)
                + F.least(e["ny"] * y0, e["ny"] * y1)
            )
        ),
    )


def salt_cells(big: DataFrame, small: DataFrame, salt: int) -> tuple[DataFrame, DataFrame]:
    """Explicit skew salting: big side keyed (cell, salt(id)); small side
    replicated across all `salt` buckets.  Layered under AQE skew-join."""
    big_s = big.withColumn("_salt", F.pmod(F.xxhash64("image_id"), F.lit(salt)).cast("int"))
    small_s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return big_s, small_s


def choose_res(images: DataFrame, aois: DataFrame, sample: int = 1024) -> int:
    """Pick a cell resolution from MEASURED geometry extents (the
    dedup/knn chooser discipline: no caller folklore).  Output rows are
    res-INDEPENDENT (any res yields the same exact join — res only
    moves the cover-size vs candidate-selectivity tradeoff), so this
    is purely a performance choice: aim the cell size at the mean
    geometry extent, giving ~1-2 cells per geometry side, bounded
    sample, one tiny Spark action."""
    ext = (
        images.select(
            (F.array_max("footprint_lon") - F.array_min("footprint_lon")).alias("dx"),
            (F.array_max("footprint_lat") - F.array_min("footprint_lat")).alias("dy"),
        )
        .limit(int(sample))
        .unionByName(
            aois.select(
                (F.array_max("ring_lon") - F.array_min("ring_lon")).alias("dx"),
                (F.array_max("ring_lat") - F.array_min("ring_lat")).alias("dy"),
            ).limit(int(sample))
        )
        .agg(F.avg((F.col("dx") + F.col("dy")) / 2.0).alias("m"))
        .collect()[0]["m"]
    )
    if ext is None or ext <= 0:
        return DEFAULT_RES
    # wrap-convention extents (planar span > 180) would skew the mean;
    # they are rare and only make res coarser, which stays correct
    res = int(round(math.log2(360.0 / min(float(ext), 360.0))))
    return max(3, min(res, 16))


def _cell_tables(
    images: DataFrame, aois: DataFrame, res: int, flags: bool
) -> tuple[DataFrame, DataFrame]:
    """Exploded cell tables carrying ids + the 4-double bbox (32 B/row)
    — NOT the geometry arrays.  The bbox rides along so the overlap
    pre-refine can kill false candidates IN the cell join, before the
    pair-dedup shuffle.  With ``flags`` the per-geometry exactness
    certificates (axis-box, convexity, SAT axes) are computed ONCE per
    input row BEFORE the cell explode and ride the join too, so pair
    decisions happen in-join with no geometry re-attach."""
    i_lon0, i_lon1 = lon_interval(F.col("footprint_lon"))
    img_cols = {
        "i_lon0": i_lon0,
        "i_lon1": i_lon1,
        "i_lat_min": F.array_min("footprint_lat"),
        "i_lat_max": F.array_max("footprint_lat"),
    }
    if flags:
        ibox = axis_aligned_box(F.col("footprint_lon"), F.col("footprint_lat"))
        no_wrap_i = (
            F.array_max("footprint_lon") - F.array_min("footprint_lon")
        ) <= 180.0
        img_cols["_ibox"] = ibox
        img_cols["_ibox_nw"] = no_wrap_i & ibox
    img_cells = with_cells(
        images.select("image_id", "footprint_lon", "footprint_lat").withColumns(
            img_cols
        ),
        "footprint_lon",
        "footprint_lat",
        res,
    ).drop("footprint_lon", "footprint_lat")

    a_lon0, a_lon1 = lon_interval(F.col("ring_lon"))
    aoi_cols = {"a_lon0": a_lon0, "a_lon1": a_lon1}
    if flags:
        abox = axis_aligned_box(F.col("ring_lon"), F.col("ring_lat"))
        conv = convex_simple_ring(F.col("ring_lon"), F.col("ring_lat"))
        no_wrap_a = (F.array_max("ring_lon") - F.array_min("ring_lon")) <= 180.0
        aoi_cols["_abox"] = abox
        aoi_cols["_aconv"] = no_wrap_a & ~abox & conv
        aoi_cols["_sat"] = F.when(
            no_wrap_a & conv, sat_axes(F.col("ring_lon"), F.col("ring_lat"))
        )
    aoi_cells = with_cells(
        aois.select("aoi_id", "ring_lon", "ring_lat", "lat_min", "lat_max").withColumns(
            aoi_cols
        ),
        "ring_lon",
        "ring_lat",
        res,
    ).drop("ring_lon", "ring_lat")
    return img_cells, aoi_cells


def _bbox_overlap() -> Column:
    """Closed bbox overlap of a joined (image, AOI) cell row.  The lon
    test is circular-interval overlap (antimeridian-correct); for
    ordinary footprints it reduces to the plain closed overlap."""
    return (
        lon_intervals_overlap(
            F.col("i_lon0"), F.col("i_lon1"), F.col("a_lon0"), F.col("a_lon1")
        )
        & (F.col("i_lat_min") <= F.col("lat_max"))
        & (F.col("i_lat_max") >= F.col("lat_min"))
    )


def candidate_pairs(
    images: DataFrame,
    aois: DataFrame,
    res: int | None = DEFAULT_RES,
    salt: int | None = None,
) -> DataFrame:
    """Deduped (image_id, aoi_id) bbox-overlap candidates — a SUPERSET
    of ``spatial_join`` with recall 1.0 (a false candidate exists only
    where the bboxes overlap but the rings do not).

    Consumers that re-test containment exactly per pixel/point anyway
    (zonal_stats, zonal_mode, rasterize: their window masks emit rows
    only where >= 1 pixel CENTER lies inside the ring, so false pairs
    contribute nothing) get identical results from this superset and
    skip the whole refine machinery — the geometry re-join, the SAT
    evaluation and the Python refine of the exact join (r7; measured
    ~16 s of zonal_stats' 40 s at the sf1.0 hotspot)."""
    if res is None:
        res = choose_res(images, aois)
    img_cells, aoi_cells = _cell_tables(images, aois, res, flags=False)
    if salt:
        img_cells, aoi_cells = salt_cells(img_cells, aoi_cells, salt)
        join_keys = ["cell", "_salt"]
    else:
        join_keys = ["cell"]
    return (
        img_cells.join(aoi_cells, join_keys)
        .filter(_bbox_overlap())
        .select("image_id", "aoi_id")
        .dropDuplicates(["image_id", "aoi_id"])
    )


def spatial_join(
    images: DataFrame,
    aois: DataFrame,
    res: int | None = DEFAULT_RES,
    salt: int | None = None,
) -> DataFrame:
    """Exact scene-footprint x AOI-polygon intersection join.

    Returns distinct (image_id, aoi_id) pairs whose geometries
    intersect.  res=None measures the inputs and picks the cell
    resolution itself (choose_res).

    Exactness fast paths decide pairs INSIDE the cell join (r7):

    - box-box: for axis-aligned rectangles the closed bbox overlap IS
      the exact test;
    - box-convex: when the image footprint is an axis box and the AOI
      ring certifies strictly-convex + simply-wound
      (convex_simple_ring) with no antimeridian wrap on either side,
      the separating-axis test over the AOI's edge normals decides the
      pair exactly (the box's own axes are the bbox overlap).  The
      normals + projection ranges are precomputed once per AOI row
      BEFORE the cell explode (sat_axes), so the per-pair cost is
      O(edges) flops of codegen'd expressions.

    Certificates are per-geometry booleans computed before the explode
    and riding the cell join, so decided pairs reach the dedup as
    (ids, hard=false) rows with no geometry re-attach at all; decided
    non-intersections are filtered before the dedup shuffle.  Only the
    (rare) hard pairs re-join their geometry and cross the Arrow
    refine — measurement showed shipping 39 M id-copy rows through the
    Python stage cost more than the whole candidate phase, and the
    r7 follow-up showed the two post-dedup geometry joins of the
    branch-split plan cost another ~16 s at sf1.0."""
    if res is None:
        res = choose_res(images, aois)
    # explicit isnotnull on the join ids: the hard branch's downstream
    # geometry join infers these and pushes them through the dedup
    # aggregate into the shared subtree — with the filters already
    # present, both union branches canonicalize EQUAL and exchange
    # reuse computes the cell join + dedup once (without this the
    # whole candidate phase runs twice; a localCheckpoint also fixes
    # it but its persisted blocks linger in executor storage across
    # queries and starve later big shuffles — measured point_sample
    # 21 s -> 169 s later in the same bench process)
    images = images.filter(F.col("image_id").isNotNull())
    aois = aois.filter(F.col("aoi_id").isNotNull())
    img_cells, aoi_cells = _cell_tables(images, aois, res, flags=True)
    if salt:
        img_cells, aoi_cells = salt_cells(img_cells, aoi_cells, salt)
        join_keys = ["cell", "_salt"]
    else:
        join_keys = ["cell"]

    easy = F.col("_ibox") & F.col("_abox")
    sat_pair = F.col("_ibox_nw") & F.col("_aconv")
    separated = sat_box_separated(
        F.col("_sat"),
        F.col("i_lon0"),
        F.col("i_lon1"),
        F.col("i_lat_min"),
        F.col("i_lat_max"),
    )
    decided = easy | sat_pair
    keep_rel = easy | (sat_pair & ~separated)
    tagged = (
        img_cells.join(aoi_cells, join_keys)
        .filter(_bbox_overlap())
        .filter(~decided | keep_rel)  # decided non-intersections out
        .select("image_id", "aoi_id", (~decided).alias("_hard"))
        .dropDuplicates(["image_id", "aoi_id"])
    )
    decided_ids = tagged.filter(~F.col("_hard")).select("image_id", "aoi_id")
    hard = (
        tagged.filter(F.col("_hard"))
        .join(images.select("image_id", "footprint_lon", "footprint_lat"), "image_id")
        .join(aois.select("aoi_id", "ring_lon", "ring_lat"), "aoi_id")
        .select(
            "image_id", "aoi_id",
            "footprint_lon", "footprint_lat", "ring_lon", "ring_lat",
        )
    )
    return decided_ids.unionByName(arrowio.run(hard, _refine_batches, PAIR_SCHEMA))


PAIR_SCHEMA = pa.schema([("image_id", pa.string()), ("aoi_id", pa.string())])
# distinct geometry pairs whose verdicts a refine task caches (~60 MB)
VERDICT_CACHE_MAX = 200_000


def _ring_views(col) -> list:
    """ListArray -> per-row numpy views (values buffer + offsets, zero
    per-row copies).  Handles sliced arrays: `values` is the full child
    array, so the window [offsets[0], offsets[-1]) is cut first."""
    arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    offsets = arr.offsets.to_numpy()
    values = arr.values.to_numpy(zero_copy_only=False)[offsets[0] : offsets[-1]]
    return np.split(values, offsets[1:-1] - offsets[0])


def _refine(tbl: pa.Table, geom_col: str, out_cols: list, keep_fn):
    """Shared refine frame: rows whose `geom_col` is null were decided
    exactly by the relational bbox test and pass as id copies; the rest
    keep where ``keep_fn(hard rows)`` says so."""
    pre = pc.is_null(tbl.column(geom_col))
    yield from tbl.filter(pre).select(out_cols).combine_chunks().to_batches()
    hard = tbl.filter(pc.invert(pre)).combine_chunks()
    if hard.num_rows:
        kept = hard.select(out_cols).filter(pa.array(keep_fn(hard)))
        yield from kept.combine_chunks().to_batches()


def _refine_batches(batches):
    """Exact polygon-polygon refinement (geometry.polygon_intersects_
    pairwise) as a chunked Arrow stage: the session caps Arrow batches
    at 128 rows to protect payload operators, but refine rows are tiny,
    so candidates are vectorized over large accumulated chunks with
    numpy views over the list buffers — no per-row list objects.

    Verdicts are MEMOIZED per distinct geometry pair (r7): co-
    registered scene stacks repeat footprints exactly, so a hotspot's
    millions of (same footprint, same AOI) candidate pairs pay one PIP
    each — the cache key is the raw coordinate bytes, so equality is
    exact, never hash-trusted."""
    verdicts: dict[bytes, bool] = {}

    def keep_fn(hard: pa.Table) -> np.ndarray:
        fl = _ring_views(hard.column("footprint_lon"))
        fa = _ring_views(hard.column("footprint_lat"))
        rl = _ring_views(hard.column("ring_lon"))
        ra = _ring_views(hard.column("ring_lat"))
        keys = [
            fl[i].tobytes() + fa[i].tobytes() + b"|" + rl[i].tobytes() + ra[i].tobytes()
            for i in range(len(fl))
        ]
        if len(verdicts) > VERDICT_CACHE_MAX:  # bound worker memory
            verdicts.clear()
        miss = [i for i, k in enumerate(keys) if k not in verdicts]
        if miss:
            got = geometry.polygon_intersects_pairwise(
                [fl[i] for i in miss],
                [fa[i] for i in miss],
                [rl[i] for i in miss],
                [ra[i] for i in miss],
            )
            for i, v in zip(miss, got):
                verdicts[keys[i]] = bool(v)
        return np.fromiter((verdicts[k] for k in keys), dtype=bool, count=len(keys))

    return arrowio.chunked(
        batches, lambda tbl: _refine(tbl, "footprint_lon", ["image_id", "aoi_id"], keep_fn)
    )


def spatial_join_bruteforce(images: DataFrame, aois: DataFrame) -> DataFrame:
    """O(n*m) oracle: cross join + exact refine.  Small scale only —
    used by tests to prove the indexed join's output rows match exactly
    (BASELINE.json:14)."""
    cand = images.select("image_id", "footprint_lon", "footprint_lat").crossJoin(
        F.broadcast(aois.select("aoi_id", "ring_lon", "ring_lat"))
    )
    return arrowio.run(cand, _refine_batches, PAIR_SCHEMA)


def points_in_aois(
    points: DataFrame,
    aois: DataFrame,
    id_col: str = "point_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int = DEFAULT_RES,
    exact: bool = True,
    keep_coords: bool = False,
) -> DataFrame:
    """Point-in-polygon join: cell equi-join + exact PIP refine.

    The point side only needs cell_of_points (one cell per point — pure
    relational arithmetic, no UDF); the AOI side gets a polygon cover.

    keep_coords=True additionally returns the point's (lon_col,
    lat_col) columns — they already ride the candidate join, so callers
    that need coordinates per pair (point sampling's fold) avoid
    re-joining the point table against the full pair set (r7).
    """
    n = F.lit(1 << res)
    # lon folds modulo n (a point at exactly +180 lands in seam cell 0,
    # matching the cover's east-edge fold); lat clamps at the poles
    ix = F.pmod(F.floor((F.col(lon_col) + F.lit(180.0)) / F.lit(360.0) * n), n)
    iy = F.least(
        F.greatest(F.floor((F.col(lat_col) + F.lit(90.0)) / F.lit(180.0) * n), F.lit(0)),
        n - 1,
    )
    cell = (
        (F.lit(res).cast("long") * F.lit(1 << 58).cast("long"))
        + (ix.cast("long") * F.lit(1 << 29).cast("long"))
        + iy.cast("long")
    )
    pts = points.withColumn("cell", cell)
    # per-ring bounds are PRECOMPUTED as plain columns on the AOI side
    # BEFORE the cell join (r7, guide §2.3): lon_interval expands to a
    # CASE WHEN + array_filter lambda tree, and referencing it in the
    # join condition makes Spark re-evaluate that tree PER CANDIDATE
    # PAIR (measured: a hot cell at sf1.0 spent minutes in
    # HashJoin.boundCondition).  As columns the per-pair test is four
    # scalar comparisons.
    r_lon0, r_lon1 = lon_interval(F.col("ring_lon"))
    aoi_cells = with_cells(
        aois.select(
            "aoi_id", "ring_lon", "ring_lat",
            axis_aligned_box(F.col("ring_lon"), F.col("ring_lat")).alias("_abox"),
            r_lon0.alias("_rl0"), r_lon1.alias("_rl1"),
            F.array_min("ring_lat").alias("_rlat0"),
            F.array_max("ring_lat").alias("_rlat1"),
        ),
        "ring_lon",
        "ring_lat",
        res,
    )
    # relational point-in-bbox pre-refine kills most false candidates
    # (cell covers are bbox supersets) before any Python runs; for
    # axis-aligned box AOIs point-in-bbox IS the exact test.  The lon
    # test is circular (antimeridian-correct; reduces to plain closed
    # between for ordinary rings).
    cand = (
        pts.join(aoi_cells, "cell")
        .filter(
            (F.pmod(F.col(lon_col) - F.col("_rl0"), F.lit(360.0))
             <= (F.col("_rl1") - F.col("_rl0")))
            & (F.col(lat_col) >= F.col("_rlat0"))
            & (F.col(lat_col) <= F.col("_rlat1"))
        )
        .select(id_col, lon_col, lat_col, "aoi_id", "_abox", "ring_lon", "ring_lat")
    )
    out_cols = [id_col, lon_col, lat_col, "aoi_id"] if keep_coords else [id_col, "aoi_id"]
    if not exact:
        return cand.select(*out_cols)

    def keep_fn(hard: pa.Table) -> np.ndarray:
        return geometry.points_in_rings_pairwise(
            hard.column(lon_col).to_numpy(),
            hard.column(lat_col).to_numpy(),
            _ring_views(hard.column("ring_lon")),
            _ring_views(hard.column("ring_lat")),
        )

    def refine(batches):
        """Exact PIP refine over large chunks (the _refine_batches
        frame); only hard (non-box) pairs reach it since r7's branch
        split, the null-ring guard is kept for robustness."""
        return arrowio.chunked(batches, lambda tbl: _refine(tbl, "ring_lon", out_cols, keep_fn))

    # branch split at the Python boundary (r7, the spatial_join
    # pattern): box-AOI pairs are DECIDED by the bbox test above, so
    # they leave on a JVM-only branch instead of round-tripping through
    # the Arrow stage as id-copies — at a hotspot that removes tens of
    # millions of rows from the Python boundary.  Only the (rare)
    # non-box rings carry their geometry into the exact PIP refine.
    decided_ids = cand.filter(F.col("_abox")).select(*out_cols)
    hard = cand.filter(~F.col("_abox")).select(
        id_col, lon_col, lat_col, "aoi_id", "ring_lon", "ring_lat"
    )
    coords = [(lon_col, pa.float64()), (lat_col, pa.float64())] if keep_coords else []
    out = pa.schema([(id_col, pa.string()), *coords, ("aoi_id", pa.string())])
    return decided_ids.unionByName(arrowio.run(hard, refine, out))
