"""The seeded corpora, materialised to Parquet once per (seed, size), with
their oracle results cached next to them.

Every table is a pure function of the workload seed.  Scene and AOI rows
come from the package's own generators (``datagen.images_pdf`` /
``datagen.aois_pdf``, the per-partition bodies of ``gen_images`` /
``gen_aois``); they are built in the driver process before Spark starts
and written with pyarrow, so a fresh seed costs no Spark job.  The oracles come
from code paths independent of the timed operators
(``spatial_join_bruteforce``, ``knn_broadcast``, numpy point-in-polygon,
``tiling.enumerate_windows``, closed-form planted hashes) and are stored as
JSON, so neither the timed loop nor the set-up pays for them.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ukis_pysat_spark import datagen
from ukis_pysat_spark.operators import knn, spatial_join, tiling

SKEW = 0.2  # bench.py's hotspot share, for scenes and AOIs alike
FILES = 8  # parquet files per table: one scan task per core and then some
TILE = (32, 32, 4)  # tile_pixels(width, height, overlap)

# the payload corpus of the write side: bench.py's scene-like
# 4x256x256 uint16 (512 KiB) rows
PAYLOAD_SHAPE = (4, 256, 256, "uint16")
N_PAYLOADS = 16
COMMIT_BATCHES = 4

# the phash corpus: bench.py's closed-form 62-bit mix, 2 % planted
# variants at hamming 0..4, plus a hot share whose block-0 keys are equal
N_HASHES = 20_000
N_HOT = 256  # >= dedup._SUB_MIN rows in one (blk, key) run
HOT_KEY = 0x0ABC  # the shared low 13 bits (block 0 of 5 over 64 bits)
MAX_HAMMING = 4

_LIST = pa.list_(pa.float64())
SCENE_SCHEMA = pa.schema([
    ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
    ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
    ("phash", pa.int64()), ("bands", pa.int32()), ("dtype", pa.string()),
    ("crs", pa.string()), ("transform", _LIST), ("nodata", pa.float64()),
    ("footprint_lon", _LIST), ("footprint_lat", _LIST), ("platform", pa.string()),
])
AOI_SCHEMA = pa.schema(
    [("aoi_id", pa.string()), ("ring_lon", _LIST), ("ring_lat", _LIST)]
    + [(c, pa.float64()) for c in (
        "centroid_lon", "centroid_lat", "lon_min", "lat_min", "lon_max", "lat_max")]
)
HASH_SCHEMA = pa.schema([("image_id", pa.string()), ("phash", pa.int64())])


def write_images(path: str, n: int, seed: int, profile: str) -> None:
    """n image rows in FILES Parquet files."""
    os.makedirs(path)
    for i, ids in enumerate(np.array_split(np.arange(n), FILES)):
        if len(ids):
            tbl = pa.Table.from_pandas(datagen.images_pdf(ids, seed, profile, "raw", SKEW),
                                       schema=SCENE_SCHEMA, preserve_index=False)
            pq.write_table(tbl, os.path.join(path, f"part-{i:03d}.parquet"))


def pip_numpy(px, py, rx, ry) -> np.ndarray:
    """Crossing-number point-in-ring for many points against one closed
    ring; points on an edge count as inside (closed boundary)."""
    x1, x2 = rx[:-1][None, :], rx[1:][None, :]
    y1, y2 = ry[:-1][None, :], ry[1:][None, :]
    P, Q = px[:, None], py[:, None]
    straddle = (y1 > Q) != (y2 > Q)
    with np.errstate(divide="ignore", invalid="ignore"):
        xc = x1 + (Q - y1) * (x2 - x1) / (y2 - y1)
    inside = (straddle & (P < xc)).sum(axis=1) % 2 == 1
    cross = (x2 - x1) * (Q - y1) - (y2 - y1) * (P - x1)
    on_edge = (
        (cross == 0)
        & (P >= np.minimum(x1, x2)) & (P <= np.maximum(x1, x2))
        & (Q >= np.minimum(y1, y2)) & (Q <= np.maximum(y1, y2))
    ).any(axis=1)
    return inside | on_edge


def scene_centre(footprint_lon, footprint_lat) -> tuple[float, float]:
    """A scene's centre: the middle of its footprint's bbox."""
    return (
        (min(footprint_lon) + max(footprint_lon)) / 2,
        (min(footprint_lat) + max(footprint_lat)) / 2,
    )


def sat_pairs(ids, scenes, rings) -> list:
    """(image, aoi) pairs whose closed geometries intersect, for axis-box
    footprints against convex AOI rings without antimeridian wrap: the
    bboxes overlap and no edge normal of the ring separates the box."""
    lon = np.array([r["footprint_lon"] for r in scenes])
    lat = np.array([r["footprint_lat"] for r in scenes])
    x0, x1, y0, y1 = lon.min(1), lon.max(1), lat.min(1), lat.max(1)
    corners = np.stack([np.stack([x0, y0], 1), np.stack([x1, y0], 1),
                        np.stack([x1, y1], 1), np.stack([x0, y1], 1)], 1)  # (n, 4, 2)
    out = []
    for aid, (rl, ra) in rings.items():
        q = np.stack([rl, ra], 1)
        cand = np.flatnonzero((x0 <= q[:, 0].max()) & (x1 >= q[:, 0].min())
                              & (y0 <= q[:, 1].max()) & (y1 >= q[:, 1].min()))
        keep = np.ones(len(cand), dtype=bool)
        for (ax, ay), (bx, by) in zip(q[:-1], q[1:]):
            n = np.array([ay - by, bx - ax])  # the edge's normal
            pq = q @ n
            pb = corners[cand] @ n
            keep &= ~((pb.max(1) < pq.min()) | (pb.min(1) > pq.max()))
        out += [(ids[i], aid) for i in cand[keep]]
    return out


def is_box(ring_lon) -> bool:
    """An axis-aligned box ring has two distinct longitudes."""
    return len(set(ring_lon)) == 2


class Cached:
    """One corpus directory: its tables, ``tables.json`` (generation
    seconds) and ``oracle.json`` (oracle results and seconds)."""

    def __init__(self, root: str, tag: str, seed: int):
        self.dir = os.path.join(root, tag)
        self.seed = seed
        self.gen_s = 0.0
        self.oracle_s = 0.0
        self._oracle: dict | None = None

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def build(self) -> None:
        """Write the tables unless cached (no Spark involved)."""
        done = self.path("tables.json")
        if not os.path.exists(done):
            shutil.rmtree(self.dir, ignore_errors=True)
            os.makedirs(self.dir)
            t0 = time.perf_counter()
            self._write()
            with open(done, "w") as fh:
                json.dump({"gen_s": time.perf_counter() - t0}, fh)
        with open(done) as fh:
            self.gen_s = json.load(fh)["gen_s"]

    def oracle(self, spark) -> dict:
        """The oracle results, computed on first use and cached as JSON."""
        if self._oracle is None:
            path = self.path("oracle.json")
            if not os.path.exists(path):
                t0 = time.perf_counter()
                doc = self._oracle_doc(spark)
                doc["_oracle_s"] = time.perf_counter() - t0
                with open(path + ".tmp", "w") as fh:
                    json.dump(doc, fh)
                os.replace(path + ".tmp", path)
            with open(path) as fh:
                self._oracle = json.load(fh)
            self.oracle_s = self._oracle.pop("_oracle_s")
        return self._oracle

    def _write(self) -> None:
        raise NotImplementedError

    def _oracle_doc(self, spark) -> dict:
        raise NotImplementedError


class Scenes(Cached):
    """Scene and AOI tables (``bench`` profile: 128x128 int16) with the
    oracle parts a workload asks for: ``sj`` (spatial_join_bruteforce) or
    ``sat`` (the same pairs from a numpy separating-axis test; the brute
    force sends every scene x AOI pair through the Python refine, about
    12 s per million pairs on 4 cores), ``knn`` (knn_broadcast), ``pia`` (numpy PIP of the scene centres),
    ``tiles`` (sum of enumerate_windows) and ``zonal`` (numpy pixel-centre
    PIP over the exact pairs)."""

    def __init__(self, root: str, seed: int, n_scenes: int, n_aois: int, parts: tuple):
        super().__init__(root, f"scenes-s{seed}-n{n_scenes}-a{n_aois}", seed)
        self.n_scenes, self.n_aois, self.parts = n_scenes, n_aois, parts

    def _write(self):
        write_images(self.path("scenes"), self.n_scenes, self.seed, "bench")
        os.makedirs(self.path("aois"))
        pq.write_table(
            pa.Table.from_pandas(datagen.aois_pdf(np.arange(self.n_aois), self.seed + 1, SKEW),
                                 schema=AOI_SCHEMA, preserve_index=False),
            os.path.join(self.path("aois"), "part-000.parquet"))

    def _oracle_doc(self, spark) -> dict:
        scenes = spark.read.parquet(self.path("scenes"))
        aois = spark.read.parquet(self.path("aois"))
        cols = ["image_id", "caption", "transform", "w", "h", "footprint_lon", "footprint_lat"]
        st = pq.read_table(self.path("scenes"), columns=cols).to_pylist()
        meta = {r["image_id"]: [r["caption"], r["transform"], r["w"], r["h"]] for r in st}
        rings = {
            r["aoi_id"]: [r["ring_lon"], r["ring_lat"]]
            for r in pq.read_table(self.path("aois"), columns=["aoi_id", "ring_lon", "ring_lat"])
            .to_pylist()
        }
        ids = [r["image_id"] for r in st]
        centres = np.array([scene_centre(r["footprint_lon"], r["footprint_lat"]) for r in st])
        doc = {"meta": meta, "rings": rings, "centres": centres.tolist(), "ids": ids}
        if {"sj", "zonal"} & set(self.parts):
            doc["sj"] = sorted(
                tuple(r) for r in spatial_join.spatial_join_bruteforce(scenes, aois).collect())
        if "sat" in self.parts:
            doc["sj"] = sorted(sat_pairs(ids, st, rings))
        if "knn" in self.parts:
            doc["knn"] = sorted(
                (r["aoi_id"], r["image_id"], int(r["rank"]), float(r["dist_km"]))
                for r in knn.knn_broadcast(scenes, aois, k=5).collect()
            )
        if "pia" in self.parts:
            doc["pia"] = sorted(self._pia(ids, centres, rings))
        if "tiles" in self.parts:
            doc["tiles"] = int(sum(
                len(tiling.enumerate_windows(m[2], m[3], *TILE)) for m in meta.values()))
        if "zonal" in self.parts:
            doc["zonal"] = self._zonal(doc["sj"], meta, rings)
        if not {"sj", "sat"} & set(self.parts):
            doc.pop("sj", None)
        return doc

    @staticmethod
    def _pia(ids, centres, rings) -> list:
        """(point, aoi) pairs of every scene centre inside an AOI ring."""
        out = []
        for aid, (rl, ra) in rings.items():
            rl, ra = np.array(rl), np.array(ra)
            cand = np.flatnonzero((centres[:, 0] >= rl.min()) & (centres[:, 0] <= rl.max())
                                  & (centres[:, 1] >= ra.min()) & (centres[:, 1] <= ra.max()))
            inside = pip_numpy(centres[cand, 0], centres[cand, 1], rl, ra)
            out += [(ids[i], aid) for i in cand[inside]]
        return out

    def _zonal(self, pairs, meta, rings) -> list:
        """[image, aoi, n, sum, min, max] of every exact-join pair with a
        valid (non-zero) pixel whose centre lies inside the ring (closed)."""
        out, masks, pixels = [], {}, {}
        for iid, aid in pairs:
            _, t, w, h = meta[iid]
            # scenes on the hotspot share one grid: one mask per (grid, ring)
            key = (tuple(t), w, h, aid)
            if key not in masks:
                gx, gy = np.meshgrid(t[2] + (np.arange(w) + 0.5) * t[0],
                                     t[5] + (np.arange(h) + 0.5) * t[4])
                rl, ra = rings[aid]
                masks[key] = pip_numpy(
                    gx.ravel(), gy.ravel(), np.array(rl), np.array(ra)).reshape(h, w)
            if iid not in pixels:
                pixels[iid] = datagen.pixels_for(int(iid[3:]), 1, h, w, "int16", self.seed)[0]
            arr = pixels[iid]
            v = arr[masks[key] & (arr != 0)].astype(np.float64)
            if v.size:
                out.append([iid, aid, int(v.size), float(v.sum()), float(v.min()), float(v.max())])
        return out


class Payloads(Cached):
    """N_PAYLOADS scene-like rows (``toa_bench`` profile) for the write
    side; the read-back oracle is ``datagen.pixels_for`` itself."""

    def __init__(self, root: str, seed: int):
        super().__init__(root, f"payloads-s{seed}-n{N_PAYLOADS}", seed)

    def _write(self):
        write_images(self.path("payloads"), N_PAYLOADS, self.seed, "toa_bench")

    def _oracle_doc(self, spark) -> dict:
        return {}

    def pixels(self, image_id: str) -> np.ndarray:
        b, h, w, dt = PAYLOAD_SHAPE
        return datagen.pixels_for(int(image_id[3:]), b, h, w, dt, self.seed)


def _mix(x: np.ndarray) -> np.ndarray:
    """bench.py's closed-form 62-bit hash mix, in wrapping uint64."""
    m31 = np.uint64((1 << 31) - 1)
    lo = (x * np.uint64(2654435761)) & m31
    hi = (x * np.uint64(2246822519)) & m31
    return lo + (hi << np.uint64(31))


def phash_values(n: int, seed: int) -> np.ndarray:
    """bench.py's phash corpus with the seed folded into the mix input:
    every 50th row (id % 50 == 49) is row id-7 with (id % 5) bits flipped;
    N_HOT further rows keep random upper bits over the shared block-0 key
    HOT_KEY, one hot (blk, key) run whose rows are no near-duplicates."""
    ids = np.arange(n, dtype=np.uint64)
    base = np.uint64(seed) * np.uint64(1_000_003)
    h = _mix(ids + base)
    planted = (ids % np.uint64(50)) == np.uint64(49)
    flips = ((np.uint64(1) << (ids % np.uint64(5))) - np.uint64(1)) << (
        (ids * np.uint64(5)) % np.uint64(54))
    h = np.where(planted, _mix(ids - np.uint64(7) + base) ^ flips, h)
    hot = np.arange(n - N_HOT, n)
    low13 = np.uint64((1 << 13) - 1)
    h[hot] = (h[hot] & ~low13) | np.uint64(HOT_KEY)
    return h.view(np.int64)


class Hashes(Cached):
    """The phash table (image_id, phash); the oracle is the planted pair
    list, which is closed-form."""

    def __init__(self, root: str, seed: int):
        super().__init__(root, f"hashes-s{seed}-n{N_HASHES}", seed)

    def _write(self):
        os.makedirs(self.path("hashes"))
        h = phash_values(N_HASHES, self.seed)
        ids = pa.array([f"ph{i:07d}" for i in range(N_HASHES)])
        for i, part in enumerate(np.array_split(np.arange(N_HASHES), FILES)):
            pq.write_table(pa.table({"image_id": ids.take(part), "phash": pa.array(h[part])},
                                    schema=HASH_SCHEMA),
                           os.path.join(self.path("hashes"), f"part-{i:03d}.parquet"))

    def _oracle_doc(self, spark) -> dict:
        h = phash_values(N_HASHES, self.seed).tolist()
        hot = set(range(N_HASHES - N_HOT, N_HASHES))
        # a planted row or its source moved into the hot share is no longer
        # a planted pair
        planted = [(f"ph{i - 7:07d}", f"ph{i:07d}") for i in range(49, N_HASHES, 50)
                   if i not in hot and i - 7 not in hot]
        return {"planted": planted, "hash": {f"ph{i:07d}": v for i, v in enumerate(h)}}
