"""The benchmark workloads: their operations, output checks and traced
per-layer probes.

An operation calls one public operator and forces it to completion with a
single Spark action that also returns what its check needs.  The check
compares that with the corpus oracle and raises ``CheckFailed`` on a
wrong output; it runs outside the operation's timing.

Each workload has timed operations (``ops``), run in every job, and probe
operations (``probe_ops``), run once and checked the same way in the
traced run only: the write side (``sinks``, ``plans.checkpoint``) on
raster_pixels and the near-duplicate side (``dedup``, ``graph``) on
vector_join.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pyspark.sql.functions as F

from ukis_pysat_spark import codec, datagen, sinks
from ukis_pysat_spark.operators import (
    dedup, geometry, graph, knn, spatial_join, terrain, tiling, transforms, zonal,
)
from ukis_pysat_spark.plans import checkpoint

import corpora


class CheckFailed(AssertionError):
    """An operation's output disagrees with its oracle."""


def expect(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _idx(image_id: str) -> int:
    return int(image_id[3:])


def _pairs(tbl, a: str, b: str) -> list[tuple]:
    return list(zip(tbl.column(a).to_pylist(), tbl.column(b).to_pylist()))


def _python_warmup(batches):
    """Identity Arrow stage that imports the package in each Python worker."""
    import ukis_pysat_spark.operators.arrowio  # noqa: F401

    yield from batches


class Op:
    """A named operation: ``prep`` (untimed, optional), ``run`` (timed,
    returns (output rows, result)) and ``check`` (untimed, on the result)."""

    def __init__(self, name: str, run, check, prep=None):
        self.name, self.run, self.check, self.prep = name, run, check, prep


def _timed(tr, name, fn):
    """(seconds, result) of fn() run inside a span."""
    with tr.span(name):
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
    return dt, out


class SceneWorkload:
    """Base of the workloads over a seeded scene + AOI corpus."""

    name = ""
    N_SCENES = N_AOIS = 0
    ORACLES: tuple = ()
    # the scene columns the workload's operators read (the scan probe)
    SCENE_COLS: list[str] = []

    def __init__(self, root: str, seed: int):
        self.root, self.seed = root, seed
        self.corpus = corpora.Scenes(root, seed, self.N_SCENES, self.N_AOIS, self.ORACLES)
        self.corpora = [self.corpus]
        self.spark = None
        self.scenes = self.aois = None

    @property
    def oracle(self) -> dict:
        return self.corpus.oracle(self.spark)

    @property
    def gen_s(self) -> float:
        return sum(c.gen_s for c in self.corpora)

    @property
    def oracle_s(self) -> float:
        return sum(c.oracle_s for c in self.corpora)

    def build(self) -> None:
        for c in self.corpora:
            c.build()

    def input_paths(self) -> list[str]:
        return [self.corpus.path("scenes"), self.corpus.path("aois")]

    def open(self, spark) -> None:
        self.spark = spark
        self.scenes = spark.read.parquet(self.corpus.path("scenes"))
        self.aois = spark.read.parquet(self.corpus.path("aois"))

    def warm(self, cores: int) -> None:
        """Light warm-up job of a fresh session: start the Python workers."""
        self.spark.range(cores, numPartitions=cores).mapInArrow(
            _python_warmup, "id long"
        ).count()

    def ops(self) -> list[Op]:
        raise NotImplementedError

    def probe_ops(self) -> list[Op]:
        return []

    def layers(self, tr, op_s: dict, results: dict) -> dict:
        raise NotImplementedError

    def cleanup(self) -> None:
        pass

    def _scan(self, tr) -> dict:
        s, _ = _timed(tr, "scan", lambda: _noop(self.scenes.select(*self.SCENE_COLS)))
        return {"scan.s": s}

    def _spatial(self, tr) -> dict:
        """Cover (``with_cells`` on both sides) and candidate phase
        (``candidate_pairs``) of the footprint x AOI join.  The cell-join
        rows before the pair dedup are read from Spark's SQL metrics of
        the candidate phase's own plan."""
        icells = spatial_join.with_cells(
            self.scenes.select("image_id", "footprint_lon", "footprint_lat"),
            "footprint_lon", "footprint_lat", 12)
        acells = spatial_join.with_cells(
            self.aois.select("aoi_id", "ring_lon", "ring_lat"), "ring_lon", "ring_lat", 12)
        cover_s, cover_rows = _timed(
            tr, "spatial_join.cover", lambda: icells.count() + acells.count())
        cand_s, cands = _timed(
            tr, "spatial_join.candidates",
            lambda: spatial_join.candidate_pairs(self.scenes, self.aois, res=12).count(),
        )
        cell_rows = tr.pre_dedup_rows("spatial_join.candidates")
        return {
            "spatial_join.cover_rows": cover_rows,
            "spatial_join.cover_s": cover_s,
            "spatial_join.cell_join_rows": cell_rows,
            "spatial_join.candidates": cands,
            "spatial_join.dup_factor": cell_rows / max(cands, 1),
            "spatial_join.candidate_s": cand_s,
            "spatial_join.exact_yield": len(self.oracle["sj"]) / max(cands, 1),
            "spatial_join.dedup_shuffle_bytes": tr.dedup_exchange_bytes("spatial_join.candidates"),
        }


# --- vector_join --------------------------------------------------------------


class VectorJoin(SceneWorkload):
    """Footprint x AOI join, indexed kNN and scene-centre point-in-AOI over
    the scene table; no operation reads the ``bytes`` payload column.  The
    traced run adds the phash near-duplicate join and its components."""

    name = "vector_join"
    N_SCENES, N_AOIS = 1500, 700
    ORACLES = ("sat", "knn", "pia")
    SCENE_COLS = ["image_id", "footprint_lon", "footprint_lat", "transform", "w", "h"]

    def __init__(self, root, seed):
        super().__init__(root, seed)
        self.hash_corpus = corpora.Hashes(root, seed)
        self.corpora.append(self.hash_corpus)
        self.hashes = None
        self._edges = None

    def input_paths(self):
        return super().input_paths() + [self.hash_corpus.path("hashes")]

    def open(self, spark):
        super().open(spark)
        self.hashes = spark.read.parquet(self.hash_corpus.path("hashes"))

    def points(self):
        """The scene centres as (point_id, lon, lat)."""
        return self.scenes.select(
            F.col("image_id").alias("point_id"),
            ((F.array_min("footprint_lon") + F.array_max("footprint_lon")) / 2).alias("lon"),
            ((F.array_min("footprint_lat") + F.array_max("footprint_lat")) / 2).alias("lat"),
        )

    def ops(self):
        return [
            Op("spatial_join", self._sj, self._check_sj),
            Op("knn_indexed", self._knn, self._check_knn),
            Op("points_in_aois", self._pia, self._check_pia),
        ]

    def probe_ops(self):
        return [
            Op("phash_neardup", self._phash, self._check_phash),
            Op("components", self._components, self._check_components, prep=self._prep_edges),
        ]

    def _sj(self):
        t = spatial_join.spatial_join(self.scenes, self.aois, res=12).toArrow()
        return t.num_rows, t

    def _check_sj(self, t):
        got = _pairs(t, "image_id", "aoi_id")
        expect(len(got) == len(set(got)), "spatial_join emitted a pair twice")
        expect(set(got) == {tuple(p) for p in self.oracle["sj"]},
               "spatial_join pairs differ from the oracle pairs")

    def _knn(self):
        rows = knn.knn_indexed(self.scenes, self.aois, k=5, res=6, ring=2).collect()
        return len(rows), [(r["aoi_id"], r["image_id"], r["rank"], r["dist_km"]) for r in rows]

    def _check_knn(self, got):
        want = self.oracle["knn"]
        expect(sorted(g[:3] for g in got) == [tuple(w[:3]) for w in want],
               "knn_indexed ranks differ from knn_broadcast")
        got_d = np.array([g[3] for g in sorted(got)])
        expect(np.allclose(got_d, [w[3] for w in want], rtol=1e-12),
               "knn_indexed distances differ from knn_broadcast")

    def _pia(self):
        t = spatial_join.points_in_aois(self.points(), self.aois, res=12).toArrow()
        return t.num_rows, t

    def _check_pia(self, t):
        got = _pairs(t, "point_id", "aoi_id")
        expect(len(got) == len(set(got)), "points_in_aois emitted a pair twice")
        expect(set(got) == {tuple(p) for p in self.oracle["pia"]},
               "points_in_aois pairs differ from the numpy PIP")

    def _phash(self):
        t = dedup.phash_neardup(self.hashes, max_hamming=corpora.MAX_HAMMING).toArrow()
        self._edges = t
        return t.num_rows, t

    def _check_phash(self, t):
        got = _pairs(t, "id_a", "id_b")
        h = self.hash_corpus.oracle(self.spark)
        expect(len(got) == len(set(got)), "phash_neardup emitted a pair twice")
        expect(all(a < b for a, b in got), "phash_neardup pair not ordered id_a < id_b")
        expect(all(bin((h["hash"][a] ^ h["hash"][b]) & (2**64 - 1)).count("1")
                   <= corpora.MAX_HAMMING for a, b in got),
               "phash_neardup emitted a pair beyond the hamming bound")
        missing = {tuple(p) for p in h["planted"]} - set(got)
        expect(not missing, f"phash_neardup missed {len(missing)} planted pairs")

    def _prep_edges(self):
        self._edge_df = self.spark.createDataFrame(
            self._edges.select(["id_a", "id_b"]).to_pandas())

    def _components(self):
        self._cc_stats = {}
        t = graph.connected_components(self._edge_df, stats=self._cc_stats).toArrow()
        return t.num_rows, (_pairs(t, "node", "comp"), _pairs(self._edges, "id_a", "id_b"))

    @staticmethod
    def _check_components(res):
        got, edges = res
        parent: dict[str, str] = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)  # the root stays the smallest id
        want = {x: find(x) for x in list(parent)}
        expect(len(got) == len(want) and dict(got) == want,
               "connected_components differs from a driver union-find")

    def _geometry(self) -> dict:
        """In-process points_in_rings_pairwise over the scene centres and
        the non-box AOI rings whose bboxes they fall in: the pairs the
        points_in_aois refine receives."""
        c = np.array(self.oracle["centres"])
        qx, qy, rx, ry = [], [], [], []
        for rl, ra in self.oracle["rings"].values():
            if corpora.is_box(rl):
                continue
            hit = np.flatnonzero((c[:, 0] >= min(rl)) & (c[:, 0] <= max(rl))
                                 & (c[:, 1] >= min(ra)) & (c[:, 1] <= max(ra)))
            qx.append(c[hit, 0])
            qy.append(c[hit, 1])
            rx += [rl] * len(hit)
            ry += [ra] * len(hit)
        qx, qy = np.concatenate(qx), np.concatenate(qy)
        reps = []
        for _ in range(5):
            t0 = time.perf_counter()
            geometry.points_in_rings_pairwise(qx, qy, rx, ry)
            reps.append(time.perf_counter() - t0)
        return {
            "geometry.pip_pairs_per_s": len(qx) / statistics.median(reps),
            # computed bytes: a point (2 doubles) and its ring's vertices
            "geometry.probe_bytes": float(16 * len(qx) + 16 * sum(len(r) for r in rx)),
        }

    def _dedup_graph(self, tr, op_s, results) -> dict:
        blocks = dedup.hamming_blocks(self.hashes, "image_id", "phash", corpora.MAX_HAMMING)
        blocks_s, block_rows = _timed(tr, "dedup.blocks", blocks.count)
        cnt = F.col("count")
        runs = blocks.groupBy("blk", "key").count().agg(
            F.max(cnt).alias("max_run"), F.sum(cnt * (cnt - 1) / 2).alias("probes")).first()
        pairs = results["phash_neardup"].num_rows
        st = self._cc_stats
        return {
            "dedup.block_rows": block_rows,
            "dedup.blocks_s": blocks_s,
            "dedup.max_run": runs["max_run"],
            "dedup.naive_probes": runs["probes"],
            "dedup.pairs": pairs,
            "dedup.pair_yield": pairs / max(runs["probes"], 1),
            "dedup.verify_self_s": op_s["phash_neardup"] - blocks_s,
            "graph.rounds": st.get("rounds", 0),
            "graph.labelprop": float(st.get("algorithm") == "labelprop"),
            "graph.components": len({c for _, c in results["components"][0]}),
        }

    def layers(self, tr, op_s, results):
        m = self._scan(tr)
        m.update(self._spatial(tr))
        m.update(self._geometry())
        m["knn.centroids_s"], _ = _timed(
            tr, "knn.centroids", lambda: _noop(knn.scene_centroids(self.scenes)))
        m["knn.broadcast_s"], _ = _timed(
            tr, "knn.broadcast", lambda: knn.knn_broadcast(self.scenes, self.aois, k=5).collect())
        m.update(self._dedup_graph(tr, op_s, results))
        timed = [op.name for op in self.ops()]
        m["share.spatial_join"] = (
            (op_s["spatial_join"] + op_s["points_in_aois"]) / sum(op_s[k] for k in timed))
        return m


# --- raster_pixels ------------------------------------------------------------


class RasterPixels(SceneWorkload):
    """Tile extraction, hillshade and zonal statistics over the scene
    table: decode, numpy kernels, encode and the Arrow boundary.  The
    traced run adds the GeoTIFF commit through the checkpointed stage
    driver and its resume + read-back."""

    name = "raster_pixels"
    N_SCENES, N_AOIS = 600, 100
    ORACLES = ("sj", "tiles", "zonal")
    SCENE_COLS = ["image_id", "bytes", "w", "h", "fmt", "caption", "transform", "nodata",
                  "crs", "footprint_lon", "footprint_lat"]
    STAGE = "gtiff"

    def __init__(self, root, seed):
        super().__init__(root, seed)
        self.payload_corpus = corpora.Payloads(root, seed)
        self.corpora.append(self.payload_corpus)
        self.payloads = None
        self._pixels: dict[int, np.ndarray] = {}
        self._ckpt = None

    def input_paths(self):
        return super().input_paths() + [self.payload_corpus.path("payloads")]

    def open(self, spark):
        super().open(spark)
        self.payloads = spark.read.parquet(self.payload_corpus.path("payloads"))

    def ops(self):
        return [
            Op("tile_pixels", self._tiles, self._check_tiles),
            Op("hillshade", self._hillshade, self._check_hillshade),
            Op("zonal_stats", self._zonal, self._check_zonal),
        ]

    def probe_ops(self):
        return [
            Op("geotiff_commit", self._commit, self._check_commit, prep=self._prep_commit),
            Op("resume_readback", self._readback, self._check_readback),
        ]

    def pixels(self, image_id: str) -> np.ndarray:
        i = _idx(image_id)
        if i not in self._pixels:
            self._pixels[i] = datagen.pixels_for(i, 1, 128, 128, "int16", self.seed)
        return self._pixels[i]

    def _tiles(self):
        out = tiling.tile_pixels(self.scenes, *corpora.TILE)
        sample = F.pmod(F.xxhash64("image_id", "tile_id"), F.lit(128)) == 0
        row = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.collect_list(F.when(sample, F.struct(
                "image_id", "col_off", "row_off", "tw", "th", "px", "caption"))).alias("s"),
        ).first()
        return row["n"], (row["n"], row["s"])

    def _check_tiles(self, res):
        n, sample = res
        expect(n == self.oracle["tiles"], f"{n} tiles, want {self.oracle['tiles']}")
        expect(len(sample) > 0, "no tile in the check sample")
        for s in sample:
            r0, c0 = s["row_off"], s["col_off"]
            want = self.pixels(s["image_id"])[:, r0:r0 + s["th"], c0:c0 + s["tw"]]
            got = codec.decode(bytes(s["px"]))
            expect(got.shape == want.shape and np.allclose(got, want), "tile pixels differ")
            expect(s["caption"] == self.oracle["meta"][s["image_id"]][0], "tile caption differs")

    def _hillshade(self):
        out = transforms.apply_transforms(self.scenes, [terrain.hillshade()], out_fmt="raw")
        sample = F.pmod(F.xxhash64("image_id"), F.lit(32)) == 0
        row = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.collect_list(F.when(sample, F.struct("image_id", "bytes"))).alias("s"),
        ).first()
        return row["n"], (row["n"], row["s"])

    def _check_hillshade(self, res):
        n, sample = res
        expect(n == self.N_SCENES, f"hillshade returned {n} scenes")
        expect(len(sample) > 0, "no scene in the hillshade check sample")
        fn = terrain.hillshade()
        for s in sample:
            meta = {"transform": self.oracle["meta"][s["image_id"]][1], "nodata": 0.0,
                    "crs": "EPSG:4326"}
            want, _ = fn(self.pixels(s["image_id"]), meta)
            expect(np.array_equal(codec.decode(bytes(s["bytes"])), want),
                   "hillshade differs from the in-process kernel")

    def _zonal(self):
        rows = zonal.zonal_stats(self.scenes, self.aois, res=12).collect()
        return len(rows), rows

    def _check_zonal(self, rows):
        want = {(w[0], w[1]): w[2:] for w in self.oracle["zonal"]}
        got = {(r["image_id"], r["aoi_id"]): r for r in rows}
        expect(len(got) == len(rows), "zonal_stats repeated an (image, aoi) row")
        expect(set(got) == set(want), "zonal_stats pairs differ from the numpy oracle")
        for k, (n, s1, mn, mx) in want.items():
            g = got[k]
            expect(g["band"] == 0 and g["n_valid"] == n and g["min"] == mn and g["max"] == mx
                   and np.isclose(g["sum"], s1, rtol=1e-12)
                   and np.isclose(g["mean"], s1 / n, rtol=1e-12),
                   f"zonal_stats values differ for {k}")

    # --- write side (traced run) ---------------------------------------------

    def _ckpt_base(self) -> str:
        return os.path.join(self.root, "checkpoints")

    def cleanup(self):
        shutil.rmtree(self._ckpt_base(), ignore_errors=True)

    def _commits(self) -> dict[str, int]:
        """Committed batch directories of the stage -> their _SUCCESS mtime."""
        root = os.path.join(self._ckpt.base, self.STAGE)
        out = {}
        for d in sorted(os.listdir(root)) if os.path.isdir(root) else []:
            ok = os.path.join(root, d, "_SUCCESS")
            if d.startswith("batch=") and os.path.exists(ok):
                out[d] = os.stat(ok).st_mtime_ns
        return out

    def _stage(self) -> None:
        checkpoint.run_stage_in_batches(
            self._ckpt, self.payloads, self.STAGE, "image_id",
            lambda df: sinks.to_geotiff(df, compression="deflate"),
            n_batches=corpora.COMMIT_BATCHES,
        )

    def _prep_commit(self):
        self.cleanup()
        self._ckpt = checkpoint.CheckpointedRun(self.spark, self._ckpt_base())

    def _commit(self):
        self._stage()
        commits = self._commits()
        return len(commits), commits

    def _check_commit(self, commits):
        lineage = self._ckpt.metrics(self.STAGE).toArrow()
        expect(len(commits) > 0, "the first pass committed no batch")
        expect(sum(lineage.column("row_count").to_pylist()) == corpora.N_PAYLOADS,
               "lineage row_count does not sum to the input rows")
        expect(set(lineage.column("batch_id").to_pylist()) == {
            c.split("=", 1)[1] for c in commits}, "lineage batches differ from the commits")

    def _readback(self):
        before = self._commits()
        self._stage()  # the resume pass: every batch is committed already
        after = self._commits()
        t = sinks.from_geotiff(self._ckpt.committed(self.STAGE), tiff_col="tiff").select(
            "image_id", "bytes").toArrow()
        return t.num_rows, (before, after, t)

    def _check_readback(self, res):
        before, after, t = res
        expect(after == before, "the resume pass committed a batch")
        ids = t.column("image_id").to_pylist()
        expect(sorted(ids) == [f"img{i:08d}" for i in range(corpora.N_PAYLOADS)],
               "GeoTIFF read-back rows differ from the input rows")
        for iid, payload in zip(ids, t.column("bytes").to_pylist()):
            got, want = codec.decode(payload), self.payload_corpus.pixels(iid)
            expect(got.dtype == want.dtype and np.array_equal(got, want),
                   f"GeoTIFF read-back of {iid} is not lossless")

    def _codec_terrain(self) -> dict:
        """In-process codec and hillshade kernel on the workload's own
        payloads (every 16th scene), no Spark involved."""
        rows = self.scenes.where(F.substring("image_id", 4, 8).cast("int") % 16 == 0).select(
            "bytes", "transform").collect()
        payloads = [bytes(r["bytes"]) for r in rows]
        arrs = [codec.decode(p) for p in payloads]
        metas = [{"transform": list(r["transform"]), "nodata": 0.0, "crs": "EPSG:4326"}
                 for r in rows]
        fn = terrain.hillshade()
        dec, enc, hs = [], [], []
        for _ in range(5):
            t0 = time.perf_counter()
            for p in payloads:
                codec.decode(p)
            t1 = time.perf_counter()
            for a in arrs:
                codec.encode(a, "raw")
            t2 = time.perf_counter()
            for a, m in zip(arrs, metas):
                fn(a, m)
            t3 = time.perf_counter()
            dec.append(t1 - t0)
            enc.append(t2 - t1)
            hs.append(t3 - t2)
        nbytes = sum(a.nbytes for a in arrs)
        npix = sum(a.size for a in arrs)
        return {
            "codec.decode_mb_per_s": nbytes / 1e6 / statistics.median(dec),
            "codec.encode_mb_per_s": nbytes / 1e6 / statistics.median(enc),
            # computed bytes: payload read + array written, both ways
            "codec.probe_bytes": float(2 * (nbytes + sum(len(p) for p in payloads))),
            "terrain.hillshade_mpix_per_s": npix / 1e6 / statistics.median(hs),
            # computed bytes: int16 in, uint8 out
            "terrain.probe_bytes": float(nbytes + npix),
        }

    def _write_side(self, tr, op_s, results) -> dict:
        b, h, w, dt = corpora.PAYLOAD_SHAPE
        raw = corpora.N_PAYLOADS * b * h * w * np.dtype(dt).itemsize
        tiff_s, _ = _timed(tr, "sinks.to_geotiff",
                           lambda: _noop(sinks.to_geotiff(self.payloads, compression="deflate")))
        filt_s, left = _timed(tr, "checkpoint.resume_filter", lambda: self._ckpt.resume_filter(
            self.payloads, self.STAGE, "image_id").count())
        lineage = self._ckpt.metrics(self.STAGE)
        n_bytes = self._ckpt.committed(self.STAGE).agg(F.sum("n_bytes")).first()[0]
        before, after, _ = results["resume_readback"]
        batches = len(results["geotiff_commit"])
        return {
            "sinks.to_geotiff_s": tiff_s,
            "sinks.tiff_bytes_per_raw_byte": n_bytes / raw,
            "checkpoint.batches_committed": batches,
            "checkpoint.resume_batches_committed": len(set(after.items()) - set(before.items())),
            "checkpoint.commit_s": op_s["geotiff_commit"] / max(batches, 1),
            "checkpoint.resume_filter_s": filt_s,
            "checkpoint.resume_rows_left": left,
            "checkpoint.lineage_rows": lineage.count(),
        }

    def layers(self, tr, op_s, results):
        m = self._scan(tr)
        m.update(self._spatial(tr))
        m.update(self._codec_terrain())
        m["tiling.windows_s"], m["tiling.tiles"] = _timed(
            tr, "tiling.windows",
            lambda: tiling.tile_windows(self.scenes, *corpora.TILE).count())
        m["tiling.self_s"] = op_s["tile_pixels"] - m["tiling.windows_s"]
        m["zonal.stats_self_s"] = op_s["zonal_stats"] - m["spatial_join.candidate_s"]
        m["zonal.rows"] = len(results["zonal_stats"])
        m.update(self._write_side(tr, op_s, results))
        timed = [op.name for op in self.ops()]
        m["share.spatial_join"] = (
            m["spatial_join.candidate_s"] / sum(op_s[k] for k in timed))
        return m


WORKLOADS = {w.name: w for w in (VectorJoin, RasterPixels)}
