"""Self-test of the benchmark's output checks: every operation, run once
with its operator's output corrupted on purpose (about half of the rows
dropped), must be counted as failed, and once uncorrupted must pass.  The
numpy join oracle of vector_join must equal ``spatial_join_bruteforce``.

    python3 perfbench/selftest.py [--seed 21]

Run from the root of a source tree, like run.py.  Exits 1 when a
corrupted output slips through or a clean one fails.
"""

from __future__ import annotations

import argparse
import sys

import run

# the operator each operation calls, as (module attribute of workloads, function)
TARGETS = {
    "spatial_join": ("spatial_join", "spatial_join"),
    "knn_indexed": ("knn", "knn_indexed"),
    "tile_pixels": ("tiling", "tile_pixels"),
    "hillshade": ("transforms", "apply_transforms"),
    "zonal_stats": ("zonal", "zonal_stats"),
    "points_in_aois": ("spatial_join", "points_in_aois"),
    "phash_neardup": ("dedup", "phash_neardup"),
    "components": ("graph", "connected_components"),
    "geotiff_commit": ("sinks", "to_geotiff"),
    "resume_readback": ("sinks", "from_geotiff"),
}


class Dropping:
    """Stand-in for an operator module whose ``fn`` loses about half of
    its output rows."""

    def __init__(self, mod, fn: str):
        self._mod, self._fn = mod, fn

    def __getattr__(self, name):
        attr = getattr(self._mod, name)
        if name != self._fn:
            return attr

        def corrupted(*args, **kwargs):
            import pyspark.sql.functions as F

            df = attr(*args, **kwargs)
            return df.where(F.pmod(F.xxhash64(*df.columns), F.lit(2)) != 0)

        return corrupted


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=21)
    args = p.parse_args()
    run._prepare_env()
    import workloads
    from ukis_pysat_spark.operators import spatial_join

    bench = run.Bench("vector_join", args.seed, trace=False)
    ok = True
    try:
        bench.start()
        for name, cls in workloads.WORKLOADS.items():
            bench.wl = cls(run.DATA, args.seed)
            bench.wl.build()
            bench.wl.open(bench.spark)
            for op in bench.wl.ops() + bench.wl.probe_ops():
                attr, fn = TARGETS[op.name]
                real = getattr(workloads, attr)
                for corrupt in (True, False):
                    setattr(workloads, attr, Dropping(real, fn) if corrupt else real)
                    failed = bench.failed
                    try:
                        bench.run_op(op)
                    finally:
                        setattr(workloads, attr, real)
                    bench.check_all()
                    counted = bench.failed - failed
                    good = counted == (1 if corrupt else 0)
                    ok &= good
                    state = "corrupted" if corrupt else "clean"
                    print(f"{name}/{op.name} {state}: failed={counted} "
                          f"{'ok' if good else 'WRONG'}", flush=True)
            if "sat" in bench.wl.ORACLES:
                # the numpy oracle of the join pairs against the brute force
                brute = spatial_join.spatial_join_bruteforce(bench.wl.scenes, bench.wl.aois)
                good = {tuple(r) for r in brute.collect()} == {
                    tuple(p) for p in bench.wl.oracle["sj"]}
                ok &= good
                print(f"{name} numpy join oracle == spatial_join_bruteforce: "
                      f"{'ok' if good else 'WRONG'}", flush=True)
    finally:
        bench.close()
        for cls in workloads.WORKLOADS.values():
            cls(run.DATA, args.seed).cleanup()
    print("selftest", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
