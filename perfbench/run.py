"""Seeded engine benchmark: one command per (workload, seed).

    python3 perfbench/run.py --workload vector_join --seed 1 --seconds 10 --trace 0

Run from the root of a source tree that holds ``ukis_pysat_spark/``.  The
command generates (or reuses) the workload's seeded corpus under
``.perfbench_data/``, starts a local Spark session on ``local[N]`` with
N = min(4, usable cores), and runs a closed loop of jobs with one client
and one Spark action at a time.  A job is one pass over the workload's
operations; every operation's output is checked against an oracle.

With ``--trace 0`` it prints the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` the per-layer metrics (the Spark UI and its REST endpoint
are turned on only then).  The line before the result is a run record:
host, versions, seed, input sizes, load average, per-operation medians
and the failure ratio.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(ROOT, ".perfbench_data")

SETUPS = 5  # set-ups per run; setup_s is their median
MIN_JOBS = 1  # timed jobs per run, even when --seconds is short
OP_TIMEOUT_S = 90.0  # an operation still running after this is cancelled


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _tree_hash() -> str:
    """sha1 over the package sources (the source tree need not be a git
    checkout)."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "ukis_pysat_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def _git_rev() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Bench:
    """One run: session lifecycle, set-ups, the closed job loop, failures."""

    def __init__(self, workload: str, seed: int, trace: bool):
        from workloads import WORKLOADS

        self.trace = trace
        self.cores = min(4, len(os.sched_getaffinity(0)))
        self.wl = WORKLOADS[workload](DATA, seed)
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.pending: list = []  # (op, output) awaiting its check
        self.op_cpu: dict[str, list[float]] = {}  # process-tree CPU s per operation

    # --- session ----------------------------------------------------------

    def conf(self) -> dict:
        tmp = os.path.join(DATA, "tmp")
        conf = {
            # a small heap: the host's memory is shared
            "spark.driver.memory": "2g",
            # no hsperfdata file in /tmp; temp files inside the tree; C1 only
            # (see JIT in LAYERS.md)
            "spark.driver.extraJavaOptions":
                f"-XX:MaxDirectMemorySize=1g -XX:-UsePerfData -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(DATA, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update({
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            })
        return conf

    def start(self):
        from ukis_pysat_spark import get_spark

        self.spark = get_spark(
            "perfbench", master=f"local[{self.cores}]",
            shuffle_partitions=max(self.cores, 8), extra_conf=self.conf(),
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            from spans import Tracer

            self.tracer = Tracer(self.spark.sparkContext)

    def close(self) -> None:
        """Stop Spark, end the JVM and wait for every process it started."""
        from pyspark import SparkContext

        import procs

        kids = procs.descendants(os.getpid())
        gw = SparkContext._gateway
        self.wl.cleanup()
        if self.spark is not None:
            self.spark.stop()
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        procs.wait_gone(kids)

    # --- jobs -------------------------------------------------------------

    def run_op(self, op):
        """(seconds, rows, result) of one operation; seconds is None when it
        raised or timed out.  Its output is checked later, in check_all."""
        import procs

        sc = self.spark.sparkContext
        self.attempted += 1
        timer = threading.Timer(OP_TIMEOUT_S, sc.cancelAllJobs)
        timer.start()
        try:
            if op.prep is not None:
                op.prep()
            c0 = procs.tree_cpu_s(os.getpid())[0]
            t0 = time.perf_counter()
            rows, res = op.run()
            dt = time.perf_counter() - t0
            self.op_cpu.setdefault(op.name, []).append(procs.tree_cpu_s(os.getpid())[0] - c0)
        except Exception:  # a raising or cancelled operation is a failed one
            self.failed += 1
            self.errors.append(f"{op.name}: {traceback.format_exc(limit=3)}")
            _log(self.errors[-1])
            return None, 0, None
        finally:
            timer.cancel()
        self.pending.append((op, res))
        return dt, rows, res

    def check_all(self) -> None:
        """Check every output against its oracle; a wrong output is a failed
        operation.  Deferred to the end of the run, so the oracle's own
        Spark queries (computed once per corpus) run on a warm JVM."""
        for op, res in self.pending:
            try:
                op.check(res)
            except Exception:  # a wrong output, or a check that cannot run
                self.failed += 1
                self.errors.append(f"{op.name} check: {traceback.format_exc(limit=3)}")
                _log(self.errors[-1])
        self.pending = []

    def job(self, traced: bool = False):
        """One pass over the workload's operations: ({op: seconds}, rows,
        {op: result}).  Time between operations is excluded."""
        op_s, results, rows = {}, {}, 0
        tr = self.tracer if traced else None
        for op in self.wl.ops():
            if tr is not None:
                with tr.span(f"op.{op.name}"):
                    dt, n, res = self.run_op(op)
            else:
                dt, n, res = self.run_op(op)
            if dt is not None:
                op_s[op.name], results[op.name] = dt, res
                rows += n
        return op_s, rows, results

    def loop(self, seconds: float, traced: bool = False):
        """Closed loop, one client: jobs back to back for about ``seconds``
        (at least MIN_JOBS).  Each job: (op seconds, rows, results,
        CPU seconds of the whole process tree)."""
        import procs

        jobs, t0, last = [], time.perf_counter(), 0.0
        # start a job only if it is expected to end within ``seconds``
        while len(jobs) < MIN_JOBS or time.perf_counter() - t0 + last <= seconds:
            c0 = procs.tree_cpu_s(os.getpid())
            t1 = time.perf_counter()
            if traced:
                with self.tracer.span("job"):
                    op_s, rows, res = self.job(traced=True)
            else:
                op_s, rows, res = self.job()
            c1 = procs.tree_cpu_s(os.getpid())
            jobs.append((op_s, rows, res, c1[0] - c0[0], c1[1] - c0[1]))
            last = time.perf_counter() - t1
        return jobs

    # --- one run ----------------------------------------------------------

    def setup(self) -> dict:
        """SETUPS set-ups, each a session start, opening the inputs and one
        light warm-up job; the wall and process-tree CPU seconds of each.  The first launches the JVM and the SparkContext;
        the others start a new session on it.  The corpus is generated
        (before the JVM starts) or found cached first, and is no part of a
        set-up.  No untimed pass follows: the timed loop's first job is the
        first pass over the operations, as in a batch run (see JIT in
        LAYERS.md)."""
        import procs

        times = {"setups_s": []}
        t0 = time.perf_counter()
        self.wl.build()
        times["corpus_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.start()
        first_start = time.perf_counter() - t0
        times["setups_cpu_s"] = []
        for k in range(SETUPS):
            c0 = procs.tree_cpu_s(os.getpid())[0]
            t0 = time.perf_counter()
            if k:
                self.spark = self.spark.newSession()
            self.wl.open(self.spark)
            self.wl.warm(self.cores)
            times["setups_s"].append(time.perf_counter() - t0 + (first_start if k == 0 else 0.0))
            times["setups_cpu_s"].append(procs.tree_cpu_s(os.getpid())[0] - c0)
        return times

    def run(self, seconds: float) -> tuple[dict, dict]:
        import pyarrow.parquet as pq

        import procs

        spec = _spec()
        load0 = os.getloadavg()[0]
        record = {
            "workload": self.wl.name, "seed": self.wl.seed, "nproc": os.cpu_count(),
            "local_n": self.cores, "trace": int(self.trace), **self.setup(),
        }
        with procs.PeakRss() as rss:
            rss.reset()
            # the traced run times one traced first pass, the counterpart of
            # an untraced run's first pass: the tracing overhead is the
            # difference between the two runs
            jobs = self.loop(0, traced=True) if self.trace else self.loop(seconds)
        if self.trace:
            # the probe operations, once each, checked like the timed ones
            probes = {}
            for op in self.wl.probe_ops():
                with self.tracer.span(f"op.{op.name}"):
                    dt, _, res = self.run_op(op)
                if dt is not None:
                    probes[op.name] = (dt, res)
        self.check_all()
        job_s = [sum(j[0].values()) for j in jobs]
        op_med = {
            op.name: statistics.median([j[0][op.name] for j in jobs if op.name in j[0]] or [0.0])
            for op in self.wl.ops()
        }
        record.update({
            "jobs": len(jobs), "job_s_all": job_s,
            "job_cpu_s_all": [j[3] for j in jobs], "job_jit_cpu_s_all": [j[4] for j in jobs],
            "job_s": statistics.median(job_s),
            "rows_per_s": sum(j[1] for j in jobs) / max(sum(job_s), 1e-9),
            "gen_s": self.wl.gen_s, "oracle_s": self.wl.oracle_s,
            "attempted": self.attempted, "failed": self.failed,
            "failed_frac": self.failed / max(self.attempted, 1),
            **{f"op.{k}_s": v for k, v in op_med.items()},
            **{f"op.{k}_cpu_s": statistics.median(v) for k, v in self.op_cpu.items()},
            "peak_rss_mb": rss.peak / 1e6,
            "input_rows": sum(pq.ParquetDataset(p).read(columns=[]).num_rows
                              for p in self.wl.input_paths()),
            "input_bytes": sum(_du(p) for p in self.wl.input_paths()),
            "git_rev": _git_rev(), "tree_sha1": _tree_hash(),
            "versions": _versions(), "loadavg_1m": [load0, os.getloadavg()[0]],
            "errors": self.errors[:5],
        })
        if not self.trace:
            metrics = {
                # CPU seconds, like job_cpu_s: the wall time of a 1-2 s
                # set-up doubles in the host's slow phases
                "setup_s": statistics.median(record["setups_cpu_s"]),
                "job_cpu_s": statistics.median(j[3] for j in jobs),
            }
            names = spec["end_to_end"]
        else:
            op_med.update({k: v[0] for k, v in probes.items()})
            metrics = self.layer_metrics(jobs, op_med, {k: v[1] for k, v in probes.items()})
            metrics["peak_rss_mb"] = record["peak_rss_mb"]
            names = spec["per_layer"]
            os.makedirs(os.path.join(DATA, "traces"), exist_ok=True)
            self.tracer.dump(os.path.join(
                DATA, "traces", f"{self.wl.name}-s{self.wl.seed}.json"))
        out = {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in names}
        return record, out

    def layer_metrics(self, jobs, op_med, probes) -> dict:
        tr = self.tracer
        results = {**jobs[-1][2], **probes}
        m = {f"op.{k}_s": v for k, v in op_med.items()}
        m["trace.job_s"] = statistics.median(sum(j[0].values()) for j in jobs)
        per_job = [tr.metrics([sp]) for sp in tr.named("job")]

        def med(key):
            return statistics.median(j[key] for j in per_job)

        sizes = {p: _column_bytes(p) for p in self.wl.input_paths()}
        for j in per_job:
            # compressed bytes of the columns each file scan reads
            j["scan_bytes"] = sum(
                sizes[p][c] for loc, cols in j["scans"] for p in sizes
                if loc.rstrip("/").endswith(p) for c in cols if c in sizes[p])
        m.update({
            "scan.bytes_read": med("scan_bytes"),
            "scan.payload_scans": med("payload_scans"),
            "arrowio.stages": med("py_stages"),
            "arrowio.bytes_to_python": med("py_sent"),
            "arrowio.bytes_from_python": med("py_back"),
            "arrowio.worker_start_s": med("py_start_s"),
            "arrowio.worker_run_s": med("py_run_s"),
            "spark.shuffle_write_bytes": med("shuffle_write_bytes"),
            "spark.spill_bytes": med("spill_bytes"),
            "spark.peak_execution_memory": med("peak_execution_memory"),
            "spark.executor_run_s": med("executor_run_s"),
            "spark.driver_only_s": med("driver_only_s"),
            "share.arrowio_codec": statistics.median(
                j["py_run_s"] / max(j["executor_run_s"], 1e-9) for j in per_job),
        })
        with tr.span("layers"):
            try:
                m.update(self.wl.layers(tr, op_med, results))
            except Exception:  # a layer probe that raises is a failed operation
                self.attempted += 1
                self.failed += 1
                self.errors.append(f"layers: {traceback.format_exc(limit=3)}")
                _log(self.errors[-1])
        return m


def _column_bytes(path: str) -> dict[str, int]:
    """Compressed bytes per top-level column of a Parquet directory."""
    import pyarrow.parquet as pq

    out: dict[str, int] = {}
    for f in sorted(os.listdir(path)):
        if not f.endswith(".parquet"):
            continue
        md = pq.read_metadata(os.path.join(path, f))
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for c in range(rg.num_columns):
                col = rg.column(c)
                name = col.path_in_schema.split(".")[0]
                out[name] = out.get(name, 0) + col.total_compressed_size
    return out


def _versions() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {"python": sys.version.split()[0], "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "numpy": numpy.__version__}


def _prepare_env() -> None:
    """Keep every file Spark and its workers write inside the source tree."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(DATA, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(DATA, "spark-local")
    os.environ["TMPDIR"] = os.path.join(DATA, "tmp")
    # the short-lived launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={os.path.join(DATA, 'tmp')}")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the Python workers import the package too, whatever their cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "ukis_pysat_spark")):
        _log(f"no ukis_pysat_spark/ package under {ROOT}; run from a source tree")
        return 2
    _prepare_env()
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    bench = Bench(args.workload, args.seed, bool(args.trace))
    try:
        record, metrics = bench.run(args.seconds)
    finally:
        bench.close()
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
