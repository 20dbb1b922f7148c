"""Spans around the benchmark's calls into the package, and Spark's own
per-operator SQL and stage metrics for each span, read from the local
status REST endpoint (``/api/v1/applications/<id>/...``).

Each span runs under its own Spark job group, so every Spark job, stage
and SQL execution is attributed to the span that caused it.  Spans stay
in memory and are written out once, when the benchmark ends.
"""

from __future__ import annotations

import calendar
import contextlib
import json
import time
import urllib.request

_UNITS = {
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
# SQL metric names of every Python-evaluating node (MapInArrow,
# MapInPandas, ArrowEvalPython, ...): the engine<->Python boundary
PY_SENT = "data sent to Python workers"
PY_BACK = "data returned from Python workers"
PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"


def parse_metric(value: str) -> float:
    """'1,000' / '16.0 MiB' / '93 ms' / 'total (min, med, max ...)\\n35.5 s (...)'
    -> a number in bytes, seconds or plain count."""
    line = value.strip().split("\n")[-1]
    tok = line.split(" (")[0].split()
    num = float(tok[0].replace(",", ""))
    return num * _UNITS.get(tok[1], 1.0) if len(tok) > 1 else num


def _epoch(stamp: str) -> float:
    """'2026-10-17T03:20:38.652GMT' -> seconds since the epoch."""
    return calendar.timegm(time.strptime(stamp[:19], "%Y-%m-%dT%H:%M:%S")) + float(
        "0" + stamp[19:23])


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _top_fields(schema: str) -> tuple[str, ...]:
    """'struct<a:string,b:array<double>>' -> ('a', 'b')."""
    body, out, depth, start = schema[len("struct<"):-1], [], 0, 0
    for i, ch in enumerate(body + ","):
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append(body[start:i].split(":", 1)[0])
            start = i + 1
    return tuple(out)


def _scans(plan: str) -> set[tuple[str, tuple[str, ...]]]:
    """(location, columns) of every file scan in a formatted physical plan."""
    out, loc = set(), ""
    for line in plan.splitlines():
        line = line.strip()
        if line.startswith("Location:"):
            loc = line.split("[", 1)[-1].rstrip("]").split(",")[0].strip()
        elif line.startswith("ReadSchema:"):
            out.add((loc, _top_fields(line.split(":", 1)[1].strip())))
    return out


class Span:
    def __init__(self, sid: int, name: str, parent: int | None, job: int | None):
        self.id, self.name, self.parent, self.job = sid, name, parent, job
        self.start = self.end = 0.0

    def as_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "start": self.start, "end": self.end,
                "parent": self.parent, "job": self.job, "group": f"span{self.id}"}


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._rest: dict | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        # the benchmark job a span belongs to: its own index for a "job"
        # span, else that of the enclosing "job" span
        if name == "job":
            job = sum(s.name == "job" for s in self.spans)
        else:
            job = next((s.job for s in reversed(self._stack) if s.name == "job"), None)
        sp = Span(len(self.spans), name, parent.id if parent else None, job)
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(f"span{sp.id}", name)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"span{parent.id}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._rest = None

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.as_dict() for s in self.spans], fh)

    # --- REST -------------------------------------------------------------

    def _get(self, path: str):
        base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        with urllib.request.urlopen(base + path, timeout=30) as fh:
            return json.load(fh)

    def rest(self) -> dict:
        """Jobs, stages and SQL executions, once the status store has
        caught up with every job that has been submitted."""
        if self._rest is None:
            deadline = time.monotonic() + 20.0
            while True:
                jobs = self._get("/jobs")
                if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
                    break
                time.sleep(0.2)
            stages = {s["stageId"]: s for s in self._get("/stages")}
            sql = self._get("/sql?details=true&planDescription=true&offset=0&length=1000000")
            self._rest = {"jobs": jobs, "stages": stages, "sql": sql}
        return self._rest

    def _subtree(self, root: Span) -> set[int]:
        ids = {root.id}
        for s in self.spans[root.id + 1:]:
            if s.parent in ids:
                ids.add(s.id)
        return ids

    def _job_ids(self, spans: list[Span]) -> set[int]:
        groups: set[str] = set()
        for sp in spans:
            groups |= {f"span{i}" for i in self._subtree(sp)}
        return {j["jobId"] for j in self.rest()["jobs"] if j.get("jobGroup") in groups}

    def _executions(self, job_ids: set[int]) -> list[dict]:
        out = []
        for ex in self.rest()["sql"]:
            ids = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
            if ids & job_ids:
                out.append(ex)
        return out

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def metrics(self, spans: list[Span]) -> dict:
        """Stage and Python-boundary totals over the Spark work of the spans."""
        job_ids = self._job_ids(spans)
        rest = self.rest()
        stage_ids = {sid for j in rest["jobs"] if j["jobId"] in job_ids for sid in j["stageIds"]}
        st = [rest["stages"][s] for s in stage_ids if s in rest["stages"]]
        busy = [
            (max(_epoch(j["submissionTime"]), sp.start), min(_epoch(j["completionTime"]), sp.end))
            for sp in spans for j in rest["jobs"]
            if j["jobId"] in job_ids and "completionTime" in j
        ]
        m = {
            # span time during which no Spark job ran: DataFrame construction,
            # analysis, planning and driver-side collection
            "driver_only_s": sum(sp.end - sp.start for sp in spans)
            - _covered([(a, b) for a, b in busy if b > a]),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in st),
            "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in st),
            "peak_execution_memory": max([s["peakExecutionMemory"] for s in st] or [0]),
            "executor_run_s": sum(s["executorRunTime"] for s in st) / 1e3,
            "py_stages": 0, "py_sent": 0.0, "py_back": 0.0, "py_start_s": 0.0, "py_run_s": 0.0,
            "scans": [],
        }
        for ex in self._executions(job_ids):
            for node in ex["nodes"]:
                vals = {mm["name"]: mm["value"] for mm in node.get("metrics", [])}
                if PY_SENT not in vals:
                    continue
                m["py_stages"] += 1
                m["py_sent"] += parse_metric(vals[PY_SENT])
                m["py_back"] += parse_metric(vals.get(PY_BACK, "0"))
                m["py_start_s"] += parse_metric(vals.get(PY_START, "0")) + parse_metric(
                    vals.get(PY_INIT, "0"))
                m["py_run_s"] += parse_metric(vals.get(PY_RUN, "0"))
            m["scans"] += sorted(_scans(ex.get("planDescription", "")))
        m["payload_scans"] = sum("bytes" in cols for _, cols in m["scans"])
        return m

    def _dedup_aggregates(self, name: str):
        """(nodes by id, child ids by node id, exchange node, partial
        aggregate id) for every exchange fed by a hash aggregate (the pair
        dedup) in the last span called ``name``."""
        for ex in self._executions(self._job_ids(self.named(name)[-1:])):
            nodes = {n["nodeId"]: n for n in ex["nodes"]}
            kids: dict[int, list[int]] = {}
            for e in ex.get("edges", []):
                kids.setdefault(e["toId"], []).append(e["fromId"])
            for node in ex["nodes"]:
                if node["nodeName"] != "Exchange":
                    continue
                for f in kids.get(node["nodeId"], []):
                    if nodes.get(f, {}).get("nodeName") == "HashAggregate":
                        yield nodes, kids, node, f

    def dedup_exchange_bytes(self, name: str) -> float:
        """Shuffle bytes of the largest exchange fed by a hash aggregate
        (the pair-dedup exchange) in the last span called ``name``."""
        best = 0.0
        for _, _, node, _ in self._dedup_aggregates(name):
            for mm in node.get("metrics", []):
                if mm["name"] == "shuffle bytes written":
                    best = max(best, parse_metric(mm["value"]))
        return best

    def pre_dedup_rows(self, name: str) -> float:
        """Rows entering the pair dedup in the last span called ``name``:
        the output rows of the nearest plan node below the partial hash
        aggregate that feeds the dedup exchange."""
        best = 0.0
        for nodes, kids, _, agg in self._dedup_aggregates(name):
            todo = list(kids.get(agg, []))
            while todo:
                c = todo.pop(0)
                vals = {mm["name"]: mm["value"] for mm in nodes.get(c, {}).get("metrics", [])}
                if "number of output rows" in vals:
                    best = max(best, parse_metric(vals["number of output rows"]))
                    break
                todo += kids.get(c, [])
        return best
