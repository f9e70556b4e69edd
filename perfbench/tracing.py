"""Spans around calls into the engine, and the Spark event log mapped
onto them.

A span is (name, start, end, parent, request id). Spans are opened from
the benchmark's own files, by wrapping the engine's public functions
where the caller looks them up; nothing in the engine changes. Spans
stay in memory and are written once, at the end of the run.

Jobs from the event log are attributed to spans by time: the benchmark
issues traced calls one at a time, so a job submitted inside a span's
interval belongs to it (``pipeline.analyze`` submits from its own
thread pool, so job groups alone could not do this). A second view
groups jobs by their call site (the ``file:line`` Spark records as the
stage name) when that line lies inside the package, naming the
enclosing function; that splits the concurrent chains inside one
request.
"""

from __future__ import annotations

import ast
import functools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

FIELDS = ("wall_s", "driver_s", "jobs", "stages", "tasks", "cpu_s", "task_s",
          "shuffle_mb", "gc_s", "spill_mb")


class Tracer:
    """Records spans while ``enabled``; otherwise ``span`` is a no-op."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self._next_id = 0

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": request or (parent["request"] if parent else None),
            "start": time.time(),
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)

    def patch(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a spanned wrapper until ``restore``."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._patched.append((module, attr, fn))
        setattr(module, attr, wrapper)

    def restore(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def link_threads(self) -> None:
        """Give each root span on a server thread the client-side span
        whose interval encloses it as parent (and its request id)."""
        roots = [s for s in self.spans if s["parent"] is None]
        for s in roots:
            outer = [
                o for o in roots
                if o is not s and o["start"] <= s["start"] and s["end"] <= o["end"]
            ]
            if outer:
                o = min(outer, key=lambda o: o["end"] - o["start"])
                s["parent"], s["request"] = o["id"], o["request"]
        by_id = {s["id"]: s for s in self.spans}
        for s in sorted(self.spans, key=lambda s: s["start"]):
            if s["request"] is None and s["parent"] is not None:
                s["request"] = by_id[s["parent"]]["request"]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), fh, indent=1)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def read_event_log(directory: str) -> tuple[dict, dict]:
    """(jobs, stages) from every event-log file under ``directory``.

    jobs: id -> {submit, end, stage_ids}; stages: id -> {submit, name,
    tasks, task_s, cpu_s, gc_s, shuffle_b, spill_b, completed}.
    """
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(
            sid,
            {"submit": None, "name": "", "tasks": 0, "task_s": 0.0, "cpu_s": 0.0,
             "gc_s": 0.0, "shuffle_b": 0, "spill_b": 0, "completed": False},
        )

    files = sorted(
        os.path.join(d, f)
        for d, _, names in os.walk(directory)
        for f in names
        if not f.startswith("appstatus") and not f.endswith(".crc")
    )
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "submit": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "stage_ids": ev["Stage IDs"],
                    }
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stage(info["Stage ID"])
                    st["submit"] = info.get("Submission Time", 0) / 1000.0
                    st["name"] = info["Stage Name"]
                    st["completed"] = True
                elif kind == "SparkListenerTaskEnd":
                    st = stage(ev["Stage ID"])
                    m = ev.get("Task Metrics") or {}
                    st["tasks"] += 1
                    st["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_b"] += (
                        rd.get("Remote Bytes Read", 0)
                        + rd.get("Local Bytes Read", 0)
                        + wr.get("Shuffle Bytes Written", 0)
                    )
                    st["spill_b"] += m.get("Disk Bytes Spilled", 0)
    return jobs, stages


def _job_stages(jobs: dict, stages: dict) -> dict[int, list[dict]]:
    """Completed stages per job; a stage listed by several jobs (reused
    shuffle output, skipped later) belongs to the first that ran it."""
    owner: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stage_ids"]:
            st = stages.get(sid)
            if st and st["completed"] and sid not in owner:
                owner[sid] = jid
    out: dict[int, list[dict]] = {jid: [] for jid in jobs}
    for sid, jid in owner.items():
        out[jid].append(stages[sid])
    return out


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def _job_totals(job_ids, per_job) -> dict[str, float]:
    sts = [st for j in job_ids for st in per_job[j]]
    return {
        "jobs": len(job_ids),
        "stages": len(sts),
        "tasks": sum(st["tasks"] for st in sts),
        "cpu_s": sum(st["cpu_s"] for st in sts),
        "task_s": sum(st["task_s"] for st in sts),
        "shuffle_mb": sum(st["shuffle_b"] for st in sts) / 2**20,
        "gc_s": sum(st["gc_s"] for st in sts),
        "spill_mb": sum(st["spill_b"] for st in sts) / 2**20,
    }


class CallSites:
    """Maps ``file:line`` inside the package to ``module.function``."""

    def __init__(self, package_dir: str):
        self.package_dir = os.path.realpath(package_dir)
        self._cache: dict[str, list[tuple[int, int, str]]] = {}

    def _defs(self, path: str) -> list[tuple[int, int, str]]:
        if path not in self._cache:
            with open(path) as fh:
                tree = ast.parse(fh.read())
            self._cache[path] = [
                (n.lineno, n.end_lineno, n.name)
                for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
        return self._cache[path]

    def label(self, stage_name: str) -> str | None:
        _, _, where = stage_name.rpartition(" at ")
        path, _, line = where.rpartition(":")
        if not line.isdigit() or not path.endswith(".py"):
            return None
        path = os.path.realpath(path)
        if not path.startswith(self.package_dir + os.sep) or not os.path.exists(path):
            return None
        lineno = int(line)
        inner = [d for d in self._defs(path) if d[0] <= lineno <= d[1]]
        if not inner:
            return None
        name = max(inner, key=lambda d: d[0])[2]
        module = os.path.relpath(path, self.package_dir)[:-3].replace(os.sep, ".")
        return f"{module}.{name}"


def layer_table(spans: list[dict], jobs: dict, stages: dict, sites: CallSites) -> dict:
    """{row name: {field: median per call}} for span names and call sites.

    A span row counts every job submitted inside the span's interval
    (children included). A call-site row sums, per enclosing request
    span, the jobs whose stages name a line in that package function.
    """
    per_job = _job_stages(jobs, stages)
    done = {j: v for j, v in jobs.items() if v["end"] is not None}
    eps = 0.002
    per_call: dict[str, list[dict]] = {}
    for s in spans:
        inside = [
            j for j, v in done.items() if s["start"] - eps <= v["submit"] <= s["end"] + eps
        ]
        row = _job_totals(inside, per_job)
        wall = s["end"] - s["start"]
        busy = _union_s(
            [(max(done[j]["submit"], s["start"]), min(done[j]["end"], s["end"])) for j in inside]
        )
        row.update(wall_s=wall, driver_s=max(wall - busy, 0.0))
        per_call.setdefault(s["name"], []).append(row)

    roots = [s for s in spans if s["parent"] is None]
    groups: dict[tuple[str, int], list[int]] = {}
    for j, v in done.items():
        names = [st["name"] for st in per_job[j]]
        label = next((lab for lab in map(sites.label, names) if lab), None)
        if label is None:
            continue
        root = next((r for r in roots if r["start"] - eps <= v["submit"] <= r["end"] + eps), None)
        groups.setdefault((label, root["id"] if root else -1), []).append(j)
    for (label, _), ids in groups.items():
        row = _job_totals(ids, per_job)
        row["wall_s"] = _union_s([(done[j]["submit"], done[j]["end"]) for j in ids])
        per_call.setdefault(f"site.{label}", []).append(row)

    return {
        name: {f: statistics.median(r[f] for r in rows) for f in FIELDS if f in rows[0]}
        | {"calls": len(rows)}
        for name, rows in per_call.items()
    }


def format_table(table: dict) -> str:
    cols = ("calls",) + FIELDS
    lines = ["layer".ljust(44) + "".join(c.rjust(11) for c in cols)]
    for name in sorted(table):
        row = table[name]
        cells = []
        for c in cols:
            v = row.get(c)
            cells.append(("-" if v is None else f"{v:.3f}" if isinstance(v, float) else str(v)).rjust(11))
        lines.append(name[:44].ljust(44) + "".join(cells))
    return "\n".join(lines)
