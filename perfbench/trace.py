"""Spans recorded around the benchmark's calls, and the fold of Spark's own
event log into per-layer rows.

Spans are kept in memory. Each records a name, a parent, and wall-clock start
and end in epoch milliseconds, the clock Spark's event log uses. In a traced
run every span also sets the ``perfbench.span`` local property, so each Spark
job carries the id of the innermost open span in its ``Properties``.

Jobs are attributed to engine code through their call site: the SQL
execution's ``description`` (``collect at .../lake/table.py:979``), or the
job's ``callSite.short``, names a file and line, which :class:`SourceMap`
maps to the enclosing function by parsing that file. AQE sub-jobs carry no
Python call site and are attributed through their root execution id. Jobs
with neither fall back to the span they ran in.
"""

from __future__ import annotations

import ast
import glob
import json
import os
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PROP = "perfbench.span"
_CALLSITE = re.compile(r" at (\S+\.py):(\d+)")
# DataFrameWriter actions, as they appear in SQL execution descriptions
_WRITE_ACTIONS = {"parquet", "save", "orc", "json", "csv", "text", "insertInto", "saveAsTable"}


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start_ms: float
    end_ms: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur_s(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


class Spans:
    """In-memory span recorder. ``sc`` is set only in a traced run, and then
    each open span is published to Spark jobs as a local property."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._n = 0

    @contextmanager
    def span(self, name: str, **attrs):
        self._n += 1
        parent = self._stack[-1].id if self._stack else None
        s = Span(f"{name}#{self._n}", name, parent, time.time() * 1000.0, attrs=dict(attrs))
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROP, s.id)
        try:
            yield s
        finally:
            s.end_ms = time.time() * 1000.0
            self._stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(SPAN_PROP, self._stack[-1].id if self._stack else None)
            self.spans.append(s)

    def named(self, name: str) -> list[Span]:
        return sorted((s for s in self.spans if s.name == name), key=lambda s: s.start_ms)

    def descendants(self, root: Span) -> list[Span]:
        kids: dict[str, list[Span]] = {}
        for s in self.spans:
            kids.setdefault(s.parent, []).append(s)
        out, todo = [], [root.id]
        while todo:
            for k in kids.get(todo.pop(), []):
                out.append(k)
                todo.append(k.id)
        return out


@contextmanager
def wrapped(spans: Spans, targets: list[tuple[object, str, str]]):
    """Temporarily replace ``owner.attr`` with a function that runs the
    original inside ``spans.span(name)``; restored on exit."""
    saved = []
    for owner, attr, name in targets:
        orig = getattr(owner, attr)

        def make(orig=orig, name=name):
            def inner(*a, **kw):
                with spans.span(name):
                    return orig(*a, **kw)

            return inner

        saved.append((owner, attr, orig))
        setattr(owner, attr, make())
    try:
        yield
    finally:
        for owner, attr, orig in saved:
            setattr(owner, attr, orig)


class SourceMap:
    """(file, line) -> ``module:Qualified.function`` by parsing the file."""

    def __init__(self, root: str):
        self.root = root
        self._funcs: dict[str, list[tuple[int, int, str]]] = {}

    def _load(self, path: str) -> list[tuple[int, int, str]]:
        if path not in self._funcs:
            out: list[tuple[int, int, str]] = []
            try:
                with open(path) as fh:
                    tree = ast.parse(fh.read())
            except (OSError, SyntaxError):
                tree = None

            def walk(node, prefix):
                for ch in ast.iter_child_nodes(node):
                    if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                        q = f"{prefix}{ch.name}"
                        if not isinstance(ch, ast.ClassDef):
                            out.append((ch.lineno, ch.end_lineno or ch.lineno, q))
                        walk(ch, q + ".")

            if tree is not None:
                walk(tree, "")
            self._funcs[path] = out
        return self._funcs[path]

    def module(self, path: str) -> str:
        rel = os.path.relpath(path, self.root)
        if rel.startswith(".."):
            return os.path.basename(path)
        return rel[:-3].replace(os.sep, ".").removeprefix("geopetl_spark.")

    def resolve(self, callsite: str | None) -> str | None:
        m = _CALLSITE.search(callsite or "")
        if not m:
            return None
        path, line = m.group(1), int(m.group(2))
        best = None
        for lo, hi, q in self._load(path):
            if lo <= line <= hi and (best is None or lo >= best[0]):
                best = (lo, q)
        return f"{self.module(path)}:{best[1] if best else '<module>'}"


@dataclass
class Job:
    id: int
    span: str | None
    site: str | None  # module:function of the Python call site, if known
    kind: str  # write | query (other SQL) | rdd | listing (no SQL, no Python site)
    root_exec: int | None
    start: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)


@dataclass
class Stage:
    id: int
    tasks: list[dict] = field(default_factory=list)

    def total(self, key: str) -> float:
        return sum(t[key] for t in self.tasks)


_TASK_FIELDS = {
    "run_ms": ("Executor Run Time",),
    "cpu_ns": ("Executor CPU Time",),
    "gc_ms": ("JVM GC Time",),
    "spill": ("Disk Bytes Spilled",),
    "mem_spill": ("Memory Bytes Spilled",),
    "in_bytes": ("Input Metrics", "Bytes Read"),
    "out_bytes": ("Output Metrics", "Bytes Written"),
    "out_rows": ("Output Metrics", "Records Written"),
    "sw_bytes": ("Shuffle Write Metrics", "Shuffle Bytes Written"),
    "sr_remote": ("Shuffle Read Metrics", "Remote Bytes Read"),
    "sr_local": ("Shuffle Read Metrics", "Local Bytes Read"),
}


def _metric(tm: dict, path: tuple[str, ...]) -> float:
    v = tm
    for p in path:
        v = v.get(p, 0) if isinstance(v, dict) else 0
    return float(v or 0)


class EventLog:
    """Jobs, completed stages and tasks of the newest application found
    under ``directory`` (an uncompressed, possibly rolled, v2 event log)."""

    def __init__(self, directory: str, sources: SourceMap):
        # app ids are local-<start millis>; the newest application is the last
        apps = sorted(
            glob.glob(os.path.join(directory, "eventlog_v2_*")),
            key=lambda p: int(p.rsplit("-", 1)[1]),
        )
        if not apps:
            raise FileNotFoundError(f"no Spark event log under {directory}")
        files = sorted(
            glob.glob(os.path.join(apps[-1], "events_*")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = {}
        exec_desc: dict[int, str] = {}
        exec_root: dict[int, int] = {}
        stage_job: dict[int, int] = {}
        ends: dict[int, float] = {}
        raw_jobs = []
        for path in files:
            with open(path) as fh:
                for line in fh:
                    if line.startswith('{"Event":"SparkListenerTaskStart"'):
                        continue
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        raw_jobs.append(ev)
                        for sid in ev["Stage IDs"]:
                            stage_job.setdefault(sid, ev["Job ID"])
                    elif kind == "SparkListenerJobEnd":
                        ends[ev["Job ID"]] = ev["Completion Time"]
                    elif kind == "SparkListenerTaskEnd":
                        if ev.get("Task End Reason", {}).get("Reason") != "Success":
                            continue
                        sid = ev["Stage ID"]
                        st = self.stages.setdefault(sid, Stage(sid))
                        tm = ev.get("Task Metrics") or {}
                        st.tasks.append({k: _metric(tm, p) for k, p in _TASK_FIELDS.items()})
                    elif kind.endswith("SQLExecutionStart"):
                        exec_desc[ev["executionId"]] = ev.get("description") or ""
                        exec_root[ev["executionId"]] = ev.get("rootExecutionId", ev["executionId"])
        for ev in raw_jobs:
            props = ev.get("Properties") or {}
            ex = props.get("spark.sql.execution.root.id") or props.get("spark.sql.execution.id")
            root = exec_root.get(int(ex), int(ex)) if ex is not None else None
            names = [s.get("Stage Name", "") for s in ev.get("Stage Infos", [])]
            desc = exec_desc.get(root) if root is not None else None
            site = next(
                filter(None, map(sources.resolve, [desc, props.get("callSite.short"), *names])), None
            )
            action = (desc or props.get("callSite.short") or (names[0] if names else "")).split(" at ")[0]
            if root is None:
                kind = "rdd" if site else "listing"
            else:
                kind = "write" if action in _WRITE_ACTIONS else "query"
            jid = ev["Job ID"]
            self.jobs[jid] = Job(
                jid,
                props.get(SPAN_PROP),
                site,
                kind,
                root,
                float(ev["Submission Time"]),
                float(ends.get(jid, ev["Submission Time"])),
                sorted(s for s in ev["Stage IDs"] if stage_job.get(s) == jid),
            )

    def jobs_in(self, span_ids: set[str]) -> list[Job]:
        return sorted((j for j in self.jobs.values() if j.span in span_ids), key=lambda j: j.id)

    def stages_of(self, jobs: list[Job]) -> list[Stage]:
        return [self.stages[s] for j in jobs for s in j.stages if s in self.stages]


def union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def max_over_median(values: list[float]) -> float:
    med = statistics.median(values) if values else 0.0
    return max(values) / med if med > 0 else 1.0
