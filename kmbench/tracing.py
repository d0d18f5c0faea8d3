"""Spans around the program's public functions, and Spark's own accounts.

Spans are recorded from outside the program: :meth:`Tracer.wrap` swaps a
module attribute for a timing wrapper, so a function the program calls
through its module namespace is timed without touching its code. Spans
live in memory and are written once, at the end of the run.

Spark's side comes from its status REST API and ``/metrics/json``, which
the UI serves when ``SPARK_GRAFT_UI=true``. Jobs are attached to the
innermost span whose wall-clock window holds them.
"""

from __future__ import annotations

import contextlib
import datetime
import functools
import json
import re
import time
import urllib.request
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self._kids: dict[int | None, list[int]] = {}
        self._kids_at = -1

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sp = Span(name, time.time(), parent=self._stack[-1] if self._stack else None, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.time()

    def wrap(self, modules, fname: str, attrs=None) -> None:
        """Time every call of ``fname`` made through any of ``modules``.

        ``attrs(args, kwargs, result)`` may return extra span attributes."""
        orig = getattr(modules[0], fname)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(fname) as sp:
                out = orig(*args, **kwargs)
                if attrs is not None:
                    sp.attrs.update(attrs(args, kwargs, out))
                return out

        for m in modules:
            self._patched.append((m, fname, getattr(m, fname)))
            setattr(m, fname, traced)

    def unwrap(self) -> None:
        for m, fname, orig in reversed(self._patched):
            setattr(m, fname, orig)
        self._patched.clear()

    def children(self, idx: int) -> list[int]:
        if self._kids_at != len(self.spans):
            self._kids = {}
            for i, s in enumerate(self.spans):
                self._kids.setdefault(s.parent, []).append(i)
            self._kids_at = len(self.spans)
        return self._kids.get(idx, [])

    def descendants(self, idx: int, name: str) -> list[int]:
        """Indices of the spans called ``name`` below span ``idx``."""
        out = []
        for c in self.children(idx):
            if self.spans[c].name == name:
                out.append(c)
            out.extend(self.descendants(c, name))
        return out

    def self_time(self, idx: int) -> float:
        """Span duration minus the part of it its children cover."""
        sp = self.spans[idx]
        return sp.dur - union_len([(self.spans[c].start, self.spans[c].end) for c in self.children(idx)], sp.start, sp.end)

    def attach(self, name: str, events: list[tuple[float, float, dict]]) -> None:
        """Add (start, end, attrs) events as child spans of the innermost
        span that contains their start."""
        for start, end, attrs in sorted(events, key=lambda e: e[0]):
            parent = None
            for i, sp in enumerate(self.spans):
                if sp.name != name and sp.start <= start <= sp.end:
                    if parent is None or sp.start >= self.spans[parent].start:
                        parent = i
            self.spans.append(Span(name, start, end, parent, attrs))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def union_len(intervals, lo: float, hi: float) -> float:
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


# ---------------------------------------------------------------------------
# Spark REST + metrics servlet
# ---------------------------------------------------------------------------

def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read().decode())


def _ts(s: str) -> float:
    return datetime.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=datetime.timezone.utc
    ).timestamp()


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _sql_metric(value: str) -> float:
    """Total of a SQL metric string: ``"12"`` or
    ``"total (min, med, max ...)\\n1.5 MiB (...)"``."""
    line = value.split("\n")[1] if "\n" in value else value
    m = re.match(r"\s*([\d.,]+)\s*([KMGT]?i?B)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "B", 1)


class SparkStatus:
    """Reads the running application's accounts from its UI."""

    def __init__(self, sc) -> None:
        self.base = sc.uiWebUrl.rstrip("/")
        self.api = f"{self.base}/api/v1/applications/{sc.applicationId}"

    def settle(self, timeout: float = 10.0) -> None:
        """Wait until the status store has recorded every job as finished."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            if all(j["status"] != "RUNNING" for j in _get(f"{self.api}/jobs")):
                return
            time.sleep(0.2)

    def jobs(self) -> list[tuple[float, float, dict]]:
        """Every job as (start, end, totals over its stages)."""
        stages = {}
        for st in _get(f"{self.api}/stages"):
            if st["status"] == "SKIPPED":
                continue
            agg = stages.setdefault(st["stageId"], {})
            for key, scale in (
                ("executorRunTime", 1e-3),
                ("executorCpuTime", 1e-9),
                ("jvmGcTime", 1e-3),
                ("shuffleWriteBytes", 1),
                ("resultSize", 1),
                ("inputBytes", 1),
                ("numCompleteTasks", 1),
                ("numFailedTasks", 1),
            ):
                agg[key] = agg.get(key, 0) + st.get(key, 0) * scale
        out = []
        for j in _get(f"{self.api}/jobs"):
            if "completionTime" not in j:
                continue
            tot: dict = {"job_id": j["jobId"]}
            for sid in j["stageIds"]:
                for key, v in stages.get(sid, {}).items():
                    tot[key] = tot.get(key, 0) + v
            out.append((_ts(j["submissionTime"]), _ts(j["completionTime"]), tot))
        return out

    def python_io(self) -> dict[int, dict]:
        """Per job id: Arrow bytes to / from Python workers and the rows
        the Python side returned, from the SQL metrics of MapInPandas."""
        out: dict[int, dict] = {}
        for ex in _get(f"{self.api}/sql?details=true&planDescription=false&length=100000"):
            io = {"to": 0.0, "from": 0.0, "rows": 0.0}
            for node in ex.get("nodes", []):
                if "InPandas" not in node.get("nodeName", ""):
                    continue
                for m in node.get("metrics", []):
                    if m["name"] == "data sent to Python workers":
                        io["to"] += _sql_metric(m["value"])
                    elif m["name"] == "data returned from Python workers":
                        io["from"] += _sql_metric(m["value"])
                    elif m["name"] == "number of output rows":
                        io["rows"] += _sql_metric(m["value"])
            jobs = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
            if jobs and any(io.values()):
                out[min(jobs)] = io
        return out

    def codegen(self) -> tuple[int, float]:
        """(classes compiled so far, mean compile ms of the recent ones)."""
        hists = _get(f"{self.base}/metrics/json").get("histograms", {})
        for key, h in hists.items():
            if key.endswith("CodeGenerator.compilationTime"):
                return int(h["count"]), float(h["mean"])
        return 0, 0.0
