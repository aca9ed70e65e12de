"""Measurement plumbing for the extraction benchmark: in-memory spans,
order statistics, the Spark event-log reader and the host stamp.

Everything here observes the program from outside: spans open around
calls into the package's public functions (module attributes are
wrapped, never edited), and Spark's own task and SQL metrics come from
the event log Spark writes when ``spark.eventLog.enabled`` is passed to
``get_spark``.
"""

from __future__ import annotations

import contextlib
import functools
import hashlib
import json
import os
import platform
import statistics
import time
from pathlib import Path


# ------------------------------------------------------------ statistics
def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q):
    """Linear-interpolated q-th percentile (0..100) of ``xs``."""
    s = sorted(xs)
    if not s:
        return 0.0
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail(xs):
    """(value, q): the highest percentile q with at least ten samples
    beyond it, q = 100 * (1 - 10 / n), never below the median (q = 50)
    when the sample is too small to resolve a tail."""
    n = len(xs)
    q = max(50.0, 100.0 * (1.0 - 10.0 / n)) if n else 50.0
    return percentile(xs, q), round(q, 1)


# ---------------------------------------------------------------- spans
class Tracer:
    """Spans kept in memory and written out once, at the end.

    Each span carries (id, name, start, end, parent, run). ``start`` and
    ``end`` are wall-clock seconds (``time.time``) so they line up with
    the millisecond timestamps of Spark's event log; durations come from
    ``perf_counter``. A disabled tracer records nothing and its
    ``span`` context costs one attribute test."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next = 0
        self._patched: list[tuple[object, str, object]] = []
        self.counts: dict[str, float] = {}

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        wall0, t0 = time.time(), time.perf_counter()
        try:
            yield
        finally:
            dur = time.perf_counter() - t0
            self._stack.pop()
            self.spans.append(
                {"id": sid, "name": name, "start": wall0, "end": wall0 + dur,
                 "dur": dur, "parent": parent, "run": self.run_id, **attrs}
            )

    def wrap(self, module, attr: str, name: str, count=None) -> None:
        """Replace ``module.attr`` by a wrapper that opens span ``name``
        around each call; ``unwrap_all`` restores the originals.
        ``count(result)`` may return counters (work done, measured at
        the boundary) that accumulate in ``self.counts``."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def timed(*a, **kw):
            with self.span(name):
                r = orig(*a, **kw)
            if count is not None:
                for k, v in count(r).items():
                    self.counts[k] = self.counts.get(k, 0) + v
            return r

        setattr(module, attr, timed)
        self._patched.append((module, attr, orig))

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def named(self, name: str, since: float = 0.0) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["start"] >= since]

    def self_seconds(self, name: str) -> float:
        """Sum over spans called ``name`` of their duration minus the
        time their direct children cover."""
        ids = {s["id"] for s in self.named(name)}
        total = sum(s["dur"] for s in self.spans if s["id"] in ids)
        child = sum(s["dur"] for s in self.spans if s["parent"] in ids)
        return total - child

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


# ------------------------------------------------------------ event log
_PY_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.total_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}
_TIME_SCALE = {"nsTiming": 1e-9, "timing": 1e-3}


def _plan_metric_types(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = m.get("metricType", "")
    for c in plan.get("children", []):
        _plan_metric_types(c, out)


def _events(paths):
    for p in paths:
        with open(p) as f:
            for line in f:
                yield json.loads(line)


class EventLog:
    """Jobs, stages and tasks of one application's Spark event log."""

    def __init__(self, paths: list[Path]):
        self.jobs: list[dict] = []  # {id, submit, stages}
        self.tasks: dict[int, list[dict]] = {}  # stage id -> tasks
        metric_type: dict[int, str] = {}
        for ev in _events(paths):
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                self.jobs.append(
                    {"id": ev["Job ID"], "submit": ev["Submission Time"] / 1e3,
                     "stages": list(ev["Stage IDs"])}
                )
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _plan_metric_types(ev.get("sparkPlanInfo", {}), metric_type)
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                acc = {}
                for a in info.get("Accumulables", []):
                    if a.get("Name") in _PY_METRICS and "Update" in a:
                        acc[a["Name"]] = (a["ID"], float(a["Update"]))
                self.tasks.setdefault(ev["Stage ID"], []).append(
                    {"run_s": ev.get("Task Metrics", {}).get("Executor Run Time", 0) / 1e3,
                     "acc": acc}
                )
        self._metric_type = metric_type

    def jobs_between(self, start: float, end: float) -> list[dict]:
        # event-log times are whole milliseconds
        return [j for j in self.jobs if start - 1e-3 <= j["submit"] <= end + 1e-3]

    def python_metrics(self, stages) -> dict[str, float]:
        """Spark's Python exec metrics summed over the tasks of ``stages``
        (times in seconds, sizes in bytes)."""
        out = {v: 0.0 for v in _PY_METRICS.values()}
        for sid in stages:
            for t in self.tasks.get(sid, []):
                for name, (acc_id, upd) in t["acc"].items():
                    scale = _TIME_SCALE.get(self._metric_type.get(acc_id, ""), 1.0)
                    out[_PY_METRICS[name]] += upd * scale
        return out

    def skew(self, stages) -> tuple[float, int]:
        """(max / median task run time, task count) of the stage among
        ``stages`` that spent longest in Python — the extract stage."""
        best, best_py = None, -1.0
        for sid in stages:
            ts = self.tasks.get(sid, [])
            py = sum(upd for t in ts for n, (_, upd) in t["acc"].items()
                     if n == "time to run Python workers")
            if ts and py > best_py:
                best, best_py = sid, py
        if best is None:
            return 0.0, 0
        runs = [t["run_s"] for t in self.tasks[best]]
        med = median(runs)
        return (max(runs) / med if med > 0 else 1.0), len(runs)

    def tasks_in(self, stages) -> int:
        return sum(len(self.tasks.get(s, [])) for s in stages)


def event_log_files(directory: Path) -> list[Path]:
    """The event files of the single application that logged into
    ``directory`` (a rolling log is a directory of numbered files)."""
    apps = list(directory.iterdir())
    if len(apps) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {len(apps)}")
    if apps[0].is_file():
        return apps
    files = [p for p in apps[0].iterdir() if p.name.startswith("events_")]
    return sorted(files, key=lambda p: int(p.name.split("_")[1]))


# ------------------------------------------------------------ processes
def _children(pid: int) -> list[int]:
    kids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            kids.append(int(d))
    return kids


def peak_rss_mb(root_pid: int) -> float:
    """Sum of the peak resident set (VmHWM) of ``root_pid`` and every
    live descendant — the JVM plus its Python daemon and workers."""
    total_kb, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
        todo.extend(_children(pid))
    return total_kb / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat;
    the steal share over a run shows time the hypervisor gave to
    other guests."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


# ------------------------------------------------------------ host stamp
def stamp(root: Path, seed: int) -> dict:
    """Host and build identity for every result. The benchmark runs in
    checkouts that are not git repositories, so the build is identified
    by a hash of the package sources rather than a commit id."""
    import pandas
    import pyarrow
    import pyspark

    h = hashlib.sha256()
    for p in sorted((root / "german_ocr_spark").rglob("*.py")):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "host_cores": os.cpu_count(),
        "host_ram_gb": round(mem_kb / 1024 / 1024, 1),
        "source_sha256": h.hexdigest()[:16],
        "seed": seed,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
    }
