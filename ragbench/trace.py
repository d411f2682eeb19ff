"""Spans, Spark counters and process accounting, all measured from outside
the engine.

A span times one call into a layer's public function (or, for lazily
evaluated layers, the interval from that call to the next layer boundary of
the same request). While a span is open its thread's Spark job group names
it, so the in-process status store (which works with the UI disabled)
attributes every job, stage and task to exactly one span.
"""

from __future__ import annotations

import itertools
import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from statistics import median

_GROUP_PREFIX = "ragbench-"
_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on stderr; stdout is reserved for the report."""
    print(f"ragbench [{time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing and touch no
    Spark state, so the untraced run pays only a function call per boundary.
    ``traced`` can be switched per request (thread-local) so a traced run
    can interleave untraced control requests."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    # ---- per-thread state -------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def active(self) -> bool:
        return self.enabled and getattr(self._local, "on", False)

    @contextmanager
    def request(self, rid: str, traced: bool = True):
        """One request (operation): the spans opened inside share ``rid``."""
        self._local.rid = rid
        self._local.on = traced
        try:
            yield
        finally:
            self.end_phase()
            self._local.on = False

    def _set_group(self, span: "dict | None") -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(_GROUP_PREFIX + str(span["id"]), span["name"])

    def _open(self, name: str, phase: bool = False) -> dict:
        st = self._stack()
        span = {
            "id": next(self._ids),
            "name": name,
            "parent": st[-1]["id"] if st else None,
            "request": getattr(self._local, "rid", None),
            "start": time.perf_counter(),
            "end": None,
            "phase": phase,
        }
        st.append(span)
        self._set_group(span)
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        st = self._stack()
        st.remove(span)
        self._set_group(st[-1] if st else None)
        with self._lock:
            self.spans.append(span)

    @contextmanager
    def span(self, name: str):
        if not self.active():
            yield
            return
        self.end_phase()
        span = self._open(name)
        try:
            yield
        finally:
            self.end_phase()
            self._close(span)

    def phase(self, name: str) -> None:
        """Open a boundary-delimited span: it lasts until the next phase, span
        or the enclosing span's end on this thread. Used where a layer returns
        a lazy frame that the caller executes later."""
        if not self.active():
            return
        self.end_phase()
        self._open(name, phase=True)

    def end_phase(self) -> None:
        st = self._stack()
        if st and st[-1]["phase"]:
            self._close(st[-1])

    # ---- wrapping --------------------------------------------------------
    def wrap(self, fn, name: str):
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        traced.__wrapped__ = fn
        return traced

    def wrap_phase(self, fn, name: str):
        def traced(*a, **kw):
            self.phase(name)
            return fn(*a, **kw)

        traced.__wrapped__ = fn
        return traced

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for s in sorted(self.spans, key=lambda s: s["id"]):
                f.write(json.dumps({k: s[k] for k in ("id", "name", "parent", "request", "start", "end")}) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered = 0.0
        for c in sorted(children[s["id"]], key=lambda c: c["start"]):
            covered += max(0.0, min(c["end"], s["end"]) - max(c["start"], s["start"]))
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _seq(js) -> list:
    return [js.apply(i) for i in range(js.size())]


def stage_counters(spark) -> "tuple[dict[str, list[int]], dict[int, dict]]":
    """(job group -> stage ids of its jobs, stage id -> counters) from the
    in-process status store."""
    ss = spark.sparkContext._jsc.sc().statusStore()
    groups: dict[str, list[int]] = defaultdict(list)
    jobs_per_group: dict[str, int] = defaultdict(int)
    stage_ids: set[int] = set()
    for job in _seq(ss.jobsList(None)):
        g = job.jobGroup()
        if not g.isDefined():
            continue
        sids = _seq(job.stageIds())
        groups[g.get()].extend(sids)
        jobs_per_group[g.get()] += 1
        stage_ids.update(sids)
    stages: dict[int, dict] = {}
    for sid in stage_ids:
        try:
            st = ss.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - stage evicted or never submitted
            continue
        n = st.numTasks()
        tasks = _seq(ss.taskList(sid, st.attemptId(), max(n, 1))) if n else []
        runtimes = [
            t.taskMetrics().get().executorRunTime() for t in tasks if t.taskMetrics().isDefined()
        ]
        stages[sid] = {
            "input_rows": st.inputRecords(),
            "shuffle_bytes": st.shuffleWriteBytes(),
            "run_ms": sum(runtimes),
            "max_task_ms": max(runtimes) if runtimes else 0,
        }
    return {"stages": dict(groups), "jobs": dict(jobs_per_group)}, stages


def span_counters(spark, spans: list[dict]) -> dict[int, dict]:
    """Spark work attributed to each span through its job group."""
    groups, stages = stage_counters(spark)
    out = {}
    for s in spans:
        g = _GROUP_PREFIX + str(s["id"])
        sids = groups["stages"].get(g, [])
        ss = [stages[i] for i in sids if i in stages]
        heaviest = max(ss, key=lambda x: x["run_ms"], default=None)
        out[s["id"]] = {
            "jobs": groups["jobs"].get(g, 0),
            "shuffle_bytes": sum(x["shuffle_bytes"] for x in ss),
            "input_rows": sum(x["input_rows"] for x in ss),
            "max_task_share": (
                heaviest["max_task_ms"] / heaviest["run_ms"]
                if heaviest and heaviest["run_ms"] > 0 else 0.0
            ),
        }
    return out


def group_jobs(spark, group: str) -> int:
    """Jobs the status store holds under one job group (a streaming query
    runs its batches under its run id)."""
    groups, _ = stage_counters(spark)
    return groups["jobs"].get(group, 0)


def span_metrics(spark, spans: list[dict], names: "dict[str, str]") -> dict[str, float]:
    """Per span name: median busy (or self) seconds and median per-call
    jobs, shuffle bytes and input rows. ``names`` maps span name to the
    timing key (``busy_s`` or ``self_s``); names without calls report 0."""
    counters = span_counters(spark, spans) if spans else {}
    selfs = self_times(spans)
    by_name = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)
    out: dict[str, float] = {}
    for name, timing in names.items():
        calls = by_name.get(name, [])
        if timing == "self_s":
            times = [selfs[s["id"]] for s in calls]
        else:
            times = [s["end"] - s["start"] for s in calls]
        out[f"{name}.{timing}"] = median(times) if times else 0.0
        for key in ("jobs", "shuffle_bytes", "input_rows"):
            vals = [counters[s["id"]][key] for s in calls]
            out[f"{name}.{key}"] = median(vals) if vals else 0
    return out


def max_task_share(spark, spans: list[dict], name: str) -> float:
    counters = span_counters(spark, [s for s in spans if s["name"] == name])
    shares = [c["max_task_share"] for c in counters.values()]
    return median(shares) if shares else 0.0


# ---- process tree ----------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids[int(fields[1])].append(int(d))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory, sampled on a background thread, split into the
    driver (this process and the JVM it launched) and the Python workers
    (the JVM's descendants, whose number varies with task concurrency)."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = {"driver": 0, "workers": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        kids = _children()
        driver = [os.getpid()] + kids.get(os.getpid(), [])
        workers, todo = [], [k for p in driver[1:] for k in kids.get(p, [])]
        while todo:
            p = todo.pop()
            workers.append(p)
            todo.extend(kids.get(p, []))
        for key, pids in (("driver", driver), ("workers", workers)):
            self.peak_kb[key] = max(self.peak_kb[key], sum(_rss_kb(p) for p in pids))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def peak_mb(self, key: str) -> float:
        return self.peak_kb[key] / 1024.0
