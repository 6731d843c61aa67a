"""Measurement helpers: an in-memory span recorder, a /proc RSS sampler for a
process tree, and a reader for Spark's JSON event log."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time


class Tracer:
    """Spans (name, layer, start, end, parent) kept in memory and written
    out once at the end. A disabled tracer records nothing and costs one
    attribute read per ``span`` call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, layer: str):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._record(name, layer)

    @contextlib.contextmanager
    def _record(self, name: str, layer: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, fn, name: str, layer: str):
        """``fn`` with a span around every call (for module functions that
        the benchmark reaches only through another public function)."""

        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the part its
        children cover (children run sequentially inside their parent)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child[s["id"]]
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# --------------------------------------------------------------------------
# resident memory of a process tree
# --------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _parents() -> dict[int, int]:
    out = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                raw = fh.read()
        except OSError:  # process exited between glob and open
            continue
        pid = int(raw[: raw.index(" ")])
        out[pid] = int(raw[raw.rindex(")") + 2 :].split()[1])
    return out


def tree(root: int) -> list[int]:
    """``root`` and all its descendants."""
    kids: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants."""
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Samples ``tree_rss_bytes(root)`` on a thread while the ``with``
    block runs and keeps the peak."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root = root
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(self.root))


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

class EventLog:
    """Jobs (with their ``spark.job.description``) and per-stage task
    metrics from one application's uncompressed JSON event log, plain or
    rolling (a directory of ``events_*`` files)."""

    def __init__(self, directory: str):
        files = glob.glob(os.path.join(directory, "*")) + glob.glob(
            os.path.join(directory, "*", "events_*")
        )
        files = [f for f in files if os.path.isfile(f) and os.path.getsize(f)]
        if not files:
            raise RuntimeError(f"no Spark event log in {directory}")
        self.jobs: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = {}
        ends: dict[int, int] = {}
        for name in files:
            with open(name) as fh:
                lines = fh.readlines()
            for line in lines:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    self.jobs[ev["Job ID"]] = {
                        "desc": props.get("spark.job.description") or "",
                        "stages": ev.get("Stage IDs", []),
                        "submitted": ev["Submission Time"],
                    }
                elif kind == "SparkListenerJobEnd":
                    ends[ev["Job ID"]] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    self.tasks.setdefault(ev["Stage ID"], []).append(
                        ev["Task Metrics"]
                    )
        for j, end in ends.items():
            if j in self.jobs:
                self.jobs[j]["ms"] = float(end - self.jobs[j]["submitted"])

    def job_ids(self, select) -> list[int]:
        return [j for j, d in self.jobs.items() if select(d["desc"])]

    def counters(self, select) -> dict[str, float]:
        """Totals over the jobs whose description passes ``select``.
        ``task_skew`` is, over their multi-task stages, the summed slowest
        task run time divided by the summed median task run time: how much
        longer the stages take than their typical task, weighted by stage
        time. ``job_ms_p50`` is the median submission-to-completion time of
        those jobs."""
        jobs = self.job_ids(select)
        stages = sorted({s for j in jobs for s in self.jobs[j]["stages"] if s in self.tasks})
        tasks = [t for s in stages for t in self.tasks[s]]

        def tot(fn):
            return float(sum(fn(t) for t in tasks))

        slowest = typical = 0.0
        for s in stages:
            runs = [t["Executor Run Time"] for t in self.tasks[s]]
            if len(runs) > 1:
                slowest += max(runs)
                typical += statistics.median(runs)
        return {
            "jobs": float(len(jobs)),
            "stages": float(len(stages)),
            "tasks": float(len(tasks)),
            "shuffle_read_bytes": tot(
                lambda t: t["Shuffle Read Metrics"]["Remote Bytes Read"]
                + t["Shuffle Read Metrics"]["Local Bytes Read"]
            ),
            "shuffle_write_bytes": tot(
                lambda t: t["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            ),
            "spill_bytes": tot(
                lambda t: t["Memory Bytes Spilled"] + t["Disk Bytes Spilled"]
            ),
            "executor_run_ms": tot(lambda t: t["Executor Run Time"]),
            "executor_cpu_ms": tot(lambda t: t["Executor CPU Time"]) / 1e6,
            "gc_ms": tot(lambda t: t["JVM GC Time"]),
            "task_skew": slowest / typical if typical else 0.0,
            "job_ms_p50": statistics.median(
                [self.jobs[j]["ms"] for j in jobs if "ms" in self.jobs[j]] or [0.0]
            ),
        }
