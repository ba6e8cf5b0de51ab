"""Spans, Spark event-log attribution, UDF-profiler read-back and RSS
sampling for the traced run.

Spans are recorded from the benchmark's side around calls into the
engine's public functions (``instrumented`` wraps them for the traced run
only and restores them afterwards).  Each span also sets the Spark local
property ``perfbench.span`` in the thread that opened it, so every job the
engine launches carries the innermost open span in its JobStart event; a
job without the property (one started from a thread no span covers) falls
back to the innermost span open on the wall clock when it started.
"""

from __future__ import annotations

import inspect
import json
import os
import threading
import time
from contextlib import contextmanager

SPAN_PROP = "perfbench.span"


class Spans:
    """In-memory span recorder; written out once, at the end of a run."""

    def __init__(self, sc=None):
        self.sc = sc
        self.records: list[dict] = []
        self._tls = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        # a worker thread's first span hangs off the span the main thread
        # has open (the engine stages writes from a thread pool)
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sid = len(self.records)
            rec = {"id": sid, "name": name, "parent": parent, "start": time.time(), "end": None}
            self.records.append(rec)
        prev = self.sc.getLocalProperty(SPAN_PROP) if self.sc else None
        if self.sc:
            self.sc.setLocalProperty(SPAN_PROP, str(sid))
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            if self.sc:
                self.sc.setLocalProperty(SPAN_PROP, prev)

    def named(self, name: str) -> list[dict]:
        return [r for r in self.records if r["name"] == name and r["end"] is not None]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.records, f)


@contextmanager
def instrumented(spans: Spans, targets: list[tuple[object, str, str]], last: dict):
    """Wrap ``owner.attr`` in a span named ``name`` for each target, for the
    duration of the block, keeping each target's latest return value in
    ``last[name]``.  Instance methods, static/class methods and module
    functions are all supported; the originals are restored on exit."""
    saved = []
    try:
        for owner, attr, name in targets:
            raw = inspect.getattr_static(owner, attr)
            # a static/class method is wrapped as the callable it resolves
            # to, and set back as a staticmethod so no binding is added
            static = isinstance(raw, (classmethod, staticmethod))
            fn = getattr(owner, attr) if static else raw

            def wrapper(*a, __fn=fn, __name=name, **k):
                with spans.span(__name):
                    last[__name] = __fn(*a, **k)
                    return last[__name]

            saved.append((owner, attr, raw))
            setattr(owner, attr, staticmethod(wrapper) if static else wrapper)
        yield
    finally:
        for owner, attr, raw in reversed(saved):
            setattr(owner, attr, raw)


# ------------------------------------------------------------ event log


def read_event_log(path: str) -> dict[int, dict]:
    """Jobs of one uncompressed Spark event log: ``{job_id: {start, end,
    span, tasks, cpu_s, task_s, shuffle_bytes, spill_bytes}}``.  Times are
    epoch seconds; ``span`` is the ``perfbench.span`` property or None."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                prop = (ev.get("Properties") or {}).get(SPAN_PROP)
                jobs[jid] = {
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "span": int(prop) if prop not in (None, "") else None,
                    "tasks": 0,
                    "cpu_s": 0.0,
                    "task_s": 0.0,
                    "shuffle_bytes": 0,
                    "spill_bytes": 0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                if jid is None:
                    continue
                j = jobs[jid]
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                j["tasks"] += 1
                j["task_s"] += (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
                j["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                j["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                j["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return jobs


def find_event_log(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir) if not f.startswith(".")]
    files = [f for f in files if os.path.isfile(f) and not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    return files[0]


def attribute_jobs(jobs: dict[int, dict], records: list[dict]) -> dict[int, list[dict]]:
    """Span id -> the jobs attributed to it (innermost span open when the
    job started: by property, else by wall clock)."""
    by_span: dict[int, list[dict]] = {}
    closed = [r for r in records if r["end"] is not None]
    for j in jobs.values():
        sid = j["span"]
        if sid is None:
            # innermost = latest-starting span whose interval holds the start
            holding = [r for r in closed if r["start"] <= j["start"] <= r["end"]]
            if holding:
                sid = max(holding, key=lambda r: r["start"])["id"]
        if sid is not None:
            by_span.setdefault(sid, []).append(j)
    return by_span


def subtree(records: list[dict], root: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for r in records:
        if r["parent"] is not None:
            kids.setdefault(r["parent"], []).append(r["id"])
    out, todo = set(), [root]
    while todo:
        s = todo.pop()
        out.add(s)
        todo.extend(kids.get(s, []))
    return out


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def op_profile(records: list[dict], by_span: dict[int, list[dict]], op: dict, cores: int) -> dict:
    """Spark work under one op span (a wave or a query): job and task
    counts, executor CPU, shuffle, spill, and the op's driver-only time —
    its wall with no job of the op running."""
    js = [j for s in subtree(records, op["id"]) for j in by_span.get(s, [])]
    wall = op["end"] - op["start"]
    busy = union_s(
        [
            (max(j["start"], op["start"]), min(j["end"] or op["end"], op["end"]))
            for j in js
            if j["start"] < op["end"]
        ]
    )
    task_s = sum(j["task_s"] for j in js)
    return {
        "wall_s": wall,
        "jobs": len(js),
        "tasks": sum(j["tasks"] for j in js),
        "cpu_s": sum(j["cpu_s"] for j in js),
        "busy_share": task_s / (cores * wall) if wall > 0 else 0.0,
        "shuffle_bytes": sum(j["shuffle_bytes"] for j in js),
        "spill_bytes": sum(j["spill_bytes"] for j in js),
        "driver_only_s": max(wall - busy, 0.0),
    }


def op_metrics(ops: list[dict]) -> dict:
    """Means over ops of ``op_profile``: the ``op.*`` per-layer metrics."""
    def mean(k: str) -> float:
        return sum(o[k] for o in ops) / len(ops)

    return {
        "op.jobs": mean("jobs"),
        "op.tasks": mean("tasks"),
        "op.driver_only_s": mean("driver_only_s"),
        "op.executor_cpu_s": mean("cpu_s"),
        "op.executor_busy_share": mean("busy_share"),
        "op.shuffle_bytes": mean("shuffle_bytes"),
        "op.spill_bytes": mean("spill_bytes"),
    }


# ------------------------------------------------------- UDF profiler


def udf_profile(spark, out_dir: str) -> dict:
    """Read back the session UDF profiler (``spark.sql.pyspark.udf.
    profiler=perf``): total Python seconds inside UDFs, and call counts of
    every profiled function by name."""
    import pstats

    os.makedirs(out_dir, exist_ok=True)
    spark.profile.dump(out_dir)
    total_s, calls = 0.0, {}
    for f in sorted(os.listdir(out_dir)):
        if not f.endswith(".pstats"):
            continue
        st = pstats.Stats(os.path.join(out_dir, f))
        total_s += st.total_tt
        for (_file, _line, func), (_cc, nc, *_rest) in st.stats.items():
            calls[func] = calls.get(func, 0) + nc
    return {"python_s": total_s, "calls": calls}


# ---------------------------------------------------------------- host


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor took from this VM between two
    ``cpu_ticks`` readings: wall-time noise the benchmark cannot remove."""
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total else 0.0


# ---------------------------------------------------------------- RSS


def _tree_rss_mb(root_pid: int) -> float:
    """RSS of a process and all its descendants, from /proc.  A child that
    still shares its parent's address space (the JVM launches helper
    commands with vfork/posix_spawn; until the exec the child reports the
    whole JVM's RSS) is not counted twice."""
    children: dict[int, list[int]] = {}
    mem: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid, ppid = int(d), int(fields[1])
        children.setdefault(ppid, []).append(pid)
        mem[pid] = (int(fields[20]), int(fields[21]))  # vsize (bytes), rss (pages)
    total, todo = 0, [root_pid]
    while todo:
        p = todo.pop()
        total += mem.get(p, (0, 0))[1]
        todo.extend(c for c in children.get(p, []) if mem.get(c) != mem.get(p))
    return total * os.sysconf("SC_PAGE_SIZE") / (1 << 20)


class RssSampler:
    """Samples the RSS of this process tree (Python driver, the JVM it
    launched, and the JVM's Python workers) on a thread; ``stop`` returns
    the largest sum seen while sampling was on."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        pid = os.getpid()
        while True:
            self.peak_mb = max(self.peak_mb, _tree_rss_mb(pid))
            if self._stop.wait(self.interval_s):
                return

    def stop(self) -> float:
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=10)
            self.peak_mb = max(self.peak_mb, _tree_rss_mb(os.getpid()))
        return self.peak_mb
