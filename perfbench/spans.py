"""Tracing for the workload benchmark, recorded from outside the engine.

- ``Tracer`` wraps public functions at their module attribute and records
  one span per call (name, start, end, parent span, request id) plus the
  py4j commands sent while the span was open. Spans stay in memory until
  the run ends. ``uninstall`` restores every original attribute.
- Wrappers see calls that go through a module attribute (``txn.x(...)``,
  ``from .m import x`` at call time); a call to a same-module function by
  its bare name is invisible to them.
- ``version_plan_memo`` gets a counting wrapper: a call whose builder
  runs is a memo miss, any other call a hit.
- ``commit_with_retry`` gets a wrapper that opens a ``txn.commit_attempt``
  span around each run of its ``build`` callable (one per OCC attempt).
- ``parse_event_log`` reads Spark's JSON event log (enabled only in traced
  runs) into jobs with their stages' task metrics, and ``attribute_jobs``
  assigns each job to the innermost span open at its submission.
- ``peak_rss_mb`` sums ``VmHWM`` of this process and its descendants (the
  JVM), read from ``/proc``; ``cpu_s`` sums their CPU time.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "rid", "py4j", "layer")

    def __init__(self, sid, name, layer, start, parent, rid):
        self.sid, self.name, self.layer = sid, name, layer
        self.start, self.end, self.parent, self.rid = start, None, parent, rid
        self.py4j = 0


class Tracer:
    """Span recorder. ``enabled=False`` installs no wrappers and records
    nothing, so untraced runs execute the engine unobserved. Each driver
    thread has its own span stack and request id."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self.memo_calls = 0
        self.memo_misses = 0
        self._tl = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        st = getattr(self._tl, "stack", None)
        if st is None:
            st = self._tl.stack = []
        return st

    # ---------------------------------------------------------- requests
    def begin_request(self, rid: str) -> None:
        """Tag this thread's spans and Spark jobs with ``rid`` (the job
        group, read back from the event log)."""
        if not self.enabled:
            return
        self._tl.rid = rid
        self.spark.sparkContext.setJobGroup(rid, rid)

    def end_request(self) -> None:
        if not self.enabled:
            return
        self._tl.rid = None
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    # ------------------------------------------------------------- spans
    def _open(self, name: str, layer: str) -> Span:
        st = self._stack()
        parent = st[-1].sid if st else None
        with self._lock:
            sp = Span(len(self.spans), name, layer, time.perf_counter(), parent,
                      getattr(self._tl, "rid", None))
            self.spans.append(sp)
        st.append(sp)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self._stack().pop()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        """A span the benchmark opens itself (a request's action, a
        refresh stage)."""
        if not self.enabled:
            yield None
            return
        sp = self._open(f"{layer}.{name}", layer)
        try:
            yield sp
        finally:
            self._close(sp)

    # ---------------------------------------------------------- wrapping
    def wrap(self, module, attr: str, layer: str) -> None:
        if not self.enabled:
            return
        orig = getattr(module, attr)
        name = f"{layer}.{attr}"

        @functools.wraps(orig)
        def traced(*a, **k):
            sp = self._open(name, layer)
            try:
                return orig(*a, **k)
            finally:
                self._close(sp)

        self._saved.append((module, attr, orig))
        setattr(module, attr, traced)

    def wrap_plan_memo(self, txn) -> None:
        if not self.enabled:
            return
        orig = txn.version_plan_memo

        @functools.wraps(orig)
        def counted(spark, root, version_name, tag, builder, extra=None):
            miss = []

            def counted_builder():
                miss.append(1)
                return builder()

            try:
                return orig(spark, root, version_name, tag, counted_builder, extra)
            finally:
                with self._lock:
                    self.memo_calls += 1
                    self.memo_misses += bool(miss)

        self._saved.append((txn, "version_plan_memo", orig))
        txn.version_plan_memo = counted

    def reset_memo(self) -> None:
        with self._lock:
            self.memo_calls = self.memo_misses = 0

    def wrap_commit_attempts(self, txn) -> None:
        if not self.enabled:
            return
        orig = txn.commit_with_retry

        @functools.wraps(orig)
        def counted(root, build, *a, **k):
            def attempt(*ba, **bk):
                with self.span("commit_attempt", "txn"):
                    return build(*ba, **bk)

            return orig(root, attempt, *a, **k)

        self._saved.append((txn, "commit_with_retry", orig))
        txn.commit_with_retry = counted

    def count_py4j(self) -> None:
        if not self.enabled:
            return
        client = self.spark.sparkContext._gateway._gateway_client
        orig = client.send_command

        def counted(*a, **k):
            for sp in self._stack():
                sp.py4j += 1
            return orig(*a, **k)

        self._saved.append((client, "send_command", orig))
        client.send_command = counted

    def uninstall(self) -> None:
        while self._saved:
            obj, attr, orig = self._saved.pop()
            setattr(obj, attr, orig)


# ------------------------------------------------------------ event log


def parse_event_log(log_dir: str) -> list[dict]:
    """Jobs from the event log: submit/end wall times (seconds, epoch),
    job group, and summed task metrics over the job's stages."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    paths = [os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
             if f.startswith(("events_", "local-"))]
    for path in sorted(paths):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "submit": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "group": props.get("spark.jobGroup.id"),
                        "tasks": 0,
                        "executor_cpu_s": 0.0,
                        "shuffle_write_mb": 0.0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"]))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job["tasks"] += 1
                    job["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    sw = m.get("Shuffle Write Metrics") or {}
                    job["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
    return [j for j in jobs.values() if j["end"] is not None]


def attribute_jobs(spans: list[Span], jobs: list[dict], clock_offset: float) -> dict:
    """Map span id -> jobs submitted while it was the innermost open span
    of its request. ``clock_offset`` converts epoch seconds to the
    ``perf_counter`` clock the spans use."""
    by_rid: dict[str, list[Span]] = defaultdict(list)
    for sp in spans:
        if sp.rid is not None and sp.end is not None:
            by_rid[sp.rid].append(sp)
    out: dict[int, list[dict]] = defaultdict(list)
    for j in jobs:
        t = j["submit"] - clock_offset
        best = None
        for sp in by_rid.get(j["group"], ()):
            if sp.start <= t <= sp.end and (best is None or sp.start >= best.start):
                best = sp
        if best is not None:
            out[best.sid].append(j)
    return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the time its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for sp in spans:
        if sp.parent is not None and sp.end is not None:
            kids[sp.parent].append((sp.start, sp.end))
    return {
        sp.sid: (sp.end - sp.start) - covered(kids[sp.sid], sp.start, sp.end)
        for sp in spans
        if sp.end is not None
    }


# ------------------------------------------------------------- host data


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for path in glob.glob(f"/proc/{p}/task/*/children"):
            try:
                with open(path) as f:
                    kids = [int(x) for x in f.read().split()]
            except OSError:
                continue
            out.extend(kids)
            todo.extend(kids)
    return out


def peak_rss_mb() -> float:
    """High-water resident set of this process plus its descendants."""
    total = 0
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0


# Names, as /proc truncates them (15 bytes), of the JVM's JIT compiler
# and code-cache sweeper threads. A young JVM compiles in the background
# for minutes; that CPU goes to whichever operation happens to run.
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


def _ticks(stat_path: str, n: int) -> int:
    """Sum of the ``n`` CPU-time fields (utime, stime, cutime, cstime:
    fields 14-17) of a ``/proc`` stat line."""
    with open(stat_path) as f:
        # fields after the parenthesised command name
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11 : 11 + n])


def cpu_sample() -> tuple[int, dict[int, int]]:
    """CPU clock ticks (user + system, own and reaped children) used so
    far by this process and its descendants (the JVM and the Python
    workers), and the ticks of each live JIT compiler thread among them."""
    total, jit = 0, {}
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            total += _ticks(f"/proc/{pid}/stat", 4)
        except OSError:
            continue
        for task in glob.glob(f"/proc/{pid}/task/*"):
            try:
                with open(f"{task}/comm") as f:
                    if not f.read().startswith(_JIT_THREADS):
                        continue
                jit[int(task.rsplit("/", 1)[1])] = _ticks(f"{task}/stat", 2)
            except OSError:
                continue
    return total, jit


def cpu_delta_s(a, b) -> float:
    """CPU seconds used between samples ``a`` and ``b``, less what the
    JIT compiler threads used in between. The JVM must keep its compiler
    threads for its whole life (``-XX:-UseDynamicNumberOfCompilerThreads``):
    the CPU of one that exited between the samples would stay counted."""
    (t0, j0), (t1, j1) = a, b
    jit = sum(v - j0.get(tid, 0) for tid, v in j1.items())
    return (t1 - t0 - jit) / os.sysconf("SC_CLK_TCK")


def cpu_steal_s() -> float:
    """CPU time stolen from this (virtual) host by others, since boot:
    a run whose steal grows was measured on a contended host."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return -1.0


def loadavg_1m() -> float:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0
