"""Spans, Spark job/task counts, and host measurements for the benchmark.

A ``Tracer`` keeps spans in memory: name, start, end, parent id, trace id
and free-form attributes. ``Tracer.wrap`` patches a module or class
attribute so that every call into it opens a span; ``Tracer.unpatch``
restores the originals. With ``enabled=False`` the tracer patches nothing
and records only the spans the benchmark opens itself, so the untraced
run executes the program unchanged.

When a SparkContext is attached, a span of a traced run sets its own
Spark job group on the calling thread and, on exit, counts the jobs and
completed tasks the status tracker filed under that group. The count is
the span's own: jobs fired inside a child span belong to the child.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import itertools
import json
import os
import threading
import time
import uuid

_JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.trace_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self.sc = None  # SparkContext, attached once a session exists
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        # Spark calls foreachBatch functions on its own threads while the
        # thread that started the stream waits; spans opened there take
        # their parent from the stack of the thread that made the tracer
        self._root_stack: list[dict] = self._stack()

    # ----------------------------------------------------------- spans
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parents = stack or self._root_stack
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parents[-1]["id"] if parents else None,
            "trace_id": self.trace_id,
            "attrs": attrs,
            "jobs": 0,
            "tasks": 0,
        }
        group = prev_group = None
        if self.enabled and self.sc is not None:
            group = f"perfbench-{self.trace_id[:8]}-{rec['id']}"
            prev_group = self.sc.getLocalProperty(_JOB_GROUP)
            self.sc.setLocalProperty(_JOB_GROUP, group)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if group is not None:
                self.sc.setLocalProperty(_JOB_GROUP, prev_group)
                rec["jobs"], rec["tasks"] = self._job_counts(group)
            with self._lock:
                self.spans.append(rec)

    def _job_counts(self, group: str) -> tuple[int, int]:
        st = self.sc.statusTracker()
        job_ids = st.getJobIdsForGroup(group)
        tasks = 0
        for jid in job_ids:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                tasks += stage.numCompletedTasks if stage else 0
        return len(job_ids), tasks

    # ------------------------------------------------------------ patching
    def wrap(self, owner, attr: str, name, attrs=None, after=None) -> None:
        """Open a span around every call to ``owner.attr`` (traced runs only).

        ``name`` is the span name or a function of the call's arguments
        that returns it (``None`` skips the span); ``attrs``, if given, is
        a function of the same arguments returning span attributes.
        ``after(span, result, args, kwargs)`` runs once the span has
        closed, so what it measures is not charged to the span.
        """
        if not self.enabled:
            return
        raw = inspect.getattr_static(owner, attr)
        is_static = isinstance(raw, staticmethod)
        fn = raw.__func__ if is_static else raw

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span_name = name(*args, **kwargs) if callable(name) else name
            if span_name is None:
                return fn(*args, **kwargs)
            extra = attrs(*args, **kwargs) if attrs is not None else {}
            with self.span(span_name, **extra) as rec:
                result = fn(*args, **kwargs)
            if after is not None:
                after(rec, result, args, kwargs)
            return result

        self._patches.append((owner, attr, raw))
        setattr(owner, attr, staticmethod(wrapper) if is_static else wrapper)

    def unpatch(self) -> None:
        for owner, attr, raw in reversed(self._patches):
            setattr(owner, attr, raw)
        self._patches.clear()

    # ------------------------------------------------------------ summaries
    def children(self) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                out.setdefault(s["parent"], []).append(s)
        return out

    def subtree(self, root: dict) -> list[dict]:
        """``root`` and every span below it."""
        kids = self.children()
        out, frontier = [], [root]
        while frontier:
            s = frontier.pop()
            out.append(s)
            frontier.extend(kids.get(s["id"], ()))
        return out

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the part of it its children cover."""
        kids = self.children()
        out = {}
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], ()), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def outermost(self, spans: list[dict], pick) -> list[dict]:
        """The spans in ``spans`` that satisfy ``pick`` and have no
        ancestor that does, so nested calls are counted once."""
        by_id = {s["id"]: s for s in self.spans}

        def nested(s):
            p = s["parent"]
            while p is not None:
                if pick(by_id[p]):
                    return True
                p = by_id[p]["parent"]
            return False

        return [s for s in spans if pick(s) and not nested(s)]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self.self_times()
        with open(path, "w") as f:
            json.dump(
                [{**s, "self": selfs[s["id"]]} for s in self.spans], f, indent=1
            )


def seconds(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


# ---------------------------------------------------------------- host


def cpu_ticks() -> list[int] | None:
    """(user..steal) ticks from the first line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError, IndexError):
        return None


_TCK = os.sysconf("SC_CLK_TCK")


def clock() -> float:
    """Seconds on a clock that stops while the hypervisor runs other guests
    on this machine's CPUs: wall time less the steal time ``/proc/stat``
    counts, averaged over the CPUs. On a machine of its own it is the wall
    clock. Neighbours on a shared host take 1-25% of the CPUs at random,
    which would swing a timing by as much."""
    ticks = cpu_ticks()
    stolen = ticks[7] / _TCK / os.cpu_count() if ticks else 0.0
    return time.perf_counter() - stolen


def steal_pct(t0: list[int] | None, t1: list[int] | None) -> float | None:
    if not t0 or not t1:
        return None
    d = [b - a for a, b in zip(t0, t1)]
    return 100.0 * d[7] / sum(d) if sum(d) > 0 else None


def _tree(root: int) -> set[int]:
    """``root`` and its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    tree, frontier = {root}, [root]
    while frontier:
        for pid in children.get(frontier.pop(), ()):
            if pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    return tree


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE_KB
    except (OSError, IndexError, ValueError):
        return 0


_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


class TreeRss:
    """Peak, over the time it runs, of the summed resident set of a process
    and its descendants (the Python driver, the JVM, the Python workers),
    sampled on a thread. The sum is over the processes alive at each
    sample, so workers that come and go are counted only while they live.
    A process counts only from its second sample on: a child the JVM
    spawns shares the JVM's address space until it execs, and caught in
    that moment it would count the JVM twice (seen once, as 2.4 GB more)."""

    def __init__(self, root: int, interval: float = 0.5):
        self.root, self.interval = root, interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _sample(self) -> None:
        seen: set[int] = set()
        while True:
            tree = _tree(self.root)
            total = sum(_rss_kb(pid) for pid in tree & seen | {self.root})
            self.peak_kb = max(self.peak_kb, total)
            seen = tree
            if self._stop.wait(self.interval):
                return

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
