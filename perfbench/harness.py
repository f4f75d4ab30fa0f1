"""Closed-loop job runner, span tracer and process-tree CPU and memory readers.

Nothing here imports jpspark: the workloads pass jpspark's functions in,
so the runner and tracer can be tested without a Spark session.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable


@dataclass
class Op:
    """One step of a workload's job. ``fn(tracer)`` runs the step and
    returns True when its output check passes."""

    name: str
    fn: Callable[["Tracer"], bool]


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)


def run_job(ops: list[Op], tracer: "Tracer", tally: Tally) -> tuple[float, dict[str, float]]:
    """Run every op once, back to back. An op that raises or whose check
    returns False counts as failed; the job goes on with the next op.
    Returns (job wall seconds, {op name: op wall seconds})."""
    op_s: dict[str, float] = {}
    with tracer.span("job", "job"):
        t_job = time.perf_counter()
        for op in ops:
            t0 = time.perf_counter()
            tally.attempted += 1
            try:
                with tracer.span(op.name, "op"):
                    ok = bool(op.fn(tracer))
            except Exception:  # an op failure is a measured outcome, not a crash
                ok = False
                tally.errors.append(f"{op.name}: {traceback.format_exc(limit=4)}")
            else:
                if not ok:
                    tally.errors.append(f"{op.name}: output check failed")
            if not ok:
                tally.failed += 1
            op_s[op.name] = time.perf_counter() - t0
        tracer.release()
        job_s = time.perf_counter() - t_job
    return job_s, op_s


class Tracer:
    """Spans around the benchmark's calls into jpspark.

    Disabled, ``call`` is a plain call and ``span`` records nothing.
    Enabled, every span gets an id, a parent and a Spark job group (so
    the event log can be split per span), and ``call`` materializes a
    returned DataFrame (persist + count) before the span closes, so each
    span holds its own layer's work rather than deferring it to the next
    consumer. Spans stay in memory until the run ends."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._held: list = []
        self._job = -1

    @contextmanager
    def span(self, name: str, kind: str):
        if not self.enabled:
            yield None
            return
        if kind == "job":
            self._job += 1
        s = {
            "id": len(self.spans),
            "name": name,
            "kind": kind,
            "job": self._job,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "call_end": None,
            "rows": None,
        }
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, s: dict | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if s is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(group_id(s["id"]), s["name"])

    def call(self, name: str, fn, *args, **kwargs):
        """Call ``fn`` as the layer ``name`` (module path without the
        ``jpspark.`` prefix, e.g. ``ops.knn.knn_join_broadcast``)."""
        if not self.enabled:
            return fn(*args, **kwargs)
        with self.span(name, "call") as s:
            out = fn(*args, **kwargs)
            s["call_end"] = time.perf_counter()
            df = out[0] if isinstance(out, tuple) else out
            if hasattr(df, "persist") and hasattr(df, "count"):
                df.persist()
                s["rows"] = df.count()
                self._held.append(df)
        return out

    def release(self) -> None:
        """Unpersist what ``call`` materialized during the current job."""
        for df in self._held:
            df.unpersist()
        self._held.clear()


def group_id(span_id: int) -> str:
    return f"perfbench-span-{span_id}"


def tail_percentile(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile of ``values`` that has at least ten samples
    at or beyond it, floored at the median when fewer than twenty samples
    exist. Returns (value, percentile, samples at or beyond it)."""
    xs = sorted(values)
    n = len(xs)
    k = max(n - 10, (n - 1) // 2)  # 0-based rank of the reported sample
    return xs[k], 100.0 * k / n, n - k


def median(values: list[float]) -> float:
    return statistics.median(values)


def _tree(root: int) -> dict[int, int | None]:
    """{pid: parent pid} for ``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the ppid follows its ")"
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out: dict[int, int | None] = {root: None}
    todo = [root]
    while todo:
        p = todo.pop()
        for c in children.get(p, []):
            out[c] = p
            todo.append(c)
    return out


def _tree_pids(root: int) -> list[int]:
    return list(_tree(root))


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and all its descendants (the
    JVM with its JIT and GC threads, and the Python workers), children
    that have ended and been reaped included."""
    ticks = 0
    for p in _tree(root):
        try:
            with open(f"/proc/{p}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # the process has ended
            continue
        # utime, stime, cutime, cstime
        ticks += sum(int(x) for x in stat[stat.rindex(b")") + 2 :].split()[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    tree = _tree(root)
    statm: dict[int, tuple[int, int]] = {}
    for p in tree:
        try:
            with open(f"/proc/{p}/statm") as f:
                size, resident = f.read().split()[:2]
        except OSError:
            continue
        statm[p] = (int(size), int(resident))
    # a child caught between vfork and exec (the JVM spawning a helper
    # such as chmod) shares its parent's address space and so reports the
    # parent's virtual size: count that memory once. (A freshly forked
    # Python worker can match too; its pages are still the daemon's.)
    return page * sum(
        res for p, (size, res) in statm.items()
        if tree[p] not in statm or statm[tree[p]][0] != size
    )


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled from /proc on a thread."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(root))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
