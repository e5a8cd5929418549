"""Shared benchmark plumbing: span tracer, latency statistics and the
process tree's peak memory.

Everything here is measurement code that sits *outside* the program under
test: spans are recorded around calls into ``lance_namespace_impls_spark``
and at the in-process fixture services, never inside the package.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field


# -- statistics -------------------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty sample."""
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * q // 100))  # ceil without float error
    return ordered[int(rank) - 1]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# -- tracing ----------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    span_id: int
    parent: int | None
    trace_id: int
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing.

    The benchmark drives one closed-loop client, so there is at most one
    open operation at a time; fixture-service spans recorded on server
    threads attach to the operation that was open when the request arrived.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._by_id: dict[int, Span] = {}
        self._next_id = 1
        self._lock = threading.Lock()
        self.current_op: int | None = None
        self.current_trace: int | None = None

    def _new_id(self) -> int:
        with self._lock:
            sid = self._next_id
            self._next_id += 1
            return sid

    def begin(self, name: str, parent: int | None, trace_id: int | None = None) -> int:
        """Open a span; returns its id (0 when tracing is off)."""
        if not self.enabled:
            return 0
        sid = self._new_id()
        span = Span(name, time.perf_counter(), 0.0, sid, parent, trace_id or sid)
        with self._lock:
            self.spans.append(span)
            self._by_id[sid] = span
        return sid

    def end(self, sid: int, **attrs) -> None:
        if not sid:
            return
        span = self._by_id.pop(sid)
        span.end = time.perf_counter()
        span.attrs.update(attrs)

    def open_op(self) -> tuple[int | None, int | None]:
        """(operation span, trace id) open now; a server thread reads it when
        a request arrives, before its reply lets the client move on."""
        return self.current_op, self.current_trace

    def record(self, name: str, start: float, end: float,
               op: tuple[int | None, int | None], **attrs) -> None:
        """Record a finished service span as a child of ``op`` (from
        :meth:`open_op`)."""
        parent, trace_id = op
        if not self.enabled or parent is None:
            return
        span = Span(name, start, end, self._new_id(), parent, trace_id or parent, attrs)
        with self._lock:
            self.spans.append(span)

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "name": s.name, "start": s.start, "end": s.end,
                    "id": s.span_id, "parent": s.parent, "trace": s.trace_id,
                    **({"attrs": s.attrs} if s.attrs else {}),
                }) + "\n")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total = 0.0
    cur_lo = cur_hi = None
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


# -- memory -----------------------------------------------------------------


def tree_peak_rss_mb() -> dict[str, float]:
    """Peak resident set sizes (``VmHWM``) of this process and all its live
    descendants, read from /proc and summed per command name (``java`` for
    the Spark JVM, ``python3`` and ``python`` for the Python processes).

    The kernel tracks each process's peak, so nothing has to sample while
    the workload runs; the sum of per-process peaks bounds the tree's peak
    from above.  Call it before child processes exit.
    """
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    total_kb: dict[str, int] = {}
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb[comm] = total_kb.get(comm, 0) + int(line.split()[1])
                        break
        except OSError:
            continue
    return {comm: kb / 1024.0 for comm, kb in total_kb.items()}


# -- child processes --------------------------------------------------------


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``), so a Python worker whose JVM parent exits
    first is re-parented here and :func:`stop_descendants` still sees it."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _descendants() -> dict[int, bool]:
    """Descendants of this process, zombies included: pid -> still running."""
    children: dict[int, list[tuple[int, bool]]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append((int(entry), fields[0] != "Z"))
    out, todo = {}, [os.getpid()]
    while todo:
        for pid, running in children.get(todo.pop(), []):
            out[pid] = running
            todo.append(pid)
    return out


def _reap() -> None:
    """Collect every exited child of this process (orphans adopted too)."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float = 20.0) -> None:
    """Stop every process this one started, directly or not, and wait until
    each has ended and been reaped: SIGTERM first, SIGKILL for any still
    running after ``grace_s`` seconds."""
    import signal

    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        _reap()
        procs = _descendants()
        if not procs:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid, running in procs.items():
            if running:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
