"""In-memory spans and host counters for the warehouse benchmark.

Spans are opened by the benchmark's own wrappers around the product's
public module functions (``sql_gate.run_sql``, ``cowtable.update``,
``ingest.ingest`` ...). The product calls its sub-layers through module
attributes (``cow.update`` from the gate, ``ingest(...)`` from
``ingest_many``), so a wrapper installed on the module attribute sees
every nested call too. Nothing is written until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import os
import threading
import time
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None  # index into Tracer.spans
    op: int | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans (name, start, end, parent, op id) on
    ``time.perf_counter`` time. One client drives the product, but
    ``ingest_many`` fans out to pool threads: a thread with no open
    span of its own parents its spans to the innermost span open on
    the driving thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: int | None = None
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self.py4j_calls = 0
        self._py4j_paused = 0
        # perf_counter -> epoch seconds, for Spark's job timestamps
        self.epoch_offset = time.time() - time.perf_counter()

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str) -> int:
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            parent = self._main_stack[-1] if self._main_stack else None
        with self._lock:
            self.spans.append(Span(name, time.perf_counter(), parent=parent, op=self.op))
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack().remove(idx)

    def add(self, name: str, start: float, end: float, parent: int | None) -> None:
        """Record a span measured elsewhere (a Spark job)."""
        with self._lock:
            self.spans.append(Span(name, start, end, parent, self.op))

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a span-recording wrapper."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            idx = self.open(name)
            try:
                return orig(*args, **kwargs)
            finally:
                self.close(idx)

        setattr(module, attr, wrapper)

    def count_py4j(self, gateway_client) -> None:
        """Count every py4j ``send_command`` round trip the product
        makes (the tracer's own status queries are excluded)."""
        orig = gateway_client.send_command

        def send_command(*args, **kwargs):
            if not self._py4j_paused:
                self.py4j_calls += 1
            return orig(*args, **kwargs)

        gateway_client.send_command = send_command

    @contextlib.contextmanager
    def paused(self):
        """Leave the py4j calls made inside the block uncounted."""
        self._py4j_paused += 1
        try:
            yield
        finally:
            self._py4j_paused -= 1

    def children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(i)
        return kids

    def self_time(self, idx: int, kids: dict[int, list[int]]) -> float:
        """Duration minus the part of it that child spans cover."""
        span = self.spans[idx]
        cover = union_length(
            (max(self.spans[k].start, span.start), min(self.spans[k].end, span.end))
            for k in kids.get(idx, ())
        )
        return span.duration - cover


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def proc_table() -> dict[int, tuple[int, int]]:
    """{pid: (parent pid, utime+stime+cutime+cstime ticks)} from /proc."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                raw = fh.read()
        except OSError:  # exited while listing
            continue
        fields = raw[raw.rindex(")") + 2 :].split()
        out[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return out


def descendants(root: int, table: dict[int, tuple[int, int]]) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        found = kids.get(todo.pop(), [])
        out.extend(found)
        todo.extend(found)
    return out


def tree_cpu_seconds(root: int) -> float:
    """utime+stime+cutime+cstime summed over ``root`` and every live
    descendant (the Spark JVM and its Python workers). Exited
    descendants are counted through their reaper's cutime/cstime.
    Host steal is accounted separately by the kernel and is not in
    these fields."""
    table = proc_table()
    pids = [root, *descendants(root, table)]
    return sum(table[p][1] for p in pids if p in table) / CLK_TCK


def host_cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:9]]
    return vals[7], sum(vals)


def process_age_seconds() -> float:
    """Seconds since this process started (its /proc start time)."""
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / CLK_TCK
