"""Measurement from outside the program: spans and Spark stage metrics.

* :class:`Tracer` records spans (name, start, end, parent) in memory
  around calls into the program's public functions; :meth:`Tracer.wrap`
  swaps a module attribute for a timed wrapper, so calls the program
  makes to its own module functions are caught too.
* :func:`stage_metrics` reads Spark's status store, which is filled
  with ``spark.ui.enabled=false`` too.
* :func:`descendants` lists this process's children (the JVM and its
  Python workers) from ``/proc``, so a run can wait for them to end.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.

    Parents follow the calling thread's open spans; a span opened on a
    thread with none open (a worker of the program's slice pool) takes
    the outermost open span of the tracer as its parent."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._roots: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        st = self._stack()
        if st:
            parent = st[-1].id
        else:
            with self._lock:
                parent = self._roots[0].id if self._roots else None
        with self._lock:
            sp = Span(len(self.spans), name, parent, time.perf_counter())
            self.spans.append(sp)
            if parent is None:
                self._roots.append(sp)
        st.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            st.pop()
            if parent is None:
                with self._lock:
                    self._roots.remove(sp)

    def wrap(self, owner: object, attr: str, name: str, before=None):
        """Replace ``owner.attr`` with a span-recording wrapper until
        :meth:`unwrap_all`; ``before()`` runs inside the span, ahead of
        the call."""
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                if before is not None:
                    before()
                return orig(*args, **kwargs)

        traced.__wrapped__ = orig
        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def self_time(self, sp: Span) -> float:
        """Span duration minus the part of it its children cover (the
        union of their intervals: children on parallel threads
        overlap)."""
        ivs = sorted((max(c.start, sp.start), min(c.end, sp.end))
                     for c in self.children(sp))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.duration - covered

    def dump(self, t0: float) -> list[dict]:
        return [{"id": s.id, "name": s.name, "parent": s.parent,
                 "start_s": round(s.start - t0, 6),
                 "end_s": round(s.end - t0, 6),
                 "self_s": round(self.self_time(s), 6)}
                for s in self.spans]


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

@dataclass
class StageRow:
    stage_id: int
    attempt_id: int
    name: str
    tasks: int
    run_ms: int
    shuffle_read: int
    shuffle_write: int
    fetch_wait_ms: int
    spill: int


def _store(spark):
    return spark.sparkContext._jsc.sc().statusStore()


def _stage_list(spark):
    """All stages, newest first (the store lists them by descending
    stage id)."""
    sc = spark.sparkContext
    jvm = sc._jvm
    return _store(spark).stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList())


def last_stage_id(spark) -> int:
    seq = _stage_list(spark)
    return seq.apply(0).stageId() if seq.length() else -1


def stage_metrics(spark, after: int = -1) -> list[StageRow]:
    """Completed stages with ``stageId > after``."""
    seq = _stage_list(spark)
    out = []
    for i in range(seq.length()):
        s = seq.apply(i)
        sid = s.stageId()
        if sid <= after:
            break
        if str(s.status().toString()) != "COMPLETE":
            continue
        out.append(StageRow(
            sid, s.attemptId(), str(s.name()), s.numCompleteTasks(),
            s.executorRunTime(), s.shuffleReadBytes(),
            s.shuffleWriteBytes(), s.shuffleFetchWaitTime(),
            s.memoryBytesSpilled()))
    return sorted(out, key=lambda r: r.stage_id)


def task_skew(spark, rows: list[StageRow]) -> float:
    """Max over the given stages of max/median task run time, taken
    from the status store's per-stage task quantiles."""
    sc = spark.sparkContext
    q = sc._gateway.new_array(sc._jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    worst = 1.0
    for r in rows:
        if r.tasks < 2:
            continue
        opt = _store(spark).taskSummary(r.stage_id, r.attempt_id, q)
        if not opt.isDefined():
            continue
        runs = opt.get().executorRunTime()
        med, top = runs.apply(0), runs.apply(1)
        if med > 0:
            worst = max(worst, top / med)
    return worst


def sum_stages(rows: list[StageRow]) -> dict:
    return {
        "stages": len(rows),
        "tasks": sum(r.tasks for r in rows),
        "run_s": sum(r.run_ms for r in rows) / 1000.0,
        "shuffle_read_bytes": sum(r.shuffle_read for r in rows),
        "shuffle_write_bytes": sum(r.shuffle_write for r in rows),
        "fetch_wait_s": sum(r.fetch_wait_ms for r in rows) / 1000.0,
        "spill_bytes": sum(r.spill for r in rows),
    }


# ---------------------------------------------------------------------------
# The process tree
# ---------------------------------------------------------------------------

def _proc_table() -> dict[int, int]:
    """pid → ppid for every process readable in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces; fields after the closing paren are fixed
        rest = stat[stat.rindex(b")") + 2:].split()
        out[int(name)] = int(rest[1])
    return out


def _children(table: dict[int, int]) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid, ppid in table.items():
        kids.setdefault(ppid, []).append(pid)
    return kids


def descendants(root: int) -> list[int]:
    kids = _children(_proc_table())
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out
