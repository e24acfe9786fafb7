"""Per-layer instrumentation for the traced benchmark run.

Everything here observes the engine from outside: wrappers installed around
public functions of ``qpmodel_spark`` (no engine file is edited), a
``StreamingQueryListener``, per-execution deltas read from Spark's status
store, and process CPU read from ``/proc``.  Spans are kept in memory and
written out by the worker when the run ends.
"""

from __future__ import annotations

import functools
import os
import sys
import threading
import time
from contextlib import contextmanager
from typing import NamedTuple

# catalog functions whose calls and time make up the ``catalog`` layer
CATALOG_FUNCS = ("load", "register_views", "fanout")
_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """In-memory span recorder.

    A span is (id, parent, trace, name, start, end).  Spans opened on the
    main thread nest through a stack; spans opened on other threads (the
    streaming ``foreachBatch`` callbacks that run ``Engine.merge_into``)
    take the main thread's innermost open span as parent, so every parent
    resolves to a recorded span.
    """

    def __init__(self) -> None:
        self.on = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._lock = threading.Lock()
        self._next = 0
        self._main = threading.main_thread()
        self.trace_id: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield None
            return
        main = threading.current_thread() is self._main
        with self._lock:
            self._next += 1
            parent = self._stack[-1]["id"] if self._stack else None
            sp = {
                "id": self._next,
                "parent": parent,
                "trace": self.trace_id,
                "name": name,
                "start": time.perf_counter(),
                "end": None,
            }
            self.spans.append(sp)
            if main:
                self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            if main:
                with self._lock:
                    self._stack.pop()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.on:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def install_wrappers(tracer: Tracer, specs: dict) -> int:
    """Route every reference to the catalog functions and to
    ``Engine.merge_into`` through ``tracer``.

    Engine modules bind catalog functions in three ways: as module
    globals (``from qpmodel_spark.catalog import fanout``), through the
    module (``catalog.load``) and inside closures made at registration time
    (``register_sql``).  All three are replaced; returns how many
    references were rewired.
    """
    from qpmodel_spark import catalog
    from qpmodel_spark.ddl import Engine

    swap = {}
    for fname in CATALOG_FUNCS:
        orig = getattr(catalog, fname)
        swap[id(orig)] = tracer.wrap(orig, f"catalog.{fname}")
    n = 0
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("qpmodel_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if id(val) in swap:
                setattr(mod, attr, swap[id(val)])
                n += 1
    for spec in specs.values():
        for cell in spec.spark_fn.__closure__ or ():
            try:
                val = cell.cell_contents
            except ValueError:  # empty cell
                continue
            if id(val) in swap:
                cell.cell_contents = swap[id(val)]
                n += 1
    Engine.merge_into = tracer.wrap(Engine.merge_into, "ddl.merge_into")
    return n + 1


class StatusStore:
    """Per-execution deltas from Spark's status store.

    Jobs are counted by job id, so jobs submitted by streaming threads
    outside the caller's job group are included.  Executor totals give task
    time, GC, input and shuffle bytes; spill comes from the stages of the
    new jobs.
    """

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()

    def snapshot(self) -> dict:
        self._sc.listenerBus().waitUntilEmpty()
        jobs = self._store.jobsList(None)  # newest first
        ex = self._store.executorList(True)
        tot = dict.fromkeys(("task_ms", "gc_ms", "input_b", "shr_b", "shw_b", "tasks"), 0)
        for i in range(ex.size()):
            e = ex.apply(i)
            tot["task_ms"] += e.totalDuration()
            tot["gc_ms"] += e.totalGCTime()
            tot["input_b"] += e.totalInputBytes()
            tot["shr_b"] += e.totalShuffleRead()
            tot["shw_b"] += e.totalShuffleWrite()
            tot["tasks"] += e.completedTasks()
        tot["max_job"] = jobs.apply(0).jobId() if jobs.size() else -1
        return tot

    def delta(self, before: dict, after: dict) -> dict:
        """Counters for the jobs that ran between two snapshots."""
        jobs = self._store.jobsList(None)
        stage_ids: set[int] = set()
        n_jobs = n_stages = 0
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= before["max_job"]:
                break
            n_jobs += 1
            n_stages += j.numCompletedStages()
            sids = j.stageIds()
            stage_ids.update(sids.apply(k) for k in range(sids.size()))
        spill = 0
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # stage evicted from the store: count no spill
                continue
            spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
        mb = 1 << 20
        return {
            "spark.jobs": n_jobs,
            "spark.stages": n_stages,
            "spark.tasks": after["tasks"] - before["tasks"],
            "spark.task_s": (after["task_ms"] - before["task_ms"]) / 1e3,
            "spark.gc_s": (after["gc_ms"] - before["gc_ms"]) / 1e3,
            "spark.input_mb": (after["input_b"] - before["input_b"]) / mb,
            "spark.shuffle_read_mb": (after["shr_b"] - before["shr_b"]) / mb,
            "spark.shuffle_write_mb": (after["shw_b"] - before["shw_b"]) / mb,
            "spark.spill_mb": spill / mb,
        }


def make_stream_listener(sink: dict):
    """A ``StreamingQueryListener`` adding trigger progress into ``sink``
    (the open execution's counters, swapped by the worker)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs or {}
            rec = sink["current"]
            rec["triggers"].append(d.get("triggerExecution", 0))
            rec["add_batch_ms"] += d.get("addBatch", 0)
            rec["planning_ms"] += d.get("queryPlanning", 0)
            rec["wal_commit_ms"] += d.get("walCommit", 0)
            rec["commit_offsets_ms"] += d.get("commitOffsets", 0)
            rows = mem = 0
            for op in p.stateOperators or ():
                rows += op.numRowsTotal
                mem += op.memoryUsedBytes
                rec["state_commit_ms"] += op.commitTimeMs
            # state size is a level, not a flow: keep each query's latest
            rec["state"][str(p.id)] = (rows, mem)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


def new_stream_record() -> dict:
    return {
        "triggers": [],
        "add_batch_ms": 0,
        "planning_ms": 0,
        "wal_commit_ms": 0,
        "commit_offsets_ms": 0,
        "state_commit_ms": 0,
        "state": {},
    }


class ProcStat(NamedTuple):
    ppid: int
    pgrp: int
    state: str
    comm: str
    cpu_s: float  # own user + system time
    children_cpu_s: float  # reaped children's user + system time


def _proc_stat(pid: int) -> ProcStat | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    # f[0] is field 3 of proc(5) ('state'); utime is field 14
    return ProcStat(
        ppid=int(f[1]),
        pgrp=int(f[2]),
        state=f[0],
        comm=comm,
        cpu_s=(int(f[11]) + int(f[12])) / _CLK_TCK,
        children_cpu_s=(int(f[13]) + int(f[14])) / _CLK_TCK,
    )


def proc_table() -> tuple[dict[int, ProcStat], dict[int, list[int]]]:
    """Every process's stat tuple, and each pid's children."""
    stats: dict[int, tuple] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _proc_stat(int(name))
        if st is None:
            continue
        stats[int(name)] = st
        children.setdefault(st.ppid, []).append(int(name))
    return stats, children


def descendants(pid: int, children: dict[int, list[int]]) -> list[int]:
    out, todo = [], list(children.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def process_cpu(driver_pid: int, jvm_pid: int) -> dict:
    """CPU seconds of the driver, the JVM and the Python workers it forked.

    Python workers are every descendant of the JVM; a worker that has exited
    and been reaped is still counted through its parent's children time.
    """
    stats, children = proc_table()
    py = sum(
        stats[p].cpu_s + stats[p].children_cpu_s
        for p in descendants(jvm_pid, children) if p in stats
    )
    drv = stats.get(driver_pid)
    jvm = stats.get(jvm_pid)
    return {
        "driver": drv.cpu_s if drv else 0.0,
        "jvm": jvm.cpu_s if jvm else 0.0,
        "pyworker": py,
    }


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per span name: its duration minus the part of it that its
    children cover (children on other threads may overlap each other, so
    the covered part is the union of their intervals)."""
    kids: dict[int, list[dict]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            kids.setdefault(sp["parent"], []).append(sp)
    out: dict[str, float] = {}
    for sp in spans:
        covered = 0.0
        cur_s = cur_e = None
        for c in sorted(kids.get(sp["id"], ()), key=lambda c: c["start"]):
            s, e = max(c["start"], sp["start"]), min(c["end"], sp["end"])
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
        out[sp["name"]] = out.get(sp["name"], 0.0) + (sp["end"] - sp["start"]) - covered
    return out
