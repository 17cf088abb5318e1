"""Measurement helpers: process-tree sampling from /proc, Spark counters per
job group from the status store, and in-memory spans with self time."""

from __future__ import annotations

import contextlib
import json
import os
import signal
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# /proc: process tree, memory and Python-worker CPU
# ---------------------------------------------------------------------------

def _stat(pid: int):
    """(comm, ppid, cpu_ticks incl. reaped children) or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    comm = s[s.index("(") + 1:s.rindex(")")]
    fields = s[s.rindex(")") + 2:].split()
    # fields[0] is state (stat field 3); utime..cstime are fields 14..17
    ticks = sum(int(x) for x in fields[11:15])
    return comm, int(fields[1]), ticks


def _tree():
    """{pid: stat} for this process and all its descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    root = os.getpid()
    keep, frontier = {root}, [root]
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(st[1], []).append(pid)
    while frontier:
        for c in children.get(frontier.pop(), []):
            keep.add(c)
            frontier.append(c)
    return {p: stats[p] for p in keep if p in stats}


def python_worker_cpu_s() -> float:
    """CPU seconds of the Python processes the Spark JVM started (the UDF
    workers and their daemon, including exited workers the daemon reaped)."""
    me = os.getpid()
    return sum(
        st[2] for pid, st in _tree().items()
        if pid != me and st[0].startswith("python")
    ) / _CLK


def _pss_bytes(pid: int) -> int:
    """Proportional set size: RSS with each shared page split among the
    processes that map it, so forked Python workers are not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def stop_descendants(grace: float = 10.0) -> None:
    """Wait until every process this one started (directly or not) has
    exited; kill what is left after ``grace`` seconds and wait again."""
    deadline = time.monotonic() + grace
    sig = None
    while True:
        left = [p for p in _tree() if p != os.getpid()]
        if not left:
            return
        if time.monotonic() > deadline:
            if sig == signal.SIGKILL:
                raise RuntimeError(f"processes did not exit: {left}")
            sig = signal.SIGTERM if sig is None else signal.SIGKILL
            for p in left:
                with contextlib.suppress(OSError):
                    os.kill(p, sig)
            deadline = time.monotonic() + grace
        time.sleep(0.1)


class PeakMemory:
    """Samples the memory of the whole process tree (sum of PSS) every
    ``interval`` seconds on a background thread and keeps the peak."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            total = sum(_pss_bytes(pid) for pid in _tree())
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------------------------
# Spark status store, by job group
# ---------------------------------------------------------------------------

def group_counters(sc, group: str) -> dict:
    """Counters of every job run under ``group``: jobs, stages and tasks
    that ran (skipped stages excluded), executor CPU, shuffle write, disk
    spill, and the max/median task run time of the longest stage."""
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = st.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "executor_cpu_s": 0.0,
           "shuffle_write_mb": 0.0, "spill_mb": 0.0, "task_skew": 0.0}
    longest = None
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # py4j wraps NoSuchElementException: never ran
            continue
        if sd.status().toString() != "COMPLETE":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks()
        out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
        out["spill_mb"] += sd.diskBytesSpilled() / 1e6
        if longest is None or sd.executorRunTime() > longest[2]:
            longest = (sid, sd.attemptId(), sd.executorRunTime())
    if longest is not None:
        gw = sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = store.taskSummary(longest[0], longest[1], q)
        if summary.isDefined():
            rt = summary.get().executorRunTime()
            out["task_skew"] = rt.apply(1) / max(rt.apply(0), 1.0)
    return out


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """Spans kept in memory: (id, name, start, end, parent, pass id)."""

    def __init__(self, pass_id: str):
        self.pass_id = pass_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name, "start": time.perf_counter(),
               "end": None, "parent": self._stack[-1] if self._stack else None,
               "pass": self.pass_id}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Self time per span name: duration minus the part its direct
        children cover (children never overlap: one driver thread)."""
        out: dict[str, float] = {}
        for s in self.spans:
            child = sum(c["end"] - c["start"] for c in self.spans
                        if c["parent"] == s["id"])
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)
