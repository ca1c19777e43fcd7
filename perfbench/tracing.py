"""Spans, Spark status-store readings and process-tree sampling.

Everything here observes the program from outside: spans wrap calls into
the package's public functions, Spark job groups tag the jobs each span
launches, and stage metrics are read back from the status store (which
works with the UI disabled).  Spans stay in memory and are written out
with the run's artifact.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time


class Tracer:
    """Spans ``{id, name, start, end, parent, run_id}``.  Each span tags
    the Spark jobs it launches with a job group named by its id, so their
    stage metrics can be read back per span."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list = []
        self._stack: list = []
        self._seq = 0

    @contextlib.contextmanager
    def span(self, name: str):
        self._seq += 1
        sid = f"{self.run_id}:{self._seq}"
        rec = {"id": sid, "name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(sid, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["id"], "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


def seconds(rec) -> float:
    """Duration of a finished span."""
    return rec["end"] - rec["start"]


class StageReader:
    """Per-job-group stage metrics from the Spark status store."""

    def __init__(self, sc):
        self.sc = sc
        self.jsc = sc._jsc.sc()
        self.gw = sc._gateway

    def settle(self) -> None:
        """Wait until the listener bus has delivered every finished job's
        events to the status store."""
        try:
            self.jsc.listenerBus().waitUntilEmpty()
        except Exception:  # not reachable on every Spark build
            time.sleep(0.2)

    def _stage_ids(self, group: str) -> tuple:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = []
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.extend(info.stageIds)
        return list(jobs), sorted(set(stages))

    def group(self, group: str, task_times: bool = False) -> dict:
        """Jobs, stages, tasks and summed stage metrics of one job group.
        With ``task_times``, the task durations (ms) of the stage with the
        largest executor run time come back under ``task_ms``."""
        jobs, stages = self._stage_ids(group)
        out = {"jobs": len(jobs), "stages": len(stages), "tasks": 0,
               "executor_run_s": 0.0, "shuffle_write_bytes": 0,
               "shuffle_read_bytes": 0, "spill_bytes": 0}
        store = self.jsc.statusStore()
        empty = self.gw.jvm.java.util.ArrayList()
        no_q = self.gw.new_array(self.gw.jvm.double, 0)
        top = (None, -1.0)
        for sid in stages:
            try:
                attempts = store.stageData(sid, False, empty, False, no_q)
            except Exception:  # stage evicted or never submitted
                continue
            for k in range(attempts.size()):
                sd = attempts.apply(k)
                run_s = sd.executorRunTime() / 1000.0
                out["tasks"] += sd.numCompleteTasks()
                out["executor_run_s"] += run_s
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["spill_bytes"] += (sd.memoryBytesSpilled()
                                       + sd.diskBytesSpilled())
                if run_s > top[1]:
                    top = ((sid, sd.attemptId()), run_s)
        if task_times and top[0] is not None:
            tl = store.taskList(top[0][0], top[0][1], 1 << 30)
            ms = []
            for k in range(tl.size()):
                dur = tl.apply(k).duration()
                if dur.isDefined():
                    ms.append(float(dur.get()))
            out["task_ms"] = ms
        return out


class SpanStats:
    """Stage metrics per span: ``own`` counts the jobs of the span's own
    job group, ``incl`` adds those of every span nested inside it."""

    KEYS = ("jobs", "stages", "tasks", "executor_run_s",
            "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")

    def __init__(self, reader: StageReader, spans: list):
        self.reader = reader
        self.spans = spans
        self._own: dict = {}
        reader.settle()

    def own(self, rec, task_times: bool = False) -> dict:
        key = (rec["id"], task_times)
        if key not in self._own:
            self._own[key] = self.reader.group(rec["id"], task_times)
        return self._own[key]

    def spans_of(self, rec) -> list:
        """Every span nested (at any depth) inside ``rec``."""
        ids = {rec["id"]}
        out = []
        for s in self.spans:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    def incl(self, rec) -> dict:
        tot = dict(self.own(rec))
        tot.pop("task_ms", None)
        for s in self.spans_of(rec):
            for k in self.KEYS:
                tot[k] += self.own(s)[k]
        return tot


def jvm_gc_s(sc) -> float:
    """Cumulative collection time of the Spark driver JVM's collectors."""
    beans = sc._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(beans.get(k).getCollectionTime()
               for k in range(beans.size())) / 1000.0


def executed_plan(df) -> str:
    """The physical plan string Spark would run for ``df``."""
    return df._jdf.queryExecution().executedPlan().toString()


def _children(pid_ppid: dict, root: int) -> set:
    tree = {root}
    grew = True
    while grew:
        grew = False
        for pid, ppid in pid_ppid.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return tree


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants (driver, JVM,
    Python workers)."""
    ppid = {}
    for ent in os.listdir("/proc"):
        if not ent.isdigit():
            continue
        try:
            with open(f"/proc/{ent}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        ppid[int(ent)] = int(raw[raw.rindex(")") + 2:].split()[1])
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _children(ppid, root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssPeak(threading.Thread):
    """Samples the process-tree RSS every ``period`` seconds while armed
    and keeps the peak."""

    def __init__(self, root: int, period: float = 0.25):
        super().__init__(daemon=True)
        self.root = root
        self.period = period
        self.peak = 0
        self._armed = threading.Event()
        self._halt = threading.Event()
        self._lock = threading.Lock()

    def _sample(self) -> None:
        rss = tree_rss_bytes(self.root)
        with self._lock:
            self.peak = max(self.peak, rss)

    def arm(self) -> None:
        self._armed.set()
        self._sample()

    def disarm(self) -> None:
        self._sample()
        self._armed.clear()

    def run(self) -> None:
        while not self._halt.wait(self.period):
            if self._armed.is_set():
                self._sample()

    def close(self) -> int:
        self._halt.set()
        self.join(timeout=5)
        return self.peak
