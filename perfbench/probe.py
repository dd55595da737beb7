"""Outside-in instruments: spans around calls into the engine, Spark
job/stage/task counts, index-dir writes, process-tree CPU and RSS, and
the JVM heap in use.

Nothing here reaches inside the engine. A span wraps one call made by
the benchmark; with tracing on it also records, at the same boundary,
the Spark jobs that ran (``statusTracker``), the bytes and files the call
wrote under an index dir, and the CPU the process tree burned (``/proc``).
Task CPU and shuffle bytes come from the Spark event log after the
session stops (``attach_event_log``).
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_SAME_RSS = 0.01


def _proc_table() -> dict[int, tuple[int, float, int]]:
    """pid -> (ppid, cpu seconds incl. reaped children, rss bytes).

    A child caught between vfork and exec (the JVM spawning a process)
    shares its parent's memory and reports the parent's RSS as its own.
    A child whose RSS is within ``_SAME_RSS`` of its parent's (the
    parent's may change between the two reads, and so may its address
    -space size) counts as 0, so that the parent's RSS is not counted
    twice. A child forked a moment ago looks the same; its pages are
    still its parent's, so it counts as 0 as well."""
    raw = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read().decode()
        except OSError:
            continue  # exited between listdir and open
        # the command name may hold spaces; fields resume after its ')'
        fields = stat[stat.rindex(")") + 2:].split()
        ppid = int(fields[1])
        cpu = sum(int(x) for x in fields[11:15]) / _CLK  # u/s + cu/cs time
        raw[int(name)] = (ppid, cpu, int(fields[21]) * _PAGE)

    def shares_parent(ppid: int, rss: int) -> bool:
        return ppid in raw and abs(rss - raw[ppid][2]) <= _SAME_RSS * rss

    return {pid: (ppid, cpu, 0 if shares_parent(ppid, rss) else rss)
            for pid, (ppid, cpu, rss) in raw.items()}


def _tree(table: dict, root: int) -> list[int]:
    """``root`` and every process below it in ``table``."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out = []
    todo = [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_usage(root: int | None = None) -> tuple[float, int]:
    """(cpu seconds, rss bytes) summed over ``root`` and its descendants:
    the Python driver, the JVM and its Python workers."""
    table = _proc_table()
    cpu = rss = 0
    for pid in _tree(table, root or os.getpid()):
        if pid in table:
            cpu += table[pid][1]
            rss += table[pid][2]
    return cpu, rss


def start_time(pid: int) -> str | None:
    """The start time of a running process (to tell it from a later one
    with the same pid), or None once it has ended and been reaped."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read().decode()
    except OSError:
        return None
    return stat[stat.rindex(")") + 2:].split()[19]


def descendants() -> dict[int, str]:
    """pid -> start time of every process below this one."""
    me = os.getpid()
    pids = {pid: start_time(pid) for pid in _tree(_proc_table(), me)
            if pid != me}
    return {pid: t for pid, t in pids.items() if t is not None}


SAMPLE_PERIOD_S = 0.2


class MemSampler:
    """Peak process-tree RSS and peak JVM heap in use, sampled from a
    background thread. Nothing is sampled inside ``paused()``: the
    output check's memory is the benchmark's, not the engine's."""

    def __init__(self):
        self.peak_rss = 0
        self.peak_heap = 0
        self._heap = None
        self._paused = False
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def watch_heap(self, spark) -> None:
        """Also sample the driver JVM's used heap (``MemoryMXBean``)."""
        self._jvm = spark.sparkContext._jvm
        bean = self._jvm.java.lang.management.ManagementFactory \
            .getMemoryMXBean()
        self._heap = lambda: bean.getHeapMemoryUsage().getUsed()

    def retained_heap(self) -> int:
        """Heap bytes still in use after a full GC: what the engine
        keeps alive, where the sampled peak also counts garbage."""
        self._jvm.java.lang.System.gc()
        return self._heap()

    def _sample(self) -> None:
        with self._lock:
            if self._paused:
                return
            self.peak_rss = max(self.peak_rss, tree_usage()[1])
            if self._heap is not None:
                self.peak_heap = max(self.peak_heap, self._heap())

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(SAMPLE_PERIOD_S)

    @contextmanager
    def paused(self):
        with self._lock:
            self._paused = True
        try:
            yield
        finally:
            with self._lock:
                self._paused = False

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        """Stop sampling; call it while the session is still up."""
        self._stop.set()
        self._thread.join()
        self._sample()


def dir_snapshot(path: str) -> dict[str, tuple[int, int]]:
    """relative path -> (size, mtime_ns) of every file under ``path``.
    Files that vanish mid-walk (a background GC) are skipped."""
    snap = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            snap[os.path.relpath(p, path)] = (st.st_size, st.st_mtime_ns)
    return snap


def written(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) that are new or changed between two snapshots."""
    changed = [v[0] for k, v in after.items() if before.get(k) != v]
    return sum(changed), len(changed)


class Tracer:
    """Spans kept in memory. Every span is timed; with ``enabled`` each
    also carries the counters above and the run is written out by
    ``dump``."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.probe_s = 0.0  # time spent collecting counters
        self._stack: list[int] = []
        self._ids = itertools.count()
        self._t0 = time.perf_counter()
        self.sc = None

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext

    def _jobs(self) -> set[int]:
        if self.sc is None:
            return set()
        return set(self.sc.statusTracker().getJobIdsForGroup())

    def _job_counts(self, jobs: set[int]) -> tuple[int, int]:
        """(stages, tasks) the jobs ran; a stage that several of the jobs
        list (a reused, skipped stage) counts once."""
        if not jobs:
            return 0, 0
        st = self.sc.statusTracker()
        stage_ids = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = tasks = 0
        for s in stage_ids:
            si = st.getStageInfo(s)
            if si is not None and si.numCompletedTasks:
                stages += 1
                tasks += si.numCompletedTasks
        return stages, tasks

    @contextmanager
    def span(self, name: str, index_dir: str | None = None,
             cpu: bool = True):
        """Time the body as span ``name``, the child of the innermost open
        span. With tracing on, counters are read just outside the timed
        interval: Spark jobs always, process-tree CPU if ``cpu``, and the
        files written under ``index_dir`` if given."""
        rec = {"id": next(self._ids), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id}
        before = None
        if self.enabled:
            c0 = time.perf_counter()
            before = (self._jobs(), tree_usage()[0] if cpu else 0.0,
                      dir_snapshot(index_dir) if index_dir else None)
            self.probe_s += time.perf_counter() - c0
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if self.enabled:
                c0 = time.perf_counter()
                jobs = sorted(self._jobs() - before[0])
                rec["job_ids"] = jobs
                rec["jobs"] = len(jobs)
                rec["stages"], rec["tasks"] = self._job_counts(set(jobs))
                if cpu:
                    rec["cpu_s"] = tree_usage()[0] - before[1]
                if index_dir:
                    rec["bytes_written"], rec["files_written"] = written(
                        before[2], dir_snapshot(index_dir))
                self.probe_s += time.perf_counter() - c0
            self.spans.append(rec)

    def dur(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def attach_event_log(self, log_dir: str) -> None:
        """Add ``task_cpu_s`` and ``shuffle_write_bytes`` to every span
        from the finished Spark event log, through the span's job ids."""
        job_stages: dict[int, list[int]] = {}
        stage_cpu: dict[int, float] = {}
        stage_shuffle: dict[int, int] = {}
        # Spark 4 writes a rolling log: a dir of events_<n>_<app> files
        paths = [os.path.join(d, f) for d, _, fs in os.walk(log_dir)
                 for f in fs if f.startswith("events_")]
        for path in paths:
            with open(path, encoding="utf-8") as f:
                for line in f:
                    ev = json.loads(line)
                    e = ev.get("Event")
                    if e == "SparkListenerJobStart":
                        job_stages[ev["Job ID"]] = ev["Stage IDs"]
                    elif e == "SparkListenerTaskEnd":
                        m = ev.get("Task Metrics") or {}
                        s = ev["Stage ID"]
                        stage_cpu[s] = stage_cpu.get(s, 0.0) \
                            + m.get("Executor CPU Time", 0) / 1e9
                        w = (m.get("Shuffle Write Metrics") or {}) \
                            .get("Shuffle Bytes Written", 0)
                        stage_shuffle[s] = stage_shuffle.get(s, 0) + w
        for rec in self.spans:
            stages = {s for j in rec.get("job_ids", ())
                      for s in job_stages.get(j, ())}
            rec["task_cpu_s"] = sum(stage_cpu.get(s, 0.0) for s in stages)
            rec["shuffle_write_bytes"] = sum(
                stage_shuffle.get(s, 0) for s in stages)

    def self_times(self) -> dict[str, float]:
        """Self time per layer (the span name's prefix before '.'): span
        duration minus the part of it covered by child spans."""
        child_cover: dict[int, float] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                child_cover[rec["parent"]] = \
                    child_cover.get(rec["parent"], 0.0) + self.dur(rec)
        out: dict[str, float] = {}
        for rec in self.spans:
            layer = rec["name"].split(".")[0]
            out[layer] = out.get(layer, 0.0) \
                + self.dur(rec) - child_cover.get(rec["id"], 0.0)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for rec in sorted(self.spans, key=lambda r: r["start"]):
                f.write(json.dumps({k: v for k, v in rec.items()
                                    if k != "result"}, default=str) + "\n")
