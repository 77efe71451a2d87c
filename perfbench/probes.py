"""Measurements taken from outside the program: layer timers, process
tree memory, Spark storage/job probes and the event-log fold."""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Layers:
    """Wall time and process-tree CPU time of the benchmark's own calls
    into each layer.

    Traced, each call runs under a Spark job group named after its layer
    so the event log can attribute task time to it; untraced, the whole
    iteration shares one group, used only to count its jobs."""

    def __init__(self, sc, traced: bool, group: str):
        self.sc, self.traced = sc, traced
        self.times: dict[str, float] = defaultdict(float)
        self.cpu: dict[str, float] = defaultdict(float)
        self.result: dict = {}
        self.groups = [] if traced else [group]
        if not traced:
            sc.setJobGroup(group, group)

    @contextmanager
    def layer(self, name: str):
        if self.traced:
            self.sc.setJobGroup(name, name)
            self.groups.append(name)
        c0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            yield
        finally:
            self.times[name] += time.perf_counter() - t0
            self.cpu[name] += tree_cpu_s() - c0

    def jobs(self, *groups: str) -> int:
        """Jobs run under ``groups`` (default: all of this iteration's)."""
        st = self.sc.statusTracker()
        return len({j for g in set(groups or self.groups) for j in st.getJobIdsForGroup(g)})


def storage(sc) -> tuple[int, float]:
    """(persisted RDDs, MB they hold in memory + disk)."""
    jsc = sc._jsc.sc()
    infos = jsc.getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in infos) / 1e6
    return int(jsc.getPersistentRDDs().size()), mb


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids[ppid].append(int(d))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    descendants, exited ones included once their parent has waited for
    them. Time the hypervisor stole is not in it."""
    kids, hz = _children(), os.sysconf("SC_CLK_TCK")
    t = os.times()
    total = t.user + t.system + t.children_user + t.children_system
    todo = list(kids.get(os.getpid(), ()))
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in f[11:15]) / hz
        except (OSError, IndexError, ValueError):
            continue
        todo.extend(kids.get(pid, ()))
    return total


class TreeRss:
    """Samples the resident memory of this process and its descendants
    (JVM, Python workers) every ``period`` seconds."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> float:
        kids = _children()
        todo, total = [os.getpid()], 0
        while todo:
            pid = todo.pop()
            total += _rss_kb(pid)
            todo.extend(kids.get(pid, ()))
        return total / 1024

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.peak_mb = max(self.peak_mb, self.sample())

    def reset(self) -> None:
        self.peak_mb = self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: executor run time, shuffle written, disk spill and
    task counts, folded from the Spark event log(s) in ``log_dir``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    # Spark 4 writes rolling logs: a directory per application holding
    # events_<n>_<app> files, oldest first by <n>
    paths = glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
    for path in sorted(paths, key=lambda p: int(os.path.basename(p).split("_")[1])):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    sid = ev["Stage Info"]["Stage ID"]
                    stage_group[sid] = props.get("spark.jobGroup.id") or ""
                elif kind == "SparkListenerTaskEnd":
                    g = out[stage_group.get(ev["Stage ID"], "")]
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    g["tasks"] += 1
                    g["tasks_failed"] += bool(info.get("Failed"))
                    g["task_s"] += m.get("Executor Run Time", 0) / 1000
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                    g["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
    return {k: dict(v) for k, v in out.items()}
