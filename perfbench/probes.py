"""Readings taken from outside the program: process CPU from /proc, host
load, Spark's status tracker, and the Spark event log."""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

from perfbench.stats import union_length

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses; fields resume after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def process_cpu_s(pid: int) -> float:
    """utime + stime of ``pid`` plus those of its reaped children."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    # after comm: state(0) ppid(1) ... utime(11) stime(12) cutime(13) cstime(14)
    return sum(int(x) for x in f[11:15]) / _TICK


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(int(d))
            if f is not None:
                kids[int(f[1])].append(int(d))
    return kids


def descendants(pid: int, kids: dict[int, list[int]] | None = None) -> list[int]:
    kids = _children_map() if kids is None else kids
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


class CpuMeter:
    """CPU seconds of the Python driver, the JVM and the JVM's descendants
    (the pyspark daemon and its workers). A live process is counted with
    its reaped children, so a worker that has exited is still counted in
    the daemon that waited for it."""

    def __init__(self, jvm_pid: int) -> None:
        self.driver_pid = os.getpid()
        self.jvm_pid = jvm_pid

    def read(self) -> dict[str, float]:
        kids = _children_map()
        return {
            "driver": process_cpu_s(self.driver_pid),
            "jvm": process_cpu_s(self.jvm_pid),
            "worker": sum(process_cpu_s(p) for p in descendants(self.jvm_pid, kids)),
        }

    def tree_pids(self) -> list[int]:
        kids = _children_map()
        return [self.driver_pid] + descendants(self.driver_pid, kids)


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def host_jiffies() -> tuple[int, int]:
    """(busy, total) jiffies over all CPUs from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    idle = vals[3] + vals[4]  # idle + iowait
    total = sum(vals[:8])  # guest time is already inside user/nice
    return total - idle, total


def tree_jiffies(pids: list[int]) -> int:
    tot = 0
    for p in pids:
        f = _stat_fields(p)
        if f is not None:
            tot += sum(int(x) for x in f[11:15])
    return tot


class HostMeter:
    """Share of the host's CPU time used by processes outside the
    benchmark's own process tree, between ``start`` and ``stop``."""

    def __init__(self, cpu: CpuMeter) -> None:
        self.cpu = cpu

    def start(self) -> None:
        self.h0 = host_jiffies()
        self.t0 = tree_jiffies(self.cpu.tree_pids())

    def stop(self) -> float:
        busy1, total1 = host_jiffies()
        t1 = tree_jiffies(self.cpu.tree_pids())
        total = total1 - self.h0[1]
        other = (busy1 - self.h0[0]) - (t1 - self.t0)
        return max(0.0, other / total) if total > 0 else 0.0


class JobCounter:
    """Spark job, stage and task counts of a job group, read from the
    status tracker right after the group's work completes."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def counts(self, group: str) -> tuple[int, int, int]:
        jobs = self.tracker.getJobIdsForGroup(group)
        stages: set[int] = set()
        tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        for s in stages:
            st = self.tracker.getStageInfo(s)
            if st is not None:
                tasks += st.numCompletedTasks
        return len(jobs), len(stages), tasks


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: job intervals (s), shuffle bytes written and spill
    bytes, from the Spark event log written under ``log_dir``."""
    groups: dict[str, dict] = defaultdict(
        lambda: {"jobs": {}, "shuffle_bytes": 0, "spill_bytes": 0}
    )
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    # Spark 4 writes the log as a directory of rolled ``events_*`` files
    paths = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    jid = ev["Job ID"]
                    job_group[jid] = g
                    job_start[jid] = ev["Submission Time"] / 1000.0
                    for s in ev.get("Stage IDs", []):
                        stage_group[s] = g
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_group:
                    jid = ev["Job ID"]
                    groups[job_group[jid]]["jobs"][jid] = (
                        job_start[jid], ev["Completion Time"] / 1000.0
                    )
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if g is None or not m:
                        continue
                    sw = m.get("Shuffle Write Metrics") or {}
                    groups[g]["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    groups[g]["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return dict(groups)


def exec_seconds(groups: dict[str, dict], names: list[str]) -> float:
    """Wall time covered by at least one job of the given groups."""
    iv = [iv for g in names if g in groups for iv in groups[g]["jobs"].values()]
    return union_length(iv)
