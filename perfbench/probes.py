"""Outside-in measurement: spans, process-tree peak RSS and CPU time,
host steal, Spark job counters and the environment record. Nothing here reaches inside the
package; every number comes from the benchmark's own calls, from
/proc, or from Spark's StatusTracker."""

from __future__ import annotations

import json
import os
import platform
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans (name, start, end, parent index, op id), written
    out once at the end of a run. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, parent, op])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(e - s for n, s, e, _, _ in self.spans if n == name)

    def summary(self) -> dict[str, dict]:
        """Per span name: call count, total and self time (duration
        minus the time its child spans cover; children never overlap
        because every traced call is serial)."""
        child = [0.0] * len(self.spans)
        for _, s, e, parent, _ in self.spans:
            if parent is not None:
                child[parent] += e - s
        out: dict[str, dict] = {}
        for i, (name, s, e, _, _) in enumerate(self.spans):
            rec = out.setdefault(name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            rec["calls"] += 1
            rec["total_s"] += e - s
            rec["self_s"] += e - s - child[i]
        return out

    def dump(self) -> list[dict]:
        return [
            {"name": n, "start": s, "end": e, "parent": p, "op": op}
            for n, s, e, p, op in self.spans
        ]


def process_start_monotonic() -> float:
    """This process's start time on the time.monotonic() clock (both
    count from boot on Linux; /proc/self/stat field 22 is in ticks)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    ticks = int(fields[19])
    return ticks / os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_peak_rss_bytes() -> int:
    """Sum of VmHWM over this process and all its descendants (driver,
    JVM, Python worker daemon and workers)."""
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def tree_cpu_seconds() -> float:
    """User + system CPU seconds of this process and all its descendants,
    including the children each has reaped (/proc/<pid>/stat fields
    14-17, in clock ticks)."""
    ticks = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(v) for v in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def host_steal_seconds() -> float:
    """CPU seconds, summed over all CPUs, in which the hypervisor ran
    something else while this machine's CPUs had work (the "steal"
    column of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class OpMeter:
    """Wall time of one timed block, with the process tree's CPU seconds
    and the host's steal over the same interval. ``steal_share`` is the
    share of the machine's CPU time (all CPUs x wall) the hypervisor
    gave to other guests: an op that ran while neighbours held the
    host."""

    def __enter__(self):
        self._cpu, self._steal = tree_cpu_seconds(), host_steal_seconds()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall_s = time.perf_counter() - self._t0
        self.cpu_s = tree_cpu_seconds() - self._cpu
        steal = host_steal_seconds() - self._steal
        self.steal_share = steal / ((os.cpu_count() or 1) * self.wall_s)
        return False

    def record(self) -> dict[str, float]:
        return {"job_s": self.wall_s, "cpu_s": self.cpu_s, "steal_share": self.steal_share}


def spark_counts(sc, group: str) -> dict[str, int]:
    """Jobs, executed stages, completed and failed tasks of one job
    group, from the StatusTracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    ran = tasks = failed = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
            continue  # skipped: its shuffle output was reused
        ran += 1
        tasks += info.numCompletedTasks
        failed += info.numFailedTasks
    return {"jobs": len(jobs), "stages": ran, "tasks": tasks, "failed_tasks": failed}


def cpu_probe_ms() -> float:
    import numpy as np

    x = np.random.default_rng(0).random((1000, 1000))
    runs = []
    for _ in range(5):
        t0 = time.perf_counter()
        x @ x
        runs.append(time.perf_counter() - t0)
    return round(min(runs) * 1000, 2)


def io_probe_ms(directory: str, size_mb: int = 64) -> float:
    """Write + fsync ``size_mb`` MiB in ``directory`` (the stores' disk)."""
    buf = os.urandom(1 << 20)
    path = os.path.join(directory, "io_probe.bin")
    t0 = time.perf_counter()
    with open(path, "wb") as f:
        for _ in range(size_mb):
            f.write(buf)
        f.flush()
        os.fsync(f.fileno())
    ms = (time.perf_counter() - t0) * 1000
    os.unlink(path)
    return round(ms, 1)


def environment(master: str, work_dir: str) -> dict:
    import numpy
    import pyarrow
    import pyspark

    from aind_exaspim_data_transformation_spark.zarrio.codecs import (
        zstd_backend_info,
    )

    try:
        import h5py  # noqa: F401

        hdf5_reader = "h5py"
    except ImportError:
        hdf5_reader = "minihdf5"
    return {
        "nproc": os.cpu_count(),
        "master": master,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "zstd_backend": list(zstd_backend_info()),
        "hdf5_reader": hdf5_reader,
        "cpu_probe_ms": cpu_probe_ms(),
        "io_probe_ms": io_probe_ms(work_dir),
        "loadavg_1m": round(os.getloadavg()[0], 2),
    }


def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        json.dump(obj, f, indent=1, default=str)
