"""Run environment, host probes and statistics shared by the workloads.

Nothing here touches the engine; it places every file the run writes
under the checkout's ``.perfbench/`` directory, samples the memory of
the Spark process tree, and reads host steal and load.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
CACHE = os.path.join(STATE, "cache")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Workdir:
    """Per-run scratch tree under ``.perfbench/work``; removed on close."""

    def __init__(self, workload: str, seed: int):
        self.path = os.path.join(STATE, "work", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)
        self.tmp = self.sub("tmp")
        self.local = self.sub("spark-local")

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def fresh(self, *parts: str) -> str:
        """An empty directory (deleted first if it exists)."""
        p = os.path.join(self.path, *parts)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(p)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def place_process(work: Workdir) -> None:
    """Point every temp-file and import path of this process and the
    Spark JVM/Python workers it will start into the checkout."""
    os.environ["TMPDIR"] = work.tmp
    os.environ["SPARK_LOCAL_DIRS"] = work.local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def spark_conf(work: Workdir, extra: dict | None = None) -> dict:
    """``build_session(extra_conf=...)`` for every run: loopback-only,
    temp files and warehouse inside the work dir. The driver heap keeps
    the engine's default, which also sizes the thin-shuffle broadcast
    budget ``choose_strategies`` works with."""
    conf = {
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.local.dir": work.local,
        "spark.sql.warehouse.dir": work.sub("warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work.tmp} -XX:-UsePerfData",
    }
    conf.update(extra or {})
    return conf


def host_sample() -> dict:
    """Cumulative CPU jiffies (all, steal) from /proc/stat plus load average."""
    with open("/proc/stat") as fh:
        cpu = [int(v) for v in fh.readline().split()[1:]]
    with open("/proc/loadavg") as fh:
        load = [float(v) for v in fh.read().split()[:3]]
    steal = cpu[7] if len(cpu) > 7 else 0
    return {"jiffies": sum(cpu), "steal": steal, "loadavg": load}


def steal_share(before: dict, after: dict) -> float:
    d = after["jiffies"] - before["jiffies"]
    return (after["steal"] - before["steal"]) / d if d > 0 else 0.0


def _proc_tree(root_pid: int) -> list[int]:
    """``root_pid`` and its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(name))
    out, stack = [], [root_pid]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
    except OSError:
        return 0


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes sharing it, so forked Python workers count the
    pages they share with their daemon once, not once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def workers_kb(jvm_pid: int) -> tuple[int, int]:
    """(PSS KiB, count) of the driver JVM's descendants: the Python
    daemon and its forked UDF workers."""
    pids = _proc_tree(jvm_pid)[1:]
    return sum(_pss_kb(p) for p in pids), len(pids)


def tree_kb(jvm_pid: int) -> tuple[int, int]:
    """(KiB, process count) of the driver JVM (resident size) and its
    Python workers (PSS). The JVM shares no pages with its children worth
    counting, and reading its PSS (a walk of its multi-gigabyte mappings)
    twice a second took a fifth of one core in a measured phase."""
    kb, n = workers_kb(jvm_pid)
    return _rss_kb(jvm_pid) + kb, n + 1


class MemSampler:
    """Peak of ``tree_kb``, sampled by a background thread every
    ``interval`` seconds."""

    def __init__(self, jvm_pid: int, interval: float = 1.0):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_kb = 0
        self.peak_procs = 0
        self.sample_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        t = time.perf_counter()
        kb, n = tree_kb(self.jvm_pid)
        if kb > self.peak_kb:
            self.peak_kb, self.peak_procs = kb, n
        self.sample_s += time.perf_counter() - t

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (0 <= q <= 1) of a non-empty sample."""
    s = sorted(values)
    if len(s) == 1:
        return float(s[0])
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (pos - lo))


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def dir_bytes(path: str, under: str = "") -> int:
    """Total size of regular files below ``path`` (optionally a sub-dir)."""
    top = os.path.join(path, under) if under else path
    total = 0
    for d, _, files in os.walk(top):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total
