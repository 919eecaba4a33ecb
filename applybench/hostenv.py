"""Host and process-tree readings taken beside every run.

They make an interference window visible (steal, load, a fixed CPU burn
before and after the run); they are never used to drop or rescale
samples.
"""

from __future__ import annotations

import os
import platform
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def steal_jiffies() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def loadavg() -> list:
    return [round(x, 2) for x in os.getloadavg()]


def cpu_burn(n: int = 2_000_000) -> float:
    """Seconds for a fixed single-thread integer loop."""
    t = time.perf_counter()
    acc = 0
    for i in range(n):
        acc ^= i * 7
    return time.perf_counter() - t


def _proc_table() -> dict:
    """pid -> (ppid, cpu_s incl. reaped children, rss_bytes)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        rest = raw[raw.rindex(")") + 2:].split()
        # fields after the command: state ppid ... utime(11) stime(12)
        # cutime(13) cstime(14) ... rss(21), counted from state = 0
        cpu = sum(int(x) for x in rest[11:15]) / CLK_TCK
        out[int(name)] = (int(rest[1]), cpu, int(rest[21]) * PAGE)
    return out


def _pss(pid: int) -> int:
    """Proportional set size in bytes: resident pages, each page shared
    by k processes counted 1/k."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _subtree(table: dict, root: int) -> list:
    kids: dict = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out.append(pid)
            todo.extend(kids.get(pid, ()))
    return out


def descendants() -> list:
    """Processes this one started, directly or not: the JVM and the
    Python workers."""
    me = os.getpid()
    return [p for p in _subtree(_proc_table(), me) if p != me]


def tree_cpu() -> float:
    """CPU seconds of the process tree, reaped children included."""
    table = _proc_table()
    return sum(table[p][1] for p in _subtree(table, os.getpid()))


def _exe(pid: int):
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_memory() -> dict:
    """Resident memory of the process tree in bytes, by command name. A
    process forked from its parent without a new executable (a Python
    worker) shares pages with it, so it counts its proportional share
    (PSS, key ``<name>-forked``); summing plain RSS would count every
    shared page once per worker. Other processes count their RSS:
    reading PSS walks a process's page tables under its memory lock,
    which for the JVM's heap takes tens of milliseconds and stalls its
    threads."""
    table = _proc_table()
    parts: dict = {}
    for pid in _subtree(table, os.getpid()):
        ppid, _, rss = table[pid]
        forked = _exe(pid) is not None and _exe(pid) == _exe(ppid)
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        key = comm + ("-forked" if forked else "")
        parts[key] = parts.get(key, 0) + (_pss(pid) if forked else rss)
    return parts


class RssSampler:
    """Background thread sampling the process tree's resident memory
    every ``PERIOD_S`` seconds: the peak, and a series in MB.

    The peak is taken over the running median of three samples. A child
    the JVM has forked but not yet exec'd shares the JVM's whole address
    space and doubles the sum for one sample; no real peak is that
    short."""

    PERIOD_S = 0.5

    def __init__(self):
        self.peak = 0.0
        self.series: list = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        last3: list = []
        while not self._stop.is_set():
            parts = tree_memory()
            total = sum(parts.values())
            last3.append(total)
            if len(last3) == 3:
                self.peak = max(self.peak, sorted(last3)[1])
                last3.pop(0)
            self.series.append((time.perf_counter(), total >> 20,
                                {k: v >> 20 for k, v in parts.items()}))
            self._stop.wait(self.PERIOD_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def record(spark=None) -> dict:
    """Static part of the environment record."""
    env = {"nproc": os.cpu_count(), "python": platform.python_version(),
           "platform": platform.platform(), "loadavg": loadavg(),
           "steal_jiffies": steal_jiffies(), "clk_tck": CLK_TCK}
    if spark is not None:
        import pyspark

        sc = spark.sparkContext
        sysprop = sc._jvm.java.lang.System.getProperty
        env.update({
            "pyspark": pyspark.__version__,
            "spark": sc.version,
            "master": sc.master,
            "jvm": f"{sysprop('java.vm.name')} {sysprop('java.version')}",
            "conf": dict(sorted(sc.getConf().getAll())),
        })
    return env


def gc_seconds(spark) -> float:
    """Cumulative JVM garbage-collection time."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()
               ) / 1000.0
