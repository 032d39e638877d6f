"""Host-side probes read from /proc (psutil is not installed): the peak
memory of the benchmark's child process tree (the Spark driver JVM and the
pyspark.daemon Python workers it forks) and the host-noise guard."""

from __future__ import annotations

import os
import threading


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            # comm may hold spaces or parens: fields restart after the last ')'
            out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        kids.setdefault(ppid, []).append(pid)
    found, todo = set(), [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            if k not in found:
                found.add(k)
                todo.append(k)
    return found


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError):
        pass
    return 0


def tree_pss_bytes(root: int) -> int:
    """Summed proportional set size (PSS) of root's descendants: resident
    pages, with a page that n processes share counted 1/n in each. The
    Python workers are forks of pyspark.daemon and share most of its pages,
    and a JVM's vfork child shares all of the JVM's; summed RSS counts those
    pages again for every process, so it jumped with the number of workers
    alive at the peak."""
    return sum(_pss_bytes(pid) for pid in descendants(root))


class PeakPss:
    """Samples the summed PSS of this process's descendants every `period`
    seconds on a background thread; `stop()` returns the peak in MB."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak = 0
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._halt.is_set():
            self.peak = max(self.peak, tree_pss_bytes(me))
            self._halt.wait(self.period)

    def start(self) -> "PeakPss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._halt.set()
        self._thread.join()
        return self.peak / 2**20


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def host_state() -> dict:
    """Load average, CPU steal counters, usable cores, and live processes
    that would pollute timings (the repository's rule that nothing else runs
    beside a timing): pytest runs and Spark JVMs that are not this
    benchmark's own."""
    own = descendants(os.getpid()) | {os.getpid()}
    noisy = []
    for pid in _parents():
        if pid in own:
            continue
        cmd = _cmdline(pid)
        if "pytest" in cmd or ("java" in cmd and "org.apache.spark" in cmd):
            noisy.append(f"{pid}:{cmd[:80]}")
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    return {
        "load": [round(x, 2) for x in os.getloadavg()],
        "steal": (cpu[7], sum(cpu)),  # ticks stolen by the hypervisor, all ticks
        "cores": len(os.sched_getaffinity(0)),
        "noisy": noisy,
    }
