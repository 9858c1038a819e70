"""Process-tree memory sampling and the CPU speed probes."""

from __future__ import annotations

import os
import threading
import time
from pathlib import Path

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICKS = os.sysconf("SC_CLK_TCK")


def _process_table() -> dict[int, list[int]]:
    """Children by parent pid, for every process."""
    children: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except OSError:
            continue  # the process exited while we looked
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d.name))
    return children


def _memory_bytes(pid: int) -> int:
    """PSS of a Python process; RSS of the JVM. Forked Python workers share
    most of their pages, which PSS counts once across them; the JVM shares
    nothing with the tree, and walking its page map (smaps_rollup) would
    hold its memory lock for ~15 ms per sample, slowing the job."""
    try:
        if Path(f"/proc/{pid}/comm").read_text().strip() == "java":
            return int(Path(f"/proc/{pid}/statm").read_text().split()[1]) * _PAGE
        for line in Path(f"/proc/{pid}/smaps_rollup").read_text().splitlines():
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    except (OSError, ValueError, IndexError):
        pass  # the process exited while we looked
    return 0


def _descendants(root: int, children: dict[int, list[int]]) -> list[int]:
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_memory_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants: this driver,
    the Spark JVM it launched and the JVM's Python workers."""
    return sum(_memory_bytes(p) for p in [root] + _descendants(root, _process_table()))


def wait_for_children(timeout: float) -> None:
    """Wait until every descendant of this process has exited."""
    deadline = time.monotonic() + timeout
    while _descendants(os.getpid(), _process_table()):
        if time.monotonic() > deadline:
            raise TimeoutError("child processes still running after Spark stopped")
        time.sleep(0.1)


def tree_cpu_seconds(root: int) -> float:
    """CPU seconds (user + system) used by ``root`` and its descendants,
    including descendants that have exited and been reaped inside the
    tree. Time the hypervisor gives to other guests is not in it."""
    ticks = 0
    for pid in [root] + _descendants(root, _process_table()):
        try:
            stat = Path(f"/proc/{pid}/stat").read_text()
        except OSError:
            continue
        ticks += sum(int(x) for x in stat[stat.rindex(")") + 2:].split()[11:15])
    return ticks / _TICKS


def cpu_times() -> list[int]:
    """The machine's cumulative CPU ticks (user ... steal), from /proc/stat."""
    return [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(sum(delta), 1)


class PeakMemory:
    """Samples the process tree's memory every ``interval`` seconds while
    running; ``peak`` is the largest sum seen."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_memory_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def cpu_probe_s() -> float:
    """The fixed numpy workload of bench.py's single-thread probe."""
    import numpy as np

    rng = np.random.default_rng(0)
    a = rng.standard_normal((600, 600))
    t0 = time.perf_counter()
    for _ in range(80):
        a = np.tanh(a @ a.T / 600.0)
    return time.perf_counter() - t0


def probes(procs: int = 4) -> dict:
    """The single-thread probe runs in this process, exactly as bench.py
    runs it. The parallel probe runs the same workload in ``procs``
    processes at once (one BLAS thread each); it reports the slowest."""
    import subprocess
    import sys

    single = cpu_probe_s()
    env = dict(os.environ, OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1", MKL_NUM_THREADS="1")
    code = "import sysmon; print(sysmon.cpu_probe_s())"
    kids = [subprocess.Popen([sys.executable, "-c", code], cwd=Path(__file__).parent, env=env,
                             stdout=subprocess.PIPE, text=True) for _ in range(procs)]
    par = max(float(k.communicate()[0]) for k in kids)
    return {"cpu_probe_s": round(single, 4), "cpu_probe_par_s": round(par, 4)}
