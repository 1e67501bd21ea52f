"""Host readings from /proc: CPU noise (steal, system share, load
average) and the resident memory of this process and all its
descendants (the driver, the JVM it launched and the JVM's Python
workers).

Noise is recorded beside the metrics only. It never drops, retries or
picks a run: every run counts.
"""

from __future__ import annotations

import os
import threading
import time

SAMPLE_INTERVAL_S = 0.5


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        # cpu user nice system idle iowait irq softirq steal
        return [int(x) for x in f.readline().split()[1:9]]


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows its ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_pss_bytes(root: int) -> dict[str, int]:
    """Resident memory of ``root`` and its descendants, split into the
    driver (``root``), the JVM and the Python processes below it. PSS
    splits each shared page among the processes sharing it, so Python
    workers forked from one daemon are not counted twice."""
    out = {"driver": 0, "jvm": 0, "python": 0, "n_python": 0}
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                name = f.read().strip()
            pss = _pss_bytes(pid)
        except OSError:
            continue
        if pid == root:
            out["driver"] += pss
        elif name == "java":
            out["jvm"] += pss
        else:
            out["python"] += pss
            out["n_python"] += 1
    return out


class HostSampler:
    """Samples CPU shares and the process-tree memory on a daemon thread.
    ``peak_rss`` only tracks while ``track_rss`` is set, so set-up
    and checks stay out of the peak."""

    def __init__(self):
        self.track_rss = False
        self.peak_rss = 0
        self.peak_parts: dict[str, int] = {}
        self._first = _cpu_times()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "HostSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.wait(SAMPLE_INTERVAL_S):
            if self.track_rss:
                parts = tree_pss_bytes(pid)
                total = parts["driver"] + parts["jvm"] + parts["python"]
                if total > self.peak_rss:
                    self.peak_rss, self.peak_parts = total, parts

    def noise(self) -> dict:
        """CPU shares since the sampler was created, plus load average."""
        delta = [b - a for a, b in zip(self._first, _cpu_times())]
        tot = sum(delta) or 1
        load1, load5, _ = os.getloadavg()
        return {"steal_pct": round(100.0 * delta[7] / tot, 3),
                "sys_pct": round(100.0 * delta[2] / tot, 3),
                "load1": load1, "load5": load5}


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until none of ``pids`` is alive; return the survivors."""
    deadline = time.monotonic() + timeout
    alive = pids
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
    return alive


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
