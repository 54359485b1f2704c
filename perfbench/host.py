"""Host evidence and process-tree memory, read from /proc.

Foreign-session CPU, hypervisor steal and load come from bench.py's quiet
gate (``_host_probe`` / ``_host_delta``), so a noisy window reads the same
way in both benchmarks. Peak RSS is summed over this process and every
descendant: the Spark JVM and its Python workers.
"""

from __future__ import annotations

import os
import threading

from bench import _host_delta, _host_probe
from bench import _is_quiet as is_quiet  # noqa: F401  (re-exported)

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree(root: int) -> dict[int, list[str]]:
    """/proc/<pid>/stat fields (after the command name) of ``root`` and
    every descendant."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue  # process vanished mid-read
        stats[int(name)] = fields
        children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        if pid in stats:
            out[pid] = stats[pid]
    return out


def _tree_rss_bytes(root: int) -> int:
    return sum(int(f[21]) * _PAGE for f in _tree(root).values())


def tree_cpu_s() -> float:
    """CPU seconds used by this process tree, including reaped children."""
    ticks = sum(int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
                for f in _tree(os.getpid()).values())
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples the process tree's RSS every ``interval`` seconds between
    ``start()`` and ``stop()``; ``peak_mb`` is the largest sample."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.samples: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.samples.append(_tree_rss_bytes(root) / 2**20)
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.samples.append(_tree_rss_bytes(os.getpid()) / 2**20)

    @property
    def peak_mb(self) -> float:
        return max(self.samples)


def window() -> dict:
    """Start a host-evidence window; pass the result to ``close``."""
    return {**_host_probe(), "cpu_s": tree_cpu_s()}


def close(start: dict) -> dict:
    """bench.py's evidence, plus the busy cores this benchmark's process tree
    does not account for. Containers sharing the VM are invisible to the
    foreign-session count (another PID namespace) and to steal (same
    kernel), but not to the VM-wide busy count."""
    end = {**_host_probe(), "cpu_s": tree_cpu_s()}
    d = _host_delta(start, end)
    own = (end["cpu_s"] - start["cpu_s"]) / max(end["t"] - start["t"], 1e-9)
    d["other_cpu_cores"] = round(max(d["host_busy_cores"] - own, 0.0), 2)
    return d
