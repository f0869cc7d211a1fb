"""Process-tree counters read from ``/proc``.

The tree is the benchmark client (this Python process), the Spark JVM
it launched and the JVM's descendants (the PySpark daemon and its
Python workers).  CPU time of a process that exits is folded into its
parent's ``cutime``/``cstime`` once reaped, so summing own and child
times over the live tree keeps finished workers counted.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # the command name may hold spaces: fields start after its ')'
    return data[data.rindex(")") + 2:].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _cpu_s(st: list[str], children: bool) -> float:
    # fields after ')': utime=11, stime=12, cutime=13, cstime=14
    t = int(st[11]) + int(st[12])
    if children:
        t += int(st[13]) + int(st[14])
    return t / _TICK


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared by the forked Python workers
    count once across the tree instead of once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _write_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/io") as f:
            for line in f:
                if line.startswith("write_bytes:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class ProcessTree:
    """Counters for the client, the JVM and the JVM's Python workers."""

    def __init__(self, jvm_pid: int):
        self.client_pid = os.getpid()
        self.jvm_pid = jvm_pid

    def snapshot(self) -> dict[str, float]:
        """Cumulative CPU seconds per part of the tree and JVM bytes
        written to storage."""
        client = _stat(self.client_pid)
        jvm = _stat(self.jvm_pid)
        workers = 0.0
        for p in descendants(self.jvm_pid):
            st = _stat(p)
            if st is not None:
                workers += _cpu_s(st, children=True)
        # reaped workers (and a reaped daemon) land in the JVM's cutime
        jvm_children = (int(jvm[13]) + int(jvm[14])) / _TICK
        return {
            "client_s": _cpu_s(client, children=False),
            "jvm_s": _cpu_s(jvm, children=False),
            "py_worker_s": workers + jvm_children,
            "jvm_write_bytes": float(_write_bytes(self.jvm_pid)),
        }

    def pss_bytes(self) -> dict[str, int]:
        """Resident bytes of the client, the JVM and its workers."""
        return {
            "client": _pss_bytes(self.client_pid),
            "jvm": _pss_bytes(self.jvm_pid),
            "py_worker": sum(_pss_bytes(p) for p in descendants(self.jvm_pid)),
        }


def delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    return {k: b[k] - a[k] for k in a}


class PssSampler:
    """One sampler thread recording the tree's highest summed resident
    size (PSS, so shared pages count once)."""

    def __init__(self, tree: ProcessTree, period_s: float = 0.1):
        self.tree = tree
        self.period_s = period_s
        self.peak = 0
        self.peak_parts: dict[str, int] = {}
        # peak per phase of the run, keyed by the phase's name
        self.phase = "setup"
        self.phase_peaks: dict[str, int] = {}
        self.timed_samples: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            parts = self.tree.pss_bytes()
            total = sum(parts.values())
            phase = self.phase
            self.phase_peaks[phase] = max(self.phase_peaks.get(phase, 0), total)
            if phase == "timed":
                self.timed_samples.append(total)
                if total > self.peak:
                    self.peak, self.peak_parts = total, parts
            self._stop.wait(self.period_s)

    def __enter__(self) -> "PssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
