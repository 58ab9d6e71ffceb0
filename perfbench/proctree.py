"""CPU time and resident memory of this process and all its descendants
(the Spark driver JVM and its Python workers), read from ``/proc``.

CPU is ``utime+stime+cutime+cstime`` summed over the live tree: when a
descendant exits and is reaped, its time moves into its parent's
``cutime``/``cstime``, so the sum stays conserved across worker exits.

Resident memory is summed as PSS (``smaps_rollup``), which splits each
shared page between the processes mapping it.  Plain RSS counts shared
pages once per process: the Python workers forked from one daemon, and
every short-lived child the JVM forks before it execs (Hadoop's local
filesystem shells out per file), which made a sampled RSS sum jump by
the JVM's whole size.  The peak is the largest sum a sampling thread
sees.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")
SAMPLE_INTERVAL_S = 0.5


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    # comm (field 2) may contain spaces; fields after it start at ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids() -> list[int]:
    """This process and every live descendant."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, stack = [], [os.getpid()]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """user+sys CPU seconds of the tree, including reaped descendants."""
    ticks = 0
    for pid in tree_pids():
        fields = _stat_fields(pid)
        if fields is not None:
            # after ')': state ppid ... utime=11 stime=12 cutime=13 cstime=14
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _CLK_TCK


def _kind(pid: int) -> str:
    """driver (this process), jvm, python_worker or other."""
    if pid == os.getpid():
        return "driver"
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return "other"
    if b"java" in cmd.split(b"\0", 1)[0]:
        return "jvm"
    return "python_worker" if b"pyspark" in cmd else "other"


def tree_pss_bytes() -> dict[int, int]:
    """Proportional resident set size per live pid of the tree."""
    out = {}
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        out[pid] = int(line.split()[1]) * 1024
                        break
        except OSError:  # exited, or a kernel thread without a mm
            pass
    return out


class PeakRss:
    """Samples the tree's resident memory every ``SAMPLE_INTERVAL_S``
    seconds until stopped; keeps the peak sum and, at the peak, the split
    by process kind."""

    def __init__(self):
        self.peak = 0
        self.at_peak: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _sample(self) -> None:
        per_pid = tree_pss_bytes()
        total = sum(per_pid.values())
        if total > self.peak:
            self.peak = total
            split: dict[str, float] = {}
            for pid, rss in per_pid.items():
                kind = _kind(pid)
                split[kind] = split.get(kind, 0) + rss / 2**20
            split["processes"] = len(per_pid)
            self.at_peak = split

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(SAMPLE_INTERVAL_S):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
