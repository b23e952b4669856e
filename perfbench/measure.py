"""Statistics, memory sampling and the result line.

Metric names follow ``<layer>.<counter>`` for per-layer metrics (the layer
part may itself be dotted, as in ``mention.extract.busy_s``) and a plain
``<name>`` for end-to-end metrics; ``NAME_RE`` is the grammar both obey.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def summary(xs: list[float]) -> dict:
    """Median with sample count and the samples, plus p90 only when at
    least ten samples lie beyond it (so never below 100 samples)."""
    out = {"median": median(xs), "n": len(xs), "samples": [round(x, 4) for x in xs]}
    if len(xs) >= 100:
        out["p90"] = statistics.quantiles(xs, n=10)[-1]
    return out


def children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree(root: int) -> list[int]:
    kids = children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_rss(root: int) -> dict[int, tuple[str, int]]:
    """Resident set size in bytes of ``root`` and each descendant, with
    the name of its executable: {pid: (name, bytes)}.

    A process the JVM has spawned but that has not yet run exec (its
    executable is still the JVM's) shares the JVM's memory, so it is left
    out: counting it would add the JVM's RSS a second time.  The JVM
    spawns such helpers while it writes files (Hadoop's ``chmod``)."""
    kids = children()
    out = {}
    page = os.sysconf("SC_PAGE_SIZE")
    todo = [(root, None)]
    while todo:
        pid, parent_exe = todo.pop()
        try:
            exe = os.readlink(f"/proc/{pid}/exe")
            with open(f"/proc/{pid}/statm", encoding="ascii") as f:
                rss = int(f.read().split()[1]) * page
        except OSError:
            continue
        todo.extend((k, exe) for k in kids.get(pid, []))
        if exe == parent_exe and os.path.basename(exe) == "java":
            continue
        out[pid] = (os.path.basename(exe), rss)
    return out


# JVM JIT compiler threads (names as /proc shows them, cut to 15 chars).
# Their work trails the op that made code hot, runs in the background and
# shrinks op by op as the JVM warms, so it is left out of op CPU time.
# run.py starts the JVM with a fixed set of them, so none stops mid-op.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_fields(path: str) -> tuple[str, list[str]] | None:
    """(name, fields after the name) of a /proc stat file."""
    try:
        with open(path, encoding="ascii", errors="replace") as f:
            stat = f.read()
    except OSError:
        return None
    head, tail = stat.rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def tree_cpu_s(root: int = 0) -> float:
    """CPU seconds (user + system) used so far by ``root`` (default: this
    process) and its descendants, including their reaped children.  Time
    the hypervisor steals from the machine is not in it."""
    ticks = 0
    for pid in tree(root or os.getpid()):
        st = _stat_fields(f"/proc/{pid}/stat")
        if st:
            # utime, stime, cutime, cstime are fields 14-17 (1-based)
            ticks += sum(int(x) for x in st[1][11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def jit_cpu_s(root: int = 0) -> dict[tuple[int, str], float]:
    """CPU seconds used so far by each JIT compiler thread of the tree,
    keyed by (pid, tid)."""
    out = {}
    for pid in tree(root or os.getpid()):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            st = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
            if st and st[0] in JIT_THREADS:
                out[pid, tid] = (int(st[1][11]) + int(st[1][12])) / os.sysconf("SC_CLK_TCK")
    return out


def cpu_mark() -> tuple[float, dict, float]:
    """A reading for ``op_cpu_since``."""
    return tree_cpu_s(), jit_cpu_s(), PeakRss.sampler_cpu_s


def op_cpu_since(mark: tuple[float, dict, float]) -> float:
    """CPU seconds this process tree used since ``mark``, less the JIT
    compiler threads and the RSS sampler (see JIT_THREADS and PeakRss)."""
    cpu, jit, sampler = cpu_mark()
    jit_s = sum(v - mark[1].get(k, 0.0) for k, v in jit.items())
    return (cpu - mark[0]) - jit_s - (sampler - mark[2])


class PeakRss:
    """Samples the process tree's summed RSS every ``interval`` seconds
    (driver, JVM and Python workers) from a daemon thread.  The thread's
    own CPU time, which grows with wall time, is kept in ``sampler_cpu_s``
    so that op CPU times can leave it out."""

    sampler_cpu_s = 0.0

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.parts: list[tuple[str, float]] = []  # (process, MB) at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _sample(self) -> None:
        rss = tree_rss(os.getpid())
        total = sum(b for _, b in rss.values())
        if total > self.peak:
            self.peak = total
            self.parts = sorted(((n, round(b / 2**20, 1)) for n, b in rss.values()),
                                key=lambda p: -p[1])

    def _run(self) -> None:
        while not self._stop.is_set():
            t0 = time.thread_time()
            self._sample()
            PeakRss.sampler_cpu_s += time.thread_time() - t0
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


def timed_cpu(fn, *args, **kwargs):
    """(wall seconds, CPU seconds as ``op_cpu_since`` counts them, result)."""
    mark = cpu_mark()
    wall, out = timed(fn, *args, **kwargs)
    return wall, op_cpu_since(mark), out


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    """The last stdout line: ``{"correct", "attempted", "failed", "metrics"}``."""
    for name, (_, unit) in metrics.items():
        if not NAME_RE.match(name) or not UNIT_RE.match(unit):
            raise ValueError(f"bad metric {name!r} / unit {unit!r}")
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    })
