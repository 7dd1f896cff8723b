"""Machine sizing, fingerprint and /proc readers (no psutil needed).

Everything here reads the Linux /proc file system of the machine the
benchmark runs on, so records carry the facts they were measured under
and session sizes follow the machine instead of constants.
"""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import threading
import time
from pathlib import Path

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    """CPUs this process may run on (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("/proc/meminfo has no MemTotal line")


def driver_heap() -> str:
    """Driver heap as a quarter of physical RAM, in whole MiB.

    In local mode the driver JVM also hosts every executor task, and
    the Python workers and page cache need the rest of the machine."""
    return f"{mem_total_bytes() // 4 // (1 << 20)}m"


def _java_version() -> str:
    try:
        out = subprocess.run(
            ["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True,
            timeout=30, check=False,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    first = (out.stderr or out.stdout).splitlines()[:1]
    return first[0].strip() if first else "unknown"


def source_digest(root: Path) -> str:
    """Digest of the engine's source files; stands in for the git sha
    when the checkout is not a git repository."""
    h = hashlib.blake2b(digest_size=10)
    pkg = root / "news_combinator_spark"
    for p in sorted(pkg.rglob("*.py")):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def _git_sha(root: Path) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", str(root), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=False,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    sha = out.stdout.strip()
    return sha if out.returncode == 0 and sha else None


def fingerprint(root: Path) -> dict:
    """Facts a record is only comparable under. `sets.py compare` refuses
    to compare records whose FINGERPRINT_KEYS differ."""
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_gb": round(mem_total_bytes() / (1 << 30), 1),
        "driver_heap": driver_heap(),
        "pyspark": pyspark.__version__,
        "java": _java_version(),
        "python": platform.python_version(),
        "git_sha": _git_sha(root),
        "source_digest": source_digest(root),
    }


FINGERPRINT_KEYS = ("nproc", "mem_total_gb", "driver_heap", "pyspark", "java")


# ---------------------------------------------------------------- /proc


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, cpu ticks incl. reaped children, rss bytes)."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:  # exited while we listed
            continue
        # comm may contain spaces; fields resume after the last ')'
        fields = raw[raw.rindex(")") + 2:].split()
        ppid = int(fields[1])
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        rss = int(fields[21]) * _PAGE
        table[int(d)] = (ppid, ticks, rss)
    return table


def _descendants(table: dict, root: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = set(), [root]
    while stack:
        p = stack.pop()
        for c in kids.get(p, ()):
            if c not in out:
                out.add(c)
                stack.append(c)
    return out


def _system_ticks() -> tuple[int, int]:
    """(busy, steal) ticks summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()[1:]
    user, nice, system, _idle, _iowait, irq, softirq, steal = (
        int(x) for x in cpu[:8]
    )
    return user + nice + system + irq + softirq, steal


class Contention:
    """Per-segment contention stamp.

    `mark(name)` closes the current segment and records, for its
    window: steal time as a share of the machine's CPU time, and the
    CPU seconds spent by processes OUTSIDE this benchmark's process
    tree (this process plus every descendant: the JVM and its Python
    workers)."""

    def __init__(self):
        self.segments: list[dict] = []
        self._open = self._sample()

    def _sample(self):
        table = _proc_table()
        mine = _descendants(table, os.getpid()) | {os.getpid()}
        own = sum(table[p][1] for p in mine if p in table)
        busy, steal = _system_ticks()
        return time.monotonic(), busy, steal, own

    def mark(self, name: str) -> dict:
        t1, busy1, steal1, own1 = self._sample()
        t0, busy0, steal0, own0 = self._open
        self._open = (t1, busy1, steal1, own1)
        wall = max(t1 - t0, 1e-9)
        seg = {
            "segment": name,
            "wall_s": round(wall, 3),
            "steal_share": (steal1 - steal0) / (wall * _CLK_TCK * os.cpu_count()),
            # own-tree ticks include reaped children, so a worker that
            # exits inside the window is still counted as ours
            "foreign_cpu_s": max(0, (busy1 - busy0) - (own1 - own0)) / _CLK_TCK,
            "own_cpu_s": (own1 - own0) / _CLK_TCK,
        }
        self.segments.append(seg)
        return seg


class RssPeak:
    """Samples the summed RSS of this process's descendants (the JVM
    and its Python workers) on a background thread between start() and
    stop(): the highest sum, the largest single process (the JVM) and
    the most processes alive at once."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak = 0
        self.peak_largest = 0  # the JVM, in practice
        self.peak_procs = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            table = _proc_table()
            sizes = [table[p][2] for p in _descendants(table, me)]
            self.peak = max(self.peak, sum(sizes))
            self.peak_largest = max(self.peak_largest, max(sizes, default=0))
            self.peak_procs = max(self.peak_procs, len(sizes))
            self._stop.wait(self.interval_s)

    def start(self) -> "RssPeak":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)

    def summary(self) -> dict:
        return {
            "peak_rss_mb": self.peak / (1 << 20),
            "jvm_peak_rss_mb": self.peak_largest / (1 << 20),
            "processes": self.peak_procs,
        }


def descendant_pids() -> set[int]:
    """This process's descendants: the JVM and its Python workers."""
    return _descendants(_proc_table(), os.getpid())


def wait_gone(pids: set[int], timeout_s: float = 30.0) -> None:
    """Wait until every pid in `pids` has exited; SIGKILL what is left
    after `timeout_s` and wait for that too."""
    import signal

    def alive():
        return {p for p in pids if os.path.exists(f"/proc/{p}")
                and _state(p) != "Z"}

    deadline = time.monotonic() + timeout_s
    while alive() and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in alive():
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while alive() and time.monotonic() < deadline:
        time.sleep(0.1)


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return "X"
    return raw[raw.rindex(")") + 2]
