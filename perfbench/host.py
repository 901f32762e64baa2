"""Host context for benchmark runs: fingerprint, CPU busy/steal over a
timed region, and peak RSS of the whole process tree, all read from
/proc (no third-party dependency)."""

from __future__ import annotations

import hashlib
import os
import platform
import re
import subprocess
import threading


def fingerprint(root: str, master: str) -> dict:
    """What a baseline is keyed on (``key``) plus what is recorded with
    it. A run on another key has no baseline to compare against."""
    import pyarrow
    import pyspark

    fp = {
        "nproc": os.cpu_count(),
        "master": master,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
    }
    fp["key"] = "|".join(f"{k}={fp[k]}" for k in sorted(fp))
    fp["git_head"] = _git_head(root)
    fp["package_digest"] = package_digest(root)
    return fp


def _git_head(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def package_digest(root: str) -> str:
    """Digest of the package's Python sources: identifies the code
    measured when the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "information_extraction_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def cpu_ticks() -> tuple[int, int, int]:
    """(steal, total, idle) jiffies for the whole host."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals), vals[3] + vals[4]


class CpuWindow:
    """Accumulates host busy/steal jiffies over the timed regions that
    are bracketed with :meth:`start`/:meth:`stop`."""

    def __init__(self) -> None:
        self.steal = self.total = self.idle = 0
        self._t0: tuple[int, int, int] | None = None

    def start(self) -> None:
        self._t0 = cpu_ticks()

    def stop(self) -> None:
        t1 = cpu_ticks()
        s0, tot0, i0 = self._t0
        self.steal += t1[0] - s0
        self.total += t1[1] - tot0
        self.idle += t1[2] - i0

    def pct(self) -> dict:
        if self.total <= 0:
            return {"busy_pct": 0.0, "steal_pct": 0.0}
        return {
            "busy_pct": 100.0 * (self.total - self.idle - self.steal) / self.total,
            "steal_pct": 100.0 * self.steal / self.total,
        }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # Field 4 (ppid) follows the parenthesised command name.
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_pids(root_pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_rss(root_pid: int) -> dict[int, int]:
    """RSS bytes of every process in the tree rooted at ``root_pid``.

    A JVM starts child processes through vfork: until the child execs,
    it shares the JVM's memory and /proc reports the JVM's whole RSS for
    it a second time. Such children (same executable as a parent java)
    are skipped."""
    out = {}
    page = os.sysconf("SC_PAGE_SIZE")
    kids = _children()
    todo = [(root_pid, "")]
    while todo:
        pid, parent_exe = todo.pop()
        exe = _exe(pid)
        shares_jvm = exe == parent_exe and os.path.basename(exe) == "java"
        if not shares_jvm:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    out[pid] = int(f.read().split()[1]) * page
            except (OSError, IndexError, ValueError):
                pass
        todo.extend((k, exe) for k in kids.get(pid, []))
    return out


def _name(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


_HEAP_INITIAL = re.compile(r"Heap Initial Capacity: (\d+)M")
_GC_PAUSE = re.compile(r"\) (\d+)M->(\d+)M\((\d+)M\)")


class CommittedHeap:
    """The driver JVM's committed Java heap in bytes, followed from its
    ``gc`` log as it is written: the initial capacity, then the
    committed size after each pause (G1 grows and shrinks the heap only
    at pauses). None until the JVM has logged it. Also keeps the peaks
    over the pauses read so far (:meth:`summary`)."""

    def __init__(self, gc_log: str) -> None:
        self.gc_log = gc_log
        self.bytes: int | None = None
        self._pos = 0
        self._partial = ""
        self._pauses = self._used = self._live = self._committed = 0

    def poll(self) -> int | None:
        try:
            with open(self.gc_log) as f:
                f.seek(self._pos)
                chunk = f.read()
                self._pos = f.tell()
        except OSError:
            return self.bytes
        lines = (self._partial + chunk).split("\n")
        self._partial = lines.pop()
        for line in lines:
            m = _GC_PAUSE.search(line)
            if m:
                used, live, committed = (int(x) for x in m.groups())
                self._pauses += 1
                self._used = max(self._used, used)
                self._live = max(self._live, live)
                self._committed = max(self._committed, committed)
            else:
                m = _HEAP_INITIAL.search(line)
            if m:
                self.bytes = int(m.groups()[-1]) * 2**20
        return self.bytes

    def summary(self) -> dict:
        """Peak heap use over the pauses read so far: the largest heap in
        use before a collection, the largest left after one (the live
        set) and the largest committed heap, in MB (2^20 bytes)."""
        return {"pauses": self._pauses, "peak_used_mb": self._used,
                "peak_after_gc_mb": self._live, "peak_committed_mb": self._committed}


class RssSampler:
    """Background thread sampling the process tree's RSS (driver Python,
    driver JVM, Python workers) every ``interval`` seconds.

    How much of the driver JVM's Java heap is resident follows the
    collector's sizing, not the job: with the package's heap setting it
    moved the tree's peak by more than a gigabyte between identical
    runs. So the sampler also keeps ``peak_nonheap``, the peak of the
    tree's RSS minus the JVM's committed heap at the same moment
    (:class:`CommittedHeap`; at most the JVM's RSS). Heap use itself is
    read from the same log (:meth:`CommittedHeap.summary`)."""

    def __init__(self, gc_log: str, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = self.peak_nonheap = 0
        self.at_peak: list[tuple[str, int]] = []
        self.heap = CommittedHeap(gc_log)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            rss = tree_rss(pid)
            total = sum(rss.values())
            committed = self.heap.poll() or 0
            jvm = max((b for p, b in rss.items()
                       if os.path.basename(_exe(p)) == "java"), default=0)
            self.peak_nonheap = max(self.peak_nonheap, total - min(committed, jvm))
            if total > self.peak:
                self.peak = total
                self.at_peak = sorted(
                    ((_name(p), b) for p, b in rss.items()), key=lambda x: -x[1]
                )
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
