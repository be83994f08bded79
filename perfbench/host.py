"""Host facts, the fit check and process bookkeeping (Linux /proc)."""

from __future__ import annotations

import os
import re
import signal
import subprocess
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def meminfo_mb() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            out[k] = int(v.split()[0]) // 1024
    return out


def cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of the host so far, from /proc/stat; the
    stolen share of a window shows how busy the machine's neighbours were."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def wait_quiet(max_steal: float, max_wait_s: float,
               probe_s: float = 1.0) -> tuple[float, float, float]:
    """Wait until the machine's neighbours leave it its CPUs: probe until
    the stolen share of one probe's CPU time is at most ``max_steal``, or
    ``max_wait_s`` has passed.  Steal only accrues while a virtual CPU has
    work, so each probe keeps every CPU busy (a multi-threaded matrix
    product) for ``probe_s``.  Returns (seconds waited, the last probe's
    stolen share, its matrix products per second)."""
    import numpy as np

    a = np.random.default_rng(0).random((1000, 1000))
    t0 = time.monotonic()
    while True:
        all0, stolen0 = cpu_ticks()
        start = time.monotonic()
        n = 0
        while time.monotonic() < start + probe_s:
            a @ a
            n += 1
        rate = n / (time.monotonic() - start)
        all1, stolen1 = cpu_ticks()
        frac = (stolen1 - stolen0) / max(all1 - all0, 1)
        waited = time.monotonic() - t0
        if frac <= max_steal or waited >= max_wait_s:
            return waited, frac, rate
        time.sleep(1.0)


def parse_mb(size: str) -> int:
    m = re.fullmatch(r"(\d+)([gGmM])", size)
    if not m:
        raise ValueError(f"heap size must look like 2g or 1536m, not {size!r}")
    return int(m.group(1)) * (1024 if m.group(2) in "gG" else 1)


def java_version() -> str:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    first = (out.stderr or out.stdout).splitlines()
    return first[0] if first else "unknown"


def filesystem_of(path: str) -> str:
    """Mount point and file system type holding ``path``."""
    path = os.path.realpath(path)
    best = ("/", "unknown")
    with open("/proc/mounts") as f:
        for line in f:
            _dev, mnt, fstype = line.split()[:3]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best[0]):
                best = (mnt, fstype)
    return f"{best[1]} at {best[0]}"


def descendants(pid: int) -> list[int]:
    """All live descendant pids of ``pid``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus every live descendant
    (the JVM and its Python workers)."""
    me = os.getpid()
    return sum(_hwm_kb(p) for p in [me, *descendants(me)]) / 1024.0


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait for ``pids`` to exit, SIGKILL what is left after ``timeout``;
    returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _alive(p)]
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for p in alive:
        while _alive(p):
            time.sleep(0.05)
    return alive


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state == "Z":
        try:  # reap our own zombie children
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total
