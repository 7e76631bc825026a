"""Process-tree accounting from ``/proc`` and clean shutdown of the Spark
processes a run starts (driver Python, gateway JVM, Python workers)."""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(pids: list[int] | None = None) -> float:
    """User + system CPU of the tree, including reaped children (a worker
    that exited still counts through its parent's ``cutime``)."""
    total = 0
    for pid in pids or tree():
        st = _stat(pid)
        if st:
            total += sum(int(v) for v in st[11:15])  # utime stime cutime cstime
    return total / _TICK


def process_age() -> float:
    """Seconds since this process started, from ``/proc`` (10 ms ticks)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat(os.getpid())[19]) / _TICK  # field 22, starttime


def peak_rss_mb(pids: list[int] | None = None) -> float:
    """Sum over the live tree of each process's peak RSS (``VmHWM``)."""
    kb = 0
    for pid in pids or tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


def stop_descendants(timeout: float = 20.0) -> None:
    """Wait for every descendant of this process to end; after
    ``timeout`` seconds terminate, then kill, what is left."""
    me = os.getpid()
    deadline = time.time() + timeout
    sig = None
    while True:
        left = [p for p in tree(me) if p != me]
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)  # reap our own zombies
            except ChildProcessError:
                pass
        left = [p for p in tree(me) if p != me and _stat(p) and _stat(p)[0] != "Z"]
        if not left:
            return
        if time.time() > deadline:
            sig = signal.SIGKILL if sig == signal.SIGTERM else signal.SIGTERM
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 5.0
        time.sleep(0.1)
