"""Process-tree and host probes read from /proc.

The program runs as this Python process plus its children: the Spark
JVM and, under it, the Python workers. CPU and memory are summed over
that tree, so work moved from this process into the JVM or the workers
still counts.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PR_SET_CHILD_SUBREAPER = 36  # from <linux/prctl.h>


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants. The
    Python worker daemon moves into its own process group and can outlive
    the JVM that started it; re-parented here instead of to init, it
    stays in this process's tree, where ``end_tree`` waits for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:  # no children left
            return
        if pid == 0:  # children left, none ended
            return


def end_tree(grace: float) -> list[int]:
    """Wait up to ``grace`` seconds for every descendant of this process
    to end, reaping each; then kill those left and wait for them too.
    Returns the pids that had to be killed."""
    me = os.getpid()
    deadline = time.monotonic() + grace
    killed: list[int] = []
    while True:
        _reap()
        left = [p for p in tree_pids() if p != me]
        if not left:
            return killed
        if time.monotonic() >= deadline:
            if killed:
                raise RuntimeError(f"processes {left} did not end after SIGKILL")
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = left
            deadline = time.monotonic() + 10
        time.sleep(0.1)


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listdir and open
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all of its descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(d)
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_cpu() -> dict[int, float]:
    """pid -> CPU seconds (user + system, own and reaped children)."""
    out = {}
    for p in tree_pids():
        f = _stat_fields(str(p))
        if f is not None:
            # fields 14..17 of /proc/<pid>/stat: utime stime cutime cstime
            out[p] = sum(int(x) for x in f[11:15]) / _TICK
    return out


def cpu_delta(before: dict[int, float], after: dict[int, float]) -> float:
    """CPU seconds the tree used between two ``tree_cpu`` snapshots. A
    process that ended in between is charged to its parent's reaped-child
    time, which holds its whole life, so its share from before the first
    snapshot is taken off again."""
    used = sum(v - before.get(p, 0.0) for p, v in after.items())
    return used - sum(v for p, v in before.items() if p not in after)


def tree_peak_rss_mb() -> float:
    """Sum over the live tree of each process's peak resident set (VmHWM)."""
    kb = 0
    for p in tree_pids():
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def host_sample() -> dict:
    """Host-wide CPU jiffies (steal, total) and the load averages."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"steal": vals[7] if len(vals) > 7 else 0, "total": sum(vals), "load": load}


def host_noise(start: dict, end: dict) -> dict:
    """Steal share of host CPU time between two samples, and load averages,
    so that a noisy run can be identified afterwards."""
    total = max(end["total"] - start["total"], 1)
    return {
        "steal_frac": round((end["steal"] - start["steal"]) / total, 5),
        "load1_start": start["load"][0],
        "load1_end": end["load"][0],
        "load5_end": end["load"][1],
    }
