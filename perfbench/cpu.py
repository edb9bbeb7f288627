"""CPU time of a process tree and the host's steal share, from /proc.

The benchmark's headline cost is CPU time, not wall time: on a shared
virtual machine the hypervisor takes cores away ("steal") and wall time
drifts with it, while the CPU time a process tree was actually given
does not. The tree is this process and every descendant: the JVM that
PySpark launches, the PySpark daemon and its forked Python workers.
A process that has exited and been waited for by its parent is counted
through the parent's ``cutime``/``cstime`` fields, so workers that come
and go between two readings are not lost.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:  # the process ended between listing and reading
        return None
    # the command name is parenthesised and may itself hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def tree_cpu_s(root: int | None = None) -> float:
    """utime+stime+cutime+cstime, in seconds, summed over ``root``
    (default: this process) and all of its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is None:
            continue
        # after the name: state ppid ... utime(11) stime(12) cutime(13) cstime(14)
        pid = int(name)
        children.setdefault(int(f[1]), []).append(pid)
        ticks[pid] = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / _TICK


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        line = f.readline().split()
    vals = [int(v) for v in line[1:9]]  # user nice system idle iowait irq softirq steal
    return vals[7], sum(vals)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of host CPU time the hypervisor stole between two readings."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


_BURN = """
import sys, time
end = time.process_time() + float(sys.argv[1])
x = 0
while time.process_time() < end:
    x += 1
"""


def self_test(burn_s: float = 0.3) -> None:
    """Burn a known amount of CPU in a child process and check that the
    tree reading counts it after the child has been waited for (through
    this process's reaped-children time). The child is a plain
    subprocess: ``multiprocessing`` would also start a resource-tracker
    process that outlives the call."""
    import subprocess
    import sys

    before = tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", _BURN, str(burn_s)])
    try:
        child.wait(timeout=60)
    except subprocess.TimeoutExpired:
        child.kill()
        child.wait()
        raise RuntimeError("cpu self-test: burner child did not finish")
    counted = tree_cpu_s() - before
    # the child also pays its own interpreter start-up, so the counted
    # time may exceed the burn; it must never fall short of it
    if not burn_s * 0.9 <= counted <= burn_s + 5.0:
        raise RuntimeError(
            f"cpu self-test: burned {burn_s:.2f}s in a child, counted {counted:.2f}s"
        )


_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> bool:
    """Make this process the reaper of its orphaned descendants (Linux
    ``prctl``), so that a PySpark daemon or launcher shell whose parent
    exits is re-parented here and :func:`reap_descendants` can wait for
    it. Returns False where the call is not available."""
    import ctypes

    try:
        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def _descendants(root: int, live_only: bool) -> list[int]:
    """Descendants of ``root``; zombies too unless ``live_only``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None and not (live_only and f[0] == "Z"):
                children.setdefault(int(f[1]), []).append(int(name))
    found, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        found.extend(kids)
        todo.extend(kids)
    return found


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def reap_descendants(grace_s: float = 20.0) -> list[int]:
    """Wait up to ``grace_s`` for every descendant of this process to
    exit, reaping each; then SIGTERM and at last SIGKILL what is left
    (10 s each), and reap that too. Returns the pids that had to be
    signalled."""
    import signal
    import time

    me = os.getpid()
    signalled: list[int] = []
    deadline = time.monotonic() + grace_s
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in _descendants(me, live_only=True):
                try:
                    os.kill(pid, sig)
                    signalled.append(pid)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10.0
        while True:
            _reap()
            # done only when not even a zombie is left to be re-parented
            if not _descendants(me, live_only=False):
                return sorted(set(signalled))
            if time.monotonic() > deadline:
                break
            time.sleep(0.05)
    _reap()
    return sorted(set(signalled))
