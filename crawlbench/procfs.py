"""Process-tree CPU, peak memory and host steal, read from ``/proc``.

The measured process launches the Spark JVM, and the JVM forks the
Python worker daemon and its workers, so every CPU-second the program
spends is in that tree. A process's ``cutime``/``cstime`` hold its
reaped children, so summing (own + reaped children) over the live tree
counts workers that exited mid-run too.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time
from typing import Dict, List, Optional

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> Optional[List[str]]:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces and parens: split after the last ')'
    head, _, tail = raw.rpartition(")")
    return [head.split("(", 1)[1]] + tail.split()


def _children_map() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is None:
            continue
        kids.setdefault(int(f[2]), []).append(int(name))
    return kids


def _descendants(pid: int, kids: Dict[int, List[int]]) -> List[int]:
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _cpu_s(pid: int) -> float:
    """utime + stime + cutime + cstime of one process, in seconds."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    # after the comm entry, fields[1] is state; utime..cstime are
    # /proc/<pid>/stat fields 14-17, i.e. fields[12:16] here
    return sum(int(x) for x in f[12:16]) / _TICK


def find_jvm(root_pid: int) -> Optional[int]:
    """The Spark JVM: the first ``java`` process below ``root_pid``."""
    kids = _children_map()
    for p in _descendants(root_pid, kids):
        f = _stat_fields(p)
        if f is not None and f[0] == "java":
            return p
    return None


def tree_cpu(root_pid: int, jvm_pid: Optional[int]) -> Dict[str, float]:
    """CPU-seconds of the tree split into the driver's own Python, the
    JVM itself, and the JVM's descendants (the Python workers)."""
    kids = _children_map()
    below_jvm = set(_descendants(jvm_pid, kids)) if jvm_pid else set()
    jvm = _cpu_s(jvm_pid) if jvm_pid else 0.0
    workers = sum(_cpu_s(p) for p in below_jvm)
    others = [p for p in _descendants(root_pid, kids)
              if p != jvm_pid and p not in below_jvm]
    driver = _cpu_s(root_pid) + sum(_cpu_s(p) for p in others)
    if jvm_pid:
        # the JVM's own reaped children (exited workers) are already in
        # its cutime/cstime; move them to the worker side
        f = _stat_fields(jvm_pid)
        if f is not None:
            reaped = (int(f[14]) + int(f[15])) / _TICK
            jvm -= reaped
            workers += reaped
    return {"driver": driver, "jvm": jvm, "workers": workers,
            "total": driver + jvm + workers}


def vm_hwm_mb(pid: Optional[int]) -> float:
    """Peak resident set (VmHWM) of one process in MiB."""
    if not pid:
        return 0.0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def host_cpu_ticks() -> List[int]:
    """The aggregate ``cpu`` line of ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: List[int], after: List[int]) -> float:
    """Share of host CPU time stolen by the hypervisor between two
    ``host_cpu_ticks`` samples (field 8 of the cpu line is steal)."""
    d = [a - b for a, b in zip(after, before)]
    total = sum(d[:8])  # guest time is already counted in user/nice
    return d[7] / total if total > 0 else 0.0


# ---------------------------------------------------------------- processes
def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                if os.getpgid(int(name)) == pgid:
                    return True
            except OSError:
                pass
    return False


def run_group(cmd: List[str], timeout: float, **popen) -> Optional[int]:
    """Run ``cmd`` in a new process group and wait until every process
    of the group (the JVM and its Python workers included) has ended.
    Returns the exit code, or None on timeout. A timeout, or an
    exception while waiting (SIGTERM turned into SystemExit), kills the
    whole group before returning or re-raising."""
    proc = subprocess.Popen(cmd, start_new_session=True, **popen)
    rc = None
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        pass
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        # the JVM exits on its own once the driver has gone; give it a
        # grace period, then kill what is left
        deadline = time.time() + 20
        while _group_alive(proc.pid) and time.time() < deadline:
            time.sleep(0.2)
        if _group_alive(proc.pid):
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            while _group_alive(proc.pid):
                time.sleep(0.1)
    return rc
