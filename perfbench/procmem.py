"""Peak resident memory of a process tree from /proc/<pid>/status.

`ru_maxrss` only covers children that have already exited, so the
still-running JVM is read directly: VmHWM is the kernel's high-water mark
of each process's resident set.
"""

from __future__ import annotations

import os


def parse_vm_hwm_kb(status_text: str) -> int | None:
    """The VmHWM field of a /proc/<pid>/status text, in kB."""
    for line in status_text.splitlines():
        if line.startswith("VmHWM:"):
            parts = line.split()
            if len(parts) >= 2 and parts[1].isdigit():
                return int(parts[1])
    return None


def vm_hwm_kb(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as fh:
            return parse_vm_hwm_kb(fh.read())
    except OSError:
        return None


def children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(x) for x in fh.read().split())
        except OSError:
            continue
    return out


def comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def java_child(pid: int) -> int | None:
    """The first `java` process among pid's descendants (the Spark JVM a
    PySpark process launches through spark-submit)."""
    stack = list(children(pid))
    while stack:
        c = stack.pop(0)
        if comm(c) == "java":
            return c
        stack.extend(children(c))
    return None


def python_and_jvm_peak_mb(pid: int) -> tuple[float, float]:
    """Peak RSS of the Python process and of its JVM child, in MB."""
    jvm = java_child(pid)
    return (vm_hwm_kb(pid) or 0) / 1024, ((vm_hwm_kb(jvm) or 0) / 1024 if jvm else 0.0)
