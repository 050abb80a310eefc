"""CPU, memory and host readings from ``/proc`` -- no program hooks.

CPU time is read per process as ``utime + stime + cutime + cstime``
(``/proc/<pid>/stat``), so a child that exited and was reaped still
counts, through its parent, after it is gone.
"""

from __future__ import annotations

import os
import platform

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm (field 2) may hold spaces; the rest follows the last ')'
    return raw[raw.rindex(")") + 2:].split()


def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def descendants(root: int, kids: dict[int, list[int]] | None = None
                ) -> list[int]:
    """``root`` and every process below it."""
    kids = children_map() if kids is None else kids
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def cpu_s(pid: int, with_children: bool = True) -> float:
    fields = _stat_fields(pid)
    if fields is None:
        return 0.0
    # fields[11..14] are utime, stime, cutime, cstime (stat fields 14-17)
    ticks = int(fields[11]) + int(fields[12])
    if with_children:
        ticks += int(fields[13]) + int(fields[14])
    return ticks / _TICK


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size (``VmHWM``) in MB; 0 if gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def reset_peak_rss() -> None:
    """Set this process's ``VmHWM`` back to its current RSS."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def steal_s() -> float:
    """Host-wide CPU steal seconds since boot (``/proc/stat``)."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / _TICK if len(cpu) > 8 else 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _java_version() -> str:
    import subprocess
    try:
        r = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True,
                           text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    first = (r.stderr or r.stdout).splitlines()
    return first[0].strip() if first else "unknown"


def host_fingerprint(parallelism: int | None) -> dict:
    import pyarrow
    fp = {"nproc": os.cpu_count(),
          "affinity_cpus": len(os.sched_getaffinity(0)),
          "spark_parallelism": parallelism,
          "python": platform.python_version(),
          "pyarrow": pyarrow.__version__,
          "loadavg": loadavg(),
          "machine": platform.machine()}
    if parallelism is not None:
        import pyspark
        fp["spark"] = pyspark.__version__
        fp["java"] = _java_version()
    return fp
