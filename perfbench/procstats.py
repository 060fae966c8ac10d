"""Arithmetic the benchmark reports with: ratios, and the process-tree
readers over Linux ``/proc`` (CPU time, peak RSS, host steal).

Pure functions over parsed text, so tests can feed them fixed strings.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def ratio(num: float, den: float) -> float:
    """``num / den``, 0.0 when nothing was attempted (``den == 0``)."""
    return num / den if den else 0.0


def stat_cpu_ticks(stat_line: str) -> tuple[int, int]:
    """(ppid, utime + stime + cutime + cstime) from one ``/proc/<pid>/stat``
    line. ``cutime``/``cstime`` carry the CPU of children the process has
    already reaped, so short-lived Python workers are not lost. The command
    name may hold spaces and parentheses, so fields are split after the
    last ``)``."""
    rest = stat_line[stat_line.rindex(")") + 2 :].split()
    # rest[0] is field 3 (state); utime..cstime are fields 14..17.
    return int(rest[1]), sum(int(x) for x in rest[11:15])


def status_kb(status_text: str, key: str) -> int:
    """A ``kB`` field (e.g. ``VmHWM``) of ``/proc/<pid>/status``; 0 when
    absent (kernel threads, zombies)."""
    for line in status_text.splitlines():
        if line.startswith(key + ":"):
            return int(line.split()[1])
    return 0


def steal_ticks(proc_stat_text: str) -> int:
    """Host steal ticks summed over all CPUs: the 8th value of the
    aggregate ``cpu`` line of ``/proc/stat``."""
    first = proc_stat_text.splitlines()[0].split()
    return int(first[8]) if len(first) > 8 else 0


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process ended between listing and reading
        return None


def _all_stats() -> dict[int, str]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            text = _read(f"/proc/{name}/stat")
            if text:
                out[int(name)] = text
    return out


def tree_pids(root: int, parents: dict[int, int]) -> list[int]:
    """``root`` and every descendant, given a pid -> ppid map."""
    children: dict[int, list[int]] = {}
    for pid, ppid in parents.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_ms(root: int) -> float:
    """User+system CPU of ``root``'s process tree (the driver Python, the
    JVM, the Python workers), in ms."""
    parsed = {pid: stat_cpu_ticks(text) for pid, text in _all_stats().items()}
    pids = tree_pids(root, {pid: p[0] for pid, p in parsed.items()})
    return sum(parsed[p][1] for p in pids if p in parsed) * 1000.0 / CLK_TCK


def tree_hwm_mb(root: int) -> float:
    """Sum of ``VmHWM`` (peak resident set) over ``root``'s process tree, MB."""
    parents = {pid: stat_cpu_ticks(text)[0] for pid, text in _all_stats().items()}
    kb = 0
    for pid in tree_pids(root, parents):
        text = _read(f"/proc/{pid}/status")
        if text:
            kb += status_kb(text, "VmHWM")
    return kb / 1024.0


def host_steal_ms() -> float:
    return steal_ticks(_read("/proc/stat") or "cpu") * 1000.0 / CLK_TCK


def dir_usage(path: str) -> tuple[int, int]:
    """(files, bytes) of the regular files under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def parquet_files(path: str) -> int:
    """Parquet data files under ``path`` (what a scan opens)."""
    return sum(n.endswith(".parquet") for _r, _d, names in os.walk(path) for n in names)
