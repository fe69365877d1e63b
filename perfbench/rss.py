"""Peak resident memory of a process tree, sampled from /proc.

Run as ``python3 rss.py <root_pid>``: every 100 ms it sums the resident set
(``/proc/<pid>/statm``) of the root process and all its descendants (for a
Spark application: the Python process, its JVM and every Python worker the JVM
forks). When its standard input closes it prints one JSON line: the peak in
bytes and, at that peak, the bytes and process count per executable name.

A child that the JVM is spawning shares the JVM's memory until it execs, so
it would count the whole JVM a second time; a child of a java process that
still runs java is skipped. The sampler is a separate process, so it never
competes with the measured process for its interpreter lock.
"""

from __future__ import annotations

import json
import os
import select
import sys

PAGE = os.sysconf("SC_PAGE_SIZE")


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_rss(root: int, skip: int) -> tuple[int, dict]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    total, by_comm, todo = 0, {}, [(root, None)]
    while todo:
        pid, parent_exe = todo.pop()
        exe = _exe(pid)
        if pid == skip or exe is None:
            continue
        if parent_exe == exe and os.path.basename(exe) == "java":
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * PAGE
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue  # exited while being read
        total += rss
        agg = by_comm.setdefault(comm, [0, 0])
        agg[0] += rss
        agg[1] += 1
        todo.extend((c, exe) for c in children.get(pid, []))
    return total, by_comm


def main() -> None:
    root = int(sys.argv[1])
    peak, at_peak = 0, {}
    while True:
        total, by_comm = tree_rss(root, os.getpid())
        if total > peak:
            peak, at_peak = total, by_comm
        ready, _, _ = select.select([sys.stdin], [], [], 0.1)
        if ready and not sys.stdin.read():
            break
    print(json.dumps({"peak_bytes": peak, "at_peak": at_peak}), flush=True)


if __name__ == "__main__":
    main()
