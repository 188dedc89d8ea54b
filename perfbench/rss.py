"""Peak-RSS sampler, run as its own process so the benchmark's single
search loop stays single-threaded.

    python3 perfbench/rss.py <pid> <out_file>

Every 100 ms it sums the resident set of the Spark JVM (the child of
``pid``) and of every Python process below it (the workers), and keeps
the peak in ``out_file`` as MiB; the process tree is re-read every
0.5 s. Other processes are left out: ``pid`` itself, this sampler, and
the JVM's short-lived children (its ``chmod`` and shell calls), which
share the JVM's memory until they exec and would count it twice. It
exits on SIGTERM or when ``pid`` is gone.
"""

from __future__ import annotations

import os
import signal
import sys
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _parents() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        out[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:
        return 0


def _descendants(root: int, parents: dict[int, int]) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in parents.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def main(argv: list[str]) -> int:
    root, out_file = int(argv[1]), argv[2]
    me = os.getpid()
    stop = []
    signal.signal(signal.SIGTERM, lambda *_: stop.append(1))
    peak, pids, scanned = 0, [], 0.0
    while not stop and os.path.exists(f"/proc/{root}"):
        if time.monotonic() - scanned > 0.5:
            parents = _parents()
            pids = [p for p in _descendants(root, parents) if p != me
                    and (parents[p] == root
                         or _comm(p).startswith("python"))]
            scanned = time.monotonic()
        total = sum(_rss_bytes(p) for p in pids)
        if total > peak:
            peak = total
            tmp = out_file + ".tmp"
            with open(tmp, "w") as fh:
                fh.write(f"{peak / 2**20:.3f}\n")
            os.replace(tmp, out_file)
        time.sleep(0.1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
