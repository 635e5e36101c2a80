"""Peak summed RSS of the Python worker processes a Spark session runs.

Spark's local-mode JVM forks ``python -m pyspark.daemon``, which forks
one worker per concurrent Python task. The sampler walks ``/proc`` on a
background thread, keeps the processes that descend from this process
and run a Python interpreter with ``pyspark`` on their command line
(the JVM itself is ``java``, so it never matches), and records the
largest sum of their resident sets seen between ``start`` and ``stop``.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def process_table(proc="/proc"):
    """{pid: (ppid, argv)} for every readable process."""
    out = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(f"{proc}/{name}/stat", "rb") as f:
                stat = f.read()
            with open(f"{proc}/{name}/cmdline", "rb") as f:
                argv = [a.decode(errors="replace") for a in f.read().split(b"\0") if a]
        except OSError:  # the process ended between listdir and open
            continue
        # comm (field 2) may hold spaces and parentheses: split after the last ')'
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        out[int(name)] = (ppid, argv)
    return out


def descendants(table, root):
    """Pids of every process below ``root`` in ``table``."""
    children = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    found, stack = set(), [root]
    while stack:
        for child in children.get(stack.pop(), ()):
            if child not in found:
                found.add(child)
                stack.append(child)
    return found


def is_python_worker(argv):
    return (
        bool(argv)
        and os.path.basename(argv[0]).startswith("python")
        and any("pyspark" in a for a in argv[1:])
    )


def rss_bytes(pid, proc="/proc"):
    try:
        with open(f"{proc}/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def worker_pids(root=None, exclude=(), proc="/proc"):
    """Python workers below ``root``, leaving out the processes in
    ``exclude`` and everything below them."""
    table = process_table(proc)
    below = descendants(table, os.getpid() if root is None else root)
    for pid in exclude:
        below -= descendants(table, pid) | {pid}
    return sorted(pid for pid in below if is_python_worker(table[pid][1]))


class WorkerRssSampler:
    """Samples summed worker RSS every ``interval`` seconds while running."""

    def __init__(self, interval=0.1, root=None, exclude=()):
        self.interval = interval
        self.root = os.getpid() if root is None else root
        self.exclude = set(exclude)
        self.peak_bytes = 0
        self.samples = 0
        self.seen_pids = set()
        self._stop = threading.Event()
        self._thread = None

    def sample(self):
        pids = worker_pids(self.root, self.exclude)
        self.seen_pids.update(pids)
        total = sum(rss_bytes(pid) for pid in pids)
        self.peak_bytes = max(self.peak_bytes, total)
        self.samples += 1
        return total

    def _loop(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def start(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()
        return self

    def stop(self):
        self._stop.set()
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("RSS sampler thread did not stop")
        self.sample()
        return self.peak_bytes
