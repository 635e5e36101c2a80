"""How fast the host runs right now, from a fixed Spark job of the benchmark's own.

On a shared host the same pass can take two to three times as long in
one minute as in the next. The process's CPU time grows with it, so the slowdown is
not steal time that could be subtracted. The reference job here is a
fixed RDD job: the same texts, the same pure-Python work on them, the
same task count on every run, workload and seed. It imports nothing
from the package and reads no SQL setting, so its time changes with the
host, the JVM and the Python workers, and not with the program. The
benchmark times it between passes and states each time at one fixed
host speed: ``scaled(t, ref_s) = t * NOMINAL_S / ref_s``.
"""

from __future__ import annotations

import random
import time

from procmem import worker_pids

# the reference job's time, in seconds, that scaled times are stated at
NOMINAL_S = 0.25
REFERENCE_TEXTS = 800
_WORDS = (
    "the quick brown fox jumps over a lazy dog while markup <p> and &amp; entities "
    "wait in long article pages for the readability scorer to weigh each paragraph"
).split()


def reference_texts():
    """The fixed input of the reference job: the same on every run."""
    rng = random.Random(0)
    return [" ".join(rng.choices(_WORDS, k=rng.randrange(100, 300))) for _ in range(REFERENCE_TEXTS)]


class Reference:
    """Times the reference job on ``spark`` with ``2 * slots`` tasks.

    Spark serves RDD jobs from a Python daemon of their own, apart from
    the one that serves the program's UDFs. The first run, untimed,
    starts it; ``processes`` are the pids it added, so that memory
    readings of the program's workers can leave them out."""

    def __init__(self, spark, slots):
        self.sc = spark.sparkContext
        self.partitions = 2 * slots
        self.texts = reference_texts()
        before = set(worker_pids())
        self.run_s()
        self.processes = set(worker_pids()) - before

    def run_s(self):
        # a lambda pickles by value, so the workers need not import this module
        weigh = lambda text: sum(len(w.lower().strip("<>&;")) for w in text.split())  # noqa: E731
        t = time.perf_counter()
        self.sc.parallelize(self.texts, self.partitions).map(weigh).sum()
        return time.perf_counter() - t


def scaled(seconds, ref_s):
    """``seconds`` measured while the reference job took ``ref_s``, stated
    at the host speed where it takes ``NOMINAL_S``."""
    return seconds * NOMINAL_S / ref_s
