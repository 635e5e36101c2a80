"""SparkSession construction, package shipping and worker import caches.

Production deploys via ``spark-submit --py-files nreadability_spark.zip``
(the north-rule invocation shape). ``get_spark`` reproduces that from any
driver process: it zips this package and ``addPyFile``s it, so executor
Python workers can unpickle the extraction UDF regardless of the
driver's cwd/sys.path. The zip name is content-hashed, so code changes
ship a fresh archive and unchanged code reuses the cached one.

``install_zip_invalidation`` stops every Python task from re-reading
Spark's zip and jar directories. PySpark's worker calls
``importlib.invalidate_caches()`` before each task, and on Python < 3.13
every cached ``zipimporter`` then re-reads its archive's whole central
directory: a pandas-UDF worker holds about 16 of them (twelve over
``pyspark.zip``, two over the 15 MB spark-core jar, two over py4j), about
0.1-0.2 s per task. The helper makes ``zipimporter.invalidate_caches``
stat the archive first and re-read only when ``(st_mtime_ns, st_size)``
differs from what that importer stored at its last read (always on an
``OSError``). This is safe because none of these archives changes while
a worker lives (Spark's own zip and jar, and the content-hashed package
zip), and a changed stat still forces the re-read. Python 3.13 made the
stock call lazy (it only drops the cached directory), so there the
helper does nothing. It is installed when this package is imported
inside a Spark Python worker (see ``nreadability_spark/__init__.py``):
that happens while a task's UDF is unpickled, right after the worker's
own ``invalidate_caches()`` re-read every archive, so the importers
present then are stamped with their current stat. The driver keeps the
stock method.
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile
import zipfile
import zipimport
from pathlib import Path

_PACKAGE_ROOT = Path(__file__).resolve().parent
_STOCK_ZIP_INVALIDATE = zipimport.zipimporter.invalidate_caches

# records per Arrow batch sent to a Python worker: large HTML rows in
# Spark's default 10k-row batches would be GiB-scale per worker
ARROW_BATCH_ROWS = 512


def package_zip():
    """Zip the nreadability_spark package; returns the archive path."""
    py_files = sorted(
        p for p in _PACKAGE_ROOT.rglob("*.py") if "__pycache__" not in p.parts
    )
    digest = hashlib.sha256()
    for p in py_files:
        digest.update(str(p.relative_to(_PACKAGE_ROOT)).encode())
        digest.update(p.read_bytes())
    out = Path(tempfile.gettempdir()) / f"nreadability_spark_{digest.hexdigest()[:16]}.zip"
    if not out.exists():
        fd, tmp = tempfile.mkstemp(dir=out.parent, suffix=".tmp")
        with os.fdopen(fd, "wb") as f, zipfile.ZipFile(f, "w", zipfile.ZIP_DEFLATED) as zf:
            for p in py_files:
                zf.write(p, f"nreadability_spark/{p.relative_to(_PACKAGE_ROOT)}")
        os.replace(tmp, out)
    return str(out)


def _archive_stat(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _stat_keyed_invalidate(self):
    """``zipimporter.invalidate_caches`` that re-reads only a changed archive."""
    stat = _archive_stat(self.archive)
    if stat is None or stat != getattr(self, "_archive_stat", None):
        _STOCK_ZIP_INVALIDATE(self)
        self._archive_stat = stat


def install_zip_invalidation():
    """Inside a Spark Python worker on Python < 3.13, make
    ``zipimporter.invalidate_caches`` stat-keyed (module docstring).
    Idempotent; does nothing anywhere else."""
    taskcontext = sys.modules.get("pyspark.taskcontext")
    if (
        sys.version_info >= (3, 13)
        or taskcontext is None
        or taskcontext.TaskContext.get() is None
        or zipimport.zipimporter.invalidate_caches is _stat_keyed_invalidate
    ):
        return
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder._archive_stat = _archive_stat(finder.archive)
    zipimport.zipimporter.invalidate_caches = _stat_keyed_invalidate


def get_spark(
    master=None,
    app_name="nreadability-spark",
    shuffle_partitions=None,
    extra_conf=None,
):
    """Build (or reuse) a tuned SparkSession with the package shipped."""
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    if shuffle_partitions:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.ui.enabled", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.addPyFile(package_zip())
    return spark
