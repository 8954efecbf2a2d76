"""Re-read a zip archive on ``importlib.invalidate_caches()`` only if it changed.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
executor task and every data-source planner call
(``pyspark.worker_util.setup_spark_files``), and its workers import pyspark
from ``$SPARK_HOME/python/lib/pyspark.zip``. Before Python 3.13,
``zipimporter.invalidate_caches`` re-parses the archive's central directory
in pure Python, and ``sys.path_importer_cache`` holds one zipimporter per
package directory inside the zip: 15-16 parses of a ~1,300-entry directory,
about 90 ms of CPU per call on a 4-vCPU VM, for an archive that never
changes while the worker lives.

:func:`install` replaces that method with one that calls the original only
when the archive's ``(st_mtime_ns, st_size, st_ino)`` differs from the stat
taken before that importer's last read, or when ``stat`` fails. A rewritten
archive is therefore still re-read (unless it keeps its size, inode and
nanosecond mtime), and a deleted one still empties the importer, exactly as
the stdlib does. Python 3.13 only drops the cache
there, so the package installs this on older versions only. This module
imports nothing but the stdlib.

``import tectonic_spark`` installs it, and :mod:`tectonic_spark.worker_daemon`
imports the package before it forks any worker, so in a session built by
``get_spark`` every Python worker has it, including workers that only run
kernels pickled by value.
"""

from __future__ import annotations

import os
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    # stat before the read: a write racing the read leaves the older stat
    # recorded, so the next call reads again
    try:
        st = os.stat(self.archive)
        stat = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stat = None
    if stat is not None and stat == getattr(self, "_read_stat", None):
        return
    _stdlib_invalidate(self)
    self._read_stat = stat


def install() -> None:
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
