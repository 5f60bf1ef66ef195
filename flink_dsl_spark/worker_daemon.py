"""PySpark worker daemon that does not re-parse unchanged zip archives.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
task (``worker_util.setup_spark_files``).  On CPython before 3.13,
``zipimport.zipimporter.invalidate_caches`` re-reads the archive's
central directory eagerly, once per zipimporter — one per package
directory imported from ``pyspark.zip`` (1,328 entries), about 100 ms
of CPU per task.  Run as ``python -m flink_dsl_spark.worker_daemon``
(``get_session`` sets ``spark.python.daemon.module``), this module
keeps the parsed directory while the archive's ``(st_mtime_ns,
st_size)`` is unchanged, then runs ``pyspark.daemon`` with ``sys.argv``
as Spark passed it.  Any other case goes to CPython's own method.
"""

from __future__ import annotations

import importlib
import os
import runpy
import zipimport

_cpython_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) taken before its last read
_stamps: dict[str, tuple[int, int]] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and stamp is not None \
            and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _cpython_invalidate_caches(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp
    else:
        _stamps.pop(self.archive, None)


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # read each archive once here, so forked workers start with stamps
    importlib.invalidate_caches()
    runpy.run_module("pyspark.daemon", run_name="__main__")
