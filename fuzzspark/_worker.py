"""One-time set-up of a PySpark Python worker process.

A reused Python worker starts every task with
``importlib.invalidate_caches()`` (``pyspark.worker_util.
setup_spark_files``).  Each ``zipimporter`` on the import path then
re-reads its archive's whole zip directory: ``pyspark.zip``, the Spark
jars and the shipped fuzzspark zip, once per package directory imported
from them.  On a 4-vCPU host that measured 0.16–0.32 s at the start of
every task, more than a short scorer batch costs.

:func:`install_zip_cache_guard` wraps
``zipimport.zipimporter.invalidate_caches`` so that an importer re-reads
its archive only when the archive's ``(st_mtime_ns, st_size)`` changed
since that importer last read it; a rewritten archive is still picked
up.  Importing ``fuzzspark`` installs it inside a Python worker only
(PySpark sets the TaskContext before it unpickles the task's function);
any other process's import system stays untouched.
"""

from __future__ import annotations

import os
import sys
import zipimport

__all__ = ["install_zip_cache_guard", "in_python_worker"]


def install_zip_cache_guard() -> None:
    """Wrap ``zipimporter.invalidate_caches`` once per process."""
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "_stamp_guard", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None  # gone or unreadable: let zipimport decide
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            reread(self)
            self._read_stamp = stamp

    invalidate_caches._stamp_guard = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def in_python_worker() -> bool:
    """True inside a PySpark Python worker that is running a task."""
    tc = sys.modules.get("pyspark.taskcontext")
    return tc is not None and tc.TaskContext.get() is not None
