"""PySpark daemon that pays the Python worker's fixed costs once per session.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module, so
Spark starts it as ``python -m polars_quant_spark.worker_daemon
pyspark.worker`` and every Python worker is a fork of it. Before the first
fork it:

1. makes ``zipimporter.invalidate_caches`` re-read its archive only when the
   archive's (inode, size, mtime) changed since that importer last read it.
   PySpark calls ``importlib.invalidate_caches()`` on every task, and on
   Python 3.11 each zip importer then re-reads its whole archive directory
   (Python 3.12 made this lazy);
2. imports this package, and with it numpy, pandas, pyarrow and
   ``pyspark.worker``, which each worker would otherwise import on its
   first task;
3. freezes the objects loaded so far, so the ``gc.collect()`` the daemon
   runs after each task does not walk them.
"""

import gc
import importlib
import os
import sys
import threading
import zipimport

import polars_quant_spark  # noqa: F401

_read_archive = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_stamp", None):
        _read_archive(self)
        self._stamp = stamp


if __name__ == "__main__":
    from pyspark.daemon import manager

    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    importlib.invalidate_caches()
    # a thread alive at fork time would be missing from every worker
    assert threading.active_count() == 1, threading.enumerate()
    gc.freeze()
    manager()
