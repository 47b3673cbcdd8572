"""Skip the zip re-read in ``zipimporter.invalidate_caches`` when the archive
is unchanged.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` first on its Python
workers' path, so a worker imports pyspark through a dozen or more
``zipimport.zipimporter`` objects on that one 3.5 MB archive. Every task
calls ``importlib.invalidate_caches()`` (``pyspark.worker_util.
setup_spark_files``), and on CPython < 3.13 each zipimporter's
``invalidate_caches`` re-reads the archive's whole central directory: about
0.1 s per task, against a UDF body well under 1 ms. CPython 3.13 made the
re-read lazy, so there the shim is not installed.

The wrapper stats the archive and re-reads only when its
``(st_ino, st_size, st_mtime_ns)`` differs from the stamp this importer last
loaded, so a changed or replaced archive is still re-read. Any worker that
unpickles a package reader or operator imports the package, which installs
the shim from that worker's next task on.
"""

from __future__ import annotations

import os
import sys
import zipimport

_STAMP = "_exon_archive_stamp"


def _stamped(original):
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            self.__dict__.pop(_STAMP, None)
            return original(self)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        if self.__dict__.get(_STAMP) != stamp:
            # stat before the read: an archive that changes during it differs
            # from the recorded stamp and is re-read next time
            original(self)
            self.__dict__[_STAMP] = stamp

    invalidate_caches.__wrapped__ = original
    return invalidate_caches


def installed() -> bool:
    """True when ``zipimporter.invalidate_caches`` is this module's wrapper."""
    return getattr(zipimport.zipimporter.invalidate_caches, "__module__", None) == __name__


def install() -> bool:
    """Wrap ``zipimporter.invalidate_caches`` (once); True when installed."""
    if sys.version_info >= (3, 13):
        return False
    if not installed():
        cls = zipimport.zipimporter
        cls.invalidate_caches = _stamped(cls.invalidate_caches)
    return True


install()
