"""PySpark's worker daemon, minus a per-task zip re-read.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task.  Before CPython 3.12 (gh-103200) that makes every
``zipimporter`` re-read its archive's central directory at once, and a
worker importing pyspark from ``pyspark.zip`` holds one importer per
imported package path: 0.12-0.26 s of CPU per task, before the first
record.  Here an importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` differs from the last read it made.

Run by Spark as ``spark.python.daemon.module`` (see session.py); the
patch is applied under ``__main__`` only, so importing this module
changes nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport


def patch_zipimport() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read only a changed
    archive.  An archive that cannot be stat'ed is always re-read."""
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            reread(self)
            self._read_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    if sys.version_info < (3, 12):
        patch_zipimport()
    from pyspark.daemon import manager

    manager()
