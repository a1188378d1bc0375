"""PySpark's worker daemon, importing pyspark as cheaply as it can.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` and its py4j zip
first on the workers' ``PYTHONPATH``.  Two costs follow:

* ``zipimport`` caches no bytecode, so every daemon start (one per
  SparkContext) compiles pyspark's modules from source: 1.3-1.4 s,
  against 0.27 s from a byte-compiled copy.  When the interpreter also
  has a directory copy of the same release (``pyspark/version.py``
  byte-identical to the zip's) and can import py4j without its zip,
  the daemon drops Spark's zips from ``sys.path``; forked workers
  inherit it.  In any other layout ``sys.path`` stays as Spark built
  it, so a worker never runs a release other than the JVM's.
* PySpark's worker calls ``importlib.invalidate_caches()`` before every
  task.  Before CPython 3.12 (gh-103200) that makes every
  ``zipimporter`` re-read its archive's central directory at once:
  0.12-0.26 s of CPU per task for a worker importing from the zip.
  Here an importer re-reads its archive only when the archive's
  ``(st_mtime_ns, st_size)`` differs from the last read it made.

Run by Spark as ``spark.python.daemon.module`` (see session.py); both
changes are applied under ``__main__`` only, so importing this module
changes nothing and imports no pyspark.
"""

from __future__ import annotations

import os
import sys
import zipimport
from importlib.machinery import PathFinder


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


def _version_py(path: list[str], zipped: bool) -> bytes | None:
    """``pyspark/version.py`` of the pyspark that ``path`` would import,
    if it imports one from a zip archive (``zipped``) or from a
    directory (not ``zipped``)."""
    spec = PathFinder.find_spec("pyspark", path)
    if (
        spec is None
        or spec.origin is None
        or isinstance(spec.loader, zipimport.zipimporter) != zipped
    ):
        return None
    try:
        return spec.loader.get_data(
            os.path.join(os.path.dirname(spec.origin), "version.py")
        )
    except OSError:
        return None


def without_spark_zips(path: list[str]) -> list[str]:
    """``path`` minus Spark's pyspark/py4j zips when the rest imports
    pyspark from a directory holding the zip's release and can import
    py4j; otherwise ``path`` itself."""
    zips = [
        p for p in path
        if p.endswith(".zip")
        and os.path.basename(p).startswith(("pyspark", "py4j"))
    ]
    if not zips:
        return path
    rest = [p for p in path if p not in zips]
    shipped = _version_py(zips, zipped=True)
    if (
        shipped is None
        or _version_py(rest, zipped=False) != shipped
        or PathFinder.find_spec("py4j", rest) is None
    ):
        return path
    return rest


if __name__ == "__main__":
    sys.path[:] = without_spark_zips(sys.path)
    if sys.version_info < (3, 12):
        patch_zipimport()
    from pyspark.daemon import manager

    manager()
