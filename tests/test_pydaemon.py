"""The Python worker daemon (``themis_tritonsort_spark/pydaemon.py``):
workers import the byte-compiled pyspark when it is the zip's release
and keep Spark's zips otherwise, an unchanged zip archive is not
re-read per task while a changed one still is, and workers find the
package from any driver directory."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile

import pytest

from themis_tritonsort_spark.pydaemon import without_spark_zips

from .conftest import REPO

_PY312 = sys.version_info >= (3, 12)


def test_task_runs_the_compiled_pyspark_release(spark):
    """In the shared session a task imports pyspark from a directory,
    not from Spark's zip, and it is the driver's release."""
    import pyspark

    def probe(_):
        import pyspark

        yield pyspark.__file__, pyspark.__version__

    ((where, version),) = spark.sparkContext.parallelize([0], 1).mapPartitions(
        probe
    ).collect()
    assert ".zip" not in where
    assert version == pyspark.__version__


_RELEASE = "__version__: str = '4.1.2'\n"


def _spark_layout(tmp_path, local_release, local_py4j):
    """A ``sys.path`` shaped like a worker's: cwd, Spark's pyspark and
    py4j zips, then a site directory holding ``local_release`` of
    pyspark (none if None) and, if ``local_py4j``, a py4j."""
    pyspark_zip = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(pyspark_zip, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", _RELEASE)
    py4j_zip = tmp_path / "py4j-0.10.9.9-src.zip"
    with zipfile.ZipFile(py4j_zip, "w") as z:
        z.writestr("py4j/__init__.py", "")
    site = tmp_path / "site"
    site.mkdir()
    if local_release is not None:
        (site / "pyspark").mkdir()
        (site / "pyspark" / "__init__.py").write_text("")
        (site / "pyspark" / "version.py").write_text(local_release)
    if local_py4j:
        (site / "py4j").mkdir()
        (site / "py4j" / "__init__.py").write_text("")
    return [str(tmp_path), str(pyspark_zip), str(py4j_zip), str(site)]


def test_same_release_drops_spark_zips(tmp_path):
    path = _spark_layout(tmp_path, _RELEASE, local_py4j=True)
    assert without_spark_zips(path) == [path[0], path[3]]


@pytest.mark.parametrize(
    "local_release, local_py4j",
    [
        ("__version__: str = '4.1.1'\n", True),  # a different release
        (None, True),  # the zip is the only pyspark
        (_RELEASE, False),  # py4j only in its zip
    ],
    ids=["other_release", "no_directory_copy", "py4j_only_zipped"],
)
def test_other_layouts_keep_sys_path(tmp_path, local_release, local_py4j):
    path = _spark_layout(tmp_path, local_release, local_py4j)
    assert without_spark_zips(path) == path


def test_zipped_copy_keeps_sys_path(tmp_path):
    """The same release in another zip would still compile from source
    at every daemon start: nothing is gained, so nothing is dropped."""
    path = _spark_layout(tmp_path, None, local_py4j=True)
    other = tmp_path / "deps.zip"
    with zipfile.ZipFile(other, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", _RELEASE)
    path.append(str(other))
    assert without_spark_zips(path) == path


def test_importing_the_daemon_imports_no_pyspark():
    """Only the daemon's ``__main__`` may import pyspark, after it has
    chosen the import path; an import at module level would run first
    and pin the zip's copy."""
    script = (
        "import sys, themis_tritonsort_spark.pydaemon\n"
        "print(sorted(m for m in sys.modules"
        " if m.split('.')[0] in ('pyspark', 'py4j')))"
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=REPO, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "[]"


def test_worker_keeps_unchanged_zip_directories(tmp_path):
    """With the worker's zipimport patch, ``importlib.invalidate_caches()``
    leaves an unchanged archive's cached directory in place (the stock
    3.11 zipimporter re-reads and replaces it before every task)."""
    if _PY312:
        pytest.skip("CPython 3.12+ invalidates zip caches lazily")
    archive = tmp_path / "mods.zip"
    script = textwrap.dedent(
        f"""
        import importlib, sys, zipfile, zipimport
        from themis_tritonsort_spark.pydaemon import patch_zipimport

        patch_zipimport()
        archive = {str(archive)!r}
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("a.py", "A = 1\\n")
        sys.path.insert(0, archive)
        import a
        importlib.invalidate_caches()  # stamps the importer's read
        before = zipimport._zip_directory_cache[archive]
        importlib.invalidate_caches()
        print(zipimport._zip_directory_cache[archive] is before)
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=REPO, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "True"


def test_changed_zip_is_reread(tmp_path):
    """A rewritten archive (different size) is re-read on the next
    ``invalidate_caches()``, so a module added to it imports."""
    archive = tmp_path / "mods.zip"
    script = textwrap.dedent(
        f"""
        import importlib, sys, zipfile
        from themis_tritonsort_spark.pydaemon import patch_zipimport

        patch_zipimport()
        archive = {str(archive)!r}
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("a.py", "A = 1\\n")
        sys.path.insert(0, archive)
        import a
        importlib.invalidate_caches()  # stamps the importer's read
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("a.py", "A = 1\\n")
            z.writestr("b.py", "B = 2\\n")
        importlib.invalidate_caches()
        import b
        print(a.A + b.B)
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=REPO, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "3"


def test_python_task_runs_outside_the_repo(tmp_path):
    """A driver whose cwd is outside the repo, with PYTHONPATH unset,
    still runs Python tasks: the workers' daemon is imported from the
    package's own directory."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        from themis_tritonsort_spark.session import get_spark

        spark = get_spark(master="local[1]")
        print(spark.sparkContext.parallelize([0, 1], 1)
              .map(lambda x: x + 1).collect())
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "[1, 2]"
