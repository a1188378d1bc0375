"""The Python worker daemon (``themis_tritonsort_spark/pydaemon.py``):
an unchanged zip archive is not re-read per task, a changed one still
is, and workers find the package from any driver directory."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from .conftest import REPO

_PY312 = sys.version_info >= (3, 12)


def test_worker_keeps_unchanged_zip_directories(spark):
    """In a task, ``importlib.invalidate_caches()`` must leave every
    zip archive's cached directory in place (the stock 3.11
    zipimporter re-reads and replaces it)."""
    if _PY312:
        pytest.skip("CPython 3.12+ invalidates zip caches lazily")

    def probe(_):
        import importlib
        import zipimport

        before = dict(zipimport._zip_directory_cache)
        importlib.invalidate_caches()
        after = zipimport._zip_directory_cache
        yield sorted(
            (a, after.get(a) is d) for a, d in before.items()
        )

    (kept,) = spark.sparkContext.parallelize([0], 1).mapPartitions(
        probe
    ).collect()
    if not kept:
        pytest.skip("the worker imports nothing from a zip archive")
    assert kept == [(a, True) for a, _ in kept]


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
