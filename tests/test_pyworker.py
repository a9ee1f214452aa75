"""The Python-worker daemon (``reddit_etl_spark.pyworker``): a task's
``importlib.invalidate_caches()`` re-reads no unchanged zip archive,
and a rewritten archive is still re-read."""

from __future__ import annotations

import subprocess
import sys
import textwrap


def test_task_rereads_no_unchanged_zip(spark):
    """In a ``get_spark`` session every task's cache invalidation reads
    no zip directory, though the workers hold zip importers (PySpark's
    own daemon re-reads each of them on every task). The probe is
    defined here so it pickles by value."""

    def zip_reads_in_task(_rows):
        """Run inside a Python task: how many zip directories
        ``importlib.invalidate_caches()`` reads, and how many zip importers
        the worker holds."""
        import importlib
        import sys
        import zipimport

        reads = 0
        read_directory = zipimport._read_directory

        def counting(path):
            nonlocal reads
            reads += 1
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        importers = sum(
            isinstance(i, zipimport.zipimporter) for i in sys.path_importer_cache.values()
        )
        yield reads, importers

    got = (
        spark.sparkContext.parallelize(range(8), 8)
        .mapPartitions(zip_reads_in_task)
        .collect()
    )
    assert len(got) == 8
    assert all(importers > 0 for _, importers in got), got
    assert [reads for reads, _ in got] == [0] * 8, got


_REWRITE = textwrap.dedent(
    """
    import importlib, sys, zipfile
    from reddit_etl_spark import pyworker

    pyworker.install()

    path = sys.argv[1]

    def write(files):
        with zipfile.ZipFile(path, "w") as z:
            for name, src in files.items():
                z.writestr(name, src)

    write({"pkg/__init__.py": "", "pkg/a.py": "X = 1"})
    sys.path.insert(0, path)
    import pkg.a  # an importer for the archive and one for pkg/
    importlib.invalidate_caches()  # stamps both
    write({"pkg/__init__.py": "", "pkg/a.py": "X = 1",
           "pkg/b.py": "Y = 2", "c.py": "Z = 3"})
    importlib.invalidate_caches()
    import pkg.b, c
    assert (pkg.b.Y, c.Z) == (2, 3)
    print("ok")
    """
)


def test_rewritten_zip_exposes_new_module(tmp_path):
    """A zip on ``sys.path`` rewritten with new modules (in the package
    and at the top level, so both importers of the archive must notice)
    exposes them after ``invalidate_caches()``. Runs in a fresh
    interpreter so ``install()`` stays out of the test process."""
    out = subprocess.run(
        [sys.executable, "-c", _REWRITE, str(tmp_path / "mods.zip")],
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"
