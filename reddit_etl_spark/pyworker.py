"""PySpark daemon entry point that re-reads a zip archive's directory
only when the archive changed.

``get_spark`` sets ``spark.python.daemon.module`` to this module. The
Python worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). Through Python
3.12, ``zipimporter.invalidate_caches()`` re-reads the whole directory
of its archive at once (3.13 drops the cached directory and re-reads
it on the next lookup). A worker holds one importer per zip entry on
``sys.path`` and per package prefix inside it: ``pyspark.zip`` (1,328
entries) under each of its package prefixes, the py4j zip and
``spark-core_*.jar`` (5,359 entries), 16 importers in all. That was
most of the per-Python-task floor: an identity ``mapInArrow`` task
took ~290 ms with PySpark's daemon and ~90 ms with this one, on a
4-vCPU host (SCALING.md, "The per-Python-task floor").

Here an importer re-reads (or drops) its archive's directory only when
the archive's size or mtime differs from what it saw when it last did
so (stat taken before the read, so a change during the read is seen
next time). The stamp lives on each importer instance: through 3.12,
importers of the same archive stop sharing one directory dict once one
of them re-reads, so each must notice a change itself. An importer
that never re-read has no stamp and re-reads on its first call; the
daemon makes that call once for the importers it holds before it forks
any worker. Then it runs PySpark's own daemon
(``pyspark.daemon.manager``).
"""

from __future__ import annotations

import os
import zipimport

_REREAD = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    if stamp is None or getattr(self, "_zip_stamp", None) != stamp:
        _REREAD(self)
        self._zip_stamp = stamp


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read only a changed
    archive."""
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


if __name__ == "__main__":
    import importlib

    from pyspark import daemon

    install()
    # read and stamp once here, so the forked workers start stamped
    importlib.invalidate_caches()
    daemon.manager()
