"""Python worker daemon for the engine's sessions (``spark.python.daemon.module``).

PySpark's worker calls ``importlib.invalidate_caches()`` before every task,
and under Python 3.11/3.12 each ``zipimporter`` on ``sys.path`` answers by
re-reading its whole archive directory: ~200 ms a task for the 16 importers
over ``pyspark.zip``, the py4j zip and the ``spark-core`` jar. This daemon
re-reads an archive only when its ``(st_mtime_ns, st_size)`` changed since
the importer last read it, then runs PySpark's own daemon, whose forked
workers inherit the patch.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive directory only when the archive changed."""
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_stamp", None):
        _reread(self)  # stat before the read: a write during it shows next time
        self._stamp = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` and stamp the importers
    this process already has."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder._stamp = _stamp(finder.archive)


def main() -> None:
    install()
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    # Run under the module's package name, not ``__main__``, so the patched
    # method names this module (the session tests check it).
    from weather_etl_docker_airflow_project_spark.worker_daemon import main

    main()
