"""Python worker daemon for sessions built by ``session.get_spark``.

Spark forks the Python workers of a session from a daemon process
(``spark.python.daemon.module``). This module is that daemon. Before it
hands over to :func:`pyspark.daemon.manager` it

- imports ``pandas``, ``pyarrow`` and the Arrow serializers, so every
  forked worker inherits them instead of importing them per worker;
- replaces ``zipimport.zipimporter.invalidate_caches`` with
  :func:`invalidate_caches`. Every task calls
  ``importlib.invalidate_caches()`` (``pyspark.worker_util.
  setup_spark_files``), and on CPython 3.11 each zipimporter on the
  path then re-reads its archive's whole directory: for ``pyspark.zip``
  that cost more than the work of a small task.

Importing this module changes nothing: the imports and the override
happen only when it runs as the daemon, so they live only in the daemon
process and the workers it forks.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> ((st_size, st_mtime_ns) when last read, directory read then)
_directories: dict[str, tuple[tuple[int, int], dict]] = {}


def invalidate_caches(importer: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when its ``(st_size, st_mtime_ns)`` changed since the
    last read in this process; otherwise the importer takes the
    directory of that read. An archive that cannot be stat'ed goes to
    the original."""
    try:
        st = os.stat(importer.archive)
    except OSError:
        _reread(importer)
        return
    sig = (st.st_size, st.st_mtime_ns)
    seen = _directories.get(importer.archive)
    if seen is not None and seen[0] == sig:
        importer._files = seen[1]
        return
    _reread(importer)
    _directories[importer.archive] = (sig, importer._files)


def _preload() -> None:
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401


if __name__ == "__main__":
    _preload()
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # read each archive once here, so the forked workers inherit the reads
    importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()
