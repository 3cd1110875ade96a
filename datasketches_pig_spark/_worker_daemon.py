"""Python worker daemon that skips re-reading unchanged zip archives.

Every Python task runs ``importlib.invalidate_caches()`` in its worker setup
(``pyspark/worker_util.py``).  On Python 3.11 that makes each zipimporter on
``sys.path_importer_cache`` re-read its archive's central directory — for
``pyspark.zip`` (~1,300 entries, ~14 importers) about 0.1-0.2 s of CPU per
task, reused worker or not.  Newer CPython versions make this invalidation
lazy; this module backports the idea: an importer re-reads its archive only
when the archive's ``(st_mtime_ns, st_size, st_ino)`` changed since its last
read, or the stat fails, so a zip that is added or rewritten is still seen.

``session.get_spark`` points ``spark.python.daemon.module`` here.  The patch
is applied in the daemon before it forks, so every worker inherits it.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _stat_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def invalidate_caches(self) -> None:
    """Re-read the archive's directory only if the archive changed."""
    key = _stat_key(self.archive)
    if key is None or key != getattr(self, "_archive_stat", None):
        _stock_invalidate_caches(self)
        self._archive_stat = key


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    # record every importer's archive key once here, so forked workers
    # start with it instead of each re-reading on its first task
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    # ``python -m`` runs this file as ``__main__``; patch from the importable
    # module so the installed method reports its real module name
    from datasketches_pig_spark._worker_daemon import main as _main

    _main()
