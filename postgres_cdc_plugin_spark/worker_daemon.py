"""Python worker daemon for sessions built by `session.get_spark`.

Spark forks every Python worker from a daemon process (`pyspark.daemon`),
and every task then runs `pyspark.worker_util.setup_spark_files`, which
calls `importlib.invalidate_caches()` so that files shipped with
`SparkContext.addPyFile` become importable. Before CPython 3.13,
`zipimport.zipimporter.invalidate_caches` re-parses its archive's whole
central directory, and a worker inherits one zipimporter per imported
pyspark subpackage of `$SPARK_HOME/python/lib/pyspark.zip` (1328 entries
each) plus one on the spark-core jar (5359 entries): about 27k entries
parsed at the start of every task, 100-200 ms of it on a 4-vCPU VM.

This module keeps that re-read but makes it change-checked: an importer
re-reads its archive exactly as CPython does when the archive's
`(st_mtime_ns, st_size)` differs from its stamp at the last read, and
skips the re-read otherwise. Importers that exist when the daemon starts
are stamped then; an importer made later is read on its first
invalidation, as before. CPython 3.13 reads archives lazily, so there
the module only starts the daemon.

Spark runs it as `python -m postgres_cdc_plugin_spark.worker_daemon
<worker module>` (`spark.python.daemon.module`), and it hands over to
`pyspark.daemon.manager`, which reads the worker module from argv.
"""

from __future__ import annotations

import os
import sys
import zipimport

_STAMP = "_cdc_archive_stamp"
_reread = zipimport.zipimporter.invalidate_caches  # CPython's method


def archive_stamp(path: str):
    """(st_mtime_ns, st_size) of an archive, or None when it cannot be
    stat'ed (an importer whose archive is gone is always re-read, and
    CPython's re-read then empties it)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def invalidate_caches(self):
    """zipimporter.invalidate_caches that runs CPython's re-read only
    when the archive's stamp moved since the last read. The stamp is
    taken before the read, so an archive that changes during the read
    is read again at the next invalidation."""
    stamp = archive_stamp(self.archive)
    if stamp is not None and getattr(self, _STAMP, None) == stamp:
        return
    _reread(self)
    setattr(self, _STAMP, stamp)


def install() -> None:
    """Patch `zipimport.zipimporter.invalidate_caches` and stamp the
    importers already in `sys.path_importer_cache`; on CPython >= 3.13
    leave `zipimport` alone."""
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            setattr(importer, _STAMP, archive_stamp(importer.archive))


def main() -> None:
    # pyspark.daemon imports the worker module at import time, which
    # creates most of the zipimporters a worker will use; stamp after it.
    from pyspark import daemon

    install()
    daemon.manager()


if __name__ == "__main__":
    main()
