"""Python worker daemon for the engine's sessions.

``get_session`` names this module as ``spark.python.daemon.module``, so
executors start it (``python -m``) instead of ``pyspark.daemon``.  It
changes one thing before handing over to ``pyspark.daemon.manager()``:
``zipimporter.invalidate_caches`` keeps an archive's cached directory
while the archive file is unchanged.

Why: every task a reused worker runs calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  Below CPython 3.13 each
``zipimporter`` answers that by re-reading its archive's whole central
directory, and a worker's import cache holds one importer per pyspark
package directory in ``pyspark.zip`` plus the Spark core jar.  That costs
about 200 ms of setup per task on every Python-boundary task (the Kinesis
sink, ``mapInPandas``/``mapInArrow``, ``foreachPartition``).  CPython 3.13
made the call lazy; this restores that economy on older interpreters.

Workers are forked from the daemon, so they inherit the patch.  The
package must be importable by workers, as it already must be for the
functions the engine ships to them.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its ``(mtime_ns, size, inode)`` changed or cannot be read.  An
    in-place rewrite keeping the size within one mtime tick goes unseen;
    Spark ships new ``--py-files`` under new paths, and ``pyspark.zip``
    and the jars do not change under a running worker.

    A no-op on CPython 3.13+, whose importer no longer holds ``_files``
    and only drops the cached directory."""
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches
    # archive path -> stamp of the directory held for it in
    # zipimport._zip_directory_cache.
    stamps: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self) -> None:
        stamp = _stamp(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and cached is not None and stamps.get(self.archive) == stamp:
            # Importers of one archive (one per package prefix) share the
            # directory; pick up a re-read another importer already made.
            self._files = cached
            return
        reread(self)
        if stamp is None:
            stamps.pop(self.archive, None)
        else:
            stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
