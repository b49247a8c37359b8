"""Python worker daemon of engine sessions: pyspark's daemon, minus the
per-task re-read of every zip on the workers' import path.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``).  On CPython 3.11
each ``zipimporter`` answers by re-reading its archive's whole central
directory, and the workers' path holds ``pyspark.zip``, py4j's zip and the
spark-core jar: 16 importers and ~26,700 entries, ~0.25 s of CPU a task.
Here an importer re-reads only when its archive's stat stamp differs from
the one it last read, so a zip replaced between tasks (``addPyFile``) is still
seen, and a missing archive is handled as before.  The daemon primes the
stamps once before it forks workers.

``session.get_spark`` names this module in ``spark.python.daemon.module``;
it must be importable wherever the session's workers run, as the engine's
task functions already must be.
"""

import importlib
import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read when the
    archive's (mtime, size, inode) is the one this importer last read."""
    try:
        st = os.stat(self.archive)
    except OSError:
        stamp = None
    else:
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        if stamp == getattr(self, "_h2h_stamp", None):
            return
    _stock_invalidate(self)
    self._h2h_stamp = stamp


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    import pyspark.daemon

    importlib.invalidate_caches()
    pyspark.daemon.manager()


if __name__ == "__main__":
    # Run under the import name, so the installed method names this module.
    from h2h_spark.worker_daemon import main as _main

    _main()
