"""Python worker daemon of the engine's sessions.

``session.get_spark`` sets ``spark.python.daemon.module`` to this
module, so Spark starts it as ``python -m wrds2pg_spark.pydaemon
pyspark.worker`` and ``pyspark.daemon`` still takes the worker module
from ``sys.argv``.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task, so that files added with ``addPyFile`` become importable.  Before
CPython 3.13 that makes every zipimporter re-read its archive's whole
central directory: a dozen importers over ``pyspark.zip`` and two over
the spark-core jar, about 0.24 s of CPU per task before any user code.
Here an archive is re-read only when its (inode, mtime, size) stamp
differs from the one it was last read at, or cannot be taken; the
importers of one archive share that read.  A new archive is a new
``sys.path`` entry with a fresh importer, and directory finders are
untouched.  From 3.13 on the re-read is lazy upstream and this module
only starts the daemon.
"""

import importlib
import os
import sys
import zipimport


def stamp_checked(reread):
    """Wrap ``zipimporter.invalidate_caches`` (``reread``) so that an
    archive is re-read only when it changed since its last read."""
    directories = {}  # archive -> (stamp, files) of its last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        last = directories.get(self.archive)
        if stamp is not None and last is not None and last[0] == stamp:
            self._files = last[1]
            return
        reread(self)
        directories[self.archive] = (stamp, self._files)
    return invalidate_caches


if __name__ == "__main__":
    from pyspark.daemon import manager

    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = stamp_checked(
            zipimport.zipimporter.invalidate_caches)
        # Read each archive once here: the workers forked below inherit
        # the stamps, so a fresh worker's first task reads nothing.
        importlib.invalidate_caches()
    manager()
