"""Python worker daemon for every `get_spark` session.

Spark forks each Python worker (pandas UDFs, mapInPandas, RDD lambdas)
from one daemon process, started as `python -m <spark.python.daemon.module>`.
This module patches the import system and then hands over to pyspark's
own daemon, so every forked worker inherits the patch.

pyspark calls `importlib.invalidate_caches()` at the start of every task
(`worker_util.setup_spark_files`). Before CPython 3.13,
`zipimporter.invalidate_caches` re-reads the archive's whole central
directory, and a worker holds one zipimporter per imported subpackage of
pyspark.zip, plus importers for py4j's zip and the spark-core jar on the
worker PYTHONPATH: 120-290 ms of every task on a 4-core box. The patched
method re-reads an archive only when its (inode, size, mtime) changed
since that importer last read it. CPython 3.13 made the stdlib method
lazy, which has the same effect.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """`zipimporter.invalidate_caches` that skips an unchanged archive.
    An archive that cannot be stat'ed is handed to the stdlib method,
    which drops it from the cache."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    # `python -m` imported this package into the daemon. Forked workers
    # must resolve it through their own sys.path instead, where archives
    # shipped with addPyFile come first.
    for name in [n for n in sys.modules if n.split(".")[0] == "refine_spark"]:
        del sys.modules[name]
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
