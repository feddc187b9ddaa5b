"""The sessions' Python worker daemon: pyspark's own daemon
(``pyspark.daemon.manager``), started without Spark's archives on the path.

pyspark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every task.  Under Python
3.11 that makes every cached ``zipimporter`` re-read its archive's whole
central directory.  Spark puts three archives on the worker's PYTHONPATH:
``pyspark.zip`` (about 1,300 entries), the py4j source zip and the
spark-core jar (about 5,400 entries, no Python file).  Re-reading them was
most of a no-op task's cost.

When ``pyspark`` and ``py4j`` also resolve from a directory on the path (an
installed pyspark), every archive entry is dropped from ``sys.path`` and
every zip importer from ``sys.path_importer_cache`` before
``pyspark.daemon`` is imported; forked workers inherit the clean path.
Otherwise the path is left as Spark built it.
"""

import os
import sys
import zipimport
from importlib.machinery import PathFinder


def _drop_archives() -> None:
    dirs = [p for p in sys.path if not os.path.isfile(p)]
    if not all(PathFinder.find_spec(m, dirs) for m in ("pyspark", "py4j")):
        return
    sys.path[:] = dirs
    for key, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    _drop_archives()
    from pyspark import daemon

    daemon.manager()
