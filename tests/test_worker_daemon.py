"""The session's Python workers run without Spark's archives on their path.

pyspark's per-task ``importlib.invalidate_caches()`` makes every cached
zip importer re-read its archive, so a worker whose path holds
``pyspark.zip``, the py4j zip or the spark-core jar pays for them on every
task (``apt_bron_re_spark/worker_daemon.py``).
"""

import pyspark


def test_worker_path_holds_no_archive(spark):
    """One task reports its worker's import state: no ``sys.path`` entry
    is a file, no zip importer is cached, and pyspark is the driver's."""

    def worker_state(batches):
        import os
        import sys
        import zipimport

        import pandas as pd
        import pyspark as worker_pyspark

        for _ in batches:
            pass
        yield pd.DataFrame({
            "files": [[p for p in sys.path if os.path.isfile(p)]],
            "zip_importers": [[k for k, v in sys.path_importer_cache.items()
                               if isinstance(v, zipimport.zipimporter)]],
            "pyspark_file": [worker_pyspark.__file__]})

    (state,) = (spark.range(1, numPartitions=1)
                .mapInPandas(worker_state, "files array<string>, "
                             "zip_importers array<string>, "
                             "pyspark_file string")
                .collect())
    assert state["files"] == []
    assert state["zip_importers"] == []
    assert state["pyspark_file"] == pyspark.__file__
