"""Python task start-up probe: the fixed cost of one Python task.

Times no-op ``mapInPandas`` jobs of 4, 32 and 64 tasks (one task per
partition, no shuffle, a ``noop`` write) in a ``get_spark`` session at
``local[4]``: one unmeasured rep per size, then 3 measured reps.  The
fold does no work, so each job's wall is Spark's per-task cost for Python
tasks: ``slot_s_per_task`` is the median wall times the 4 slots over the
task count.

    python scripts/probe_python_tasks.py

Prints one JSON line to stdout and writes nothing to the repo.
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SLOTS = 4
SIZES = (4, 32, 64)
REPS = 3


def _noop(batches):
    yield from batches


def main() -> None:
    from apt_bron_re_spark.session import get_spark

    spark = get_spark("probe_python_tasks", master=f"local[{SLOTS}]",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    out = {"slots": SLOTS,
           "daemon": spark.sparkContext.getConf().get(
               "spark.python.daemon.module", "pyspark.daemon")}
    try:
        for tasks in SIZES:
            job = (spark.range(tasks * 16, numPartitions=tasks)
                   .mapInPandas(_noop, "id long")
                   .write.format("noop").mode("overwrite"))
            walls = []
            for rep in range(REPS + 1):
                t0 = time.perf_counter()
                job.save()
                if rep:
                    walls.append(round(time.perf_counter() - t0, 3))
            wall = statistics.median(walls)
            out[f"tasks_{tasks}"] = {
                "wall_s": walls, "median_s": wall,
                "slot_s_per_task": round(wall * SLOTS / tasks, 4)}
    finally:
        spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
