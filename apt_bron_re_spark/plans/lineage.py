"""Per-stage, per-partition lineage + metrics — the resume mechanism.

The reference resumes by skipping files whose outputs already exist
(convert_reports.py:30-32, download_aptnotes.py:42-43 — S5 in SURVEY.md).
The rebuild replaces that with a ``_lineage`` table: every completed stage
appends one row per output bucket

    (stage, fingerprint, bucket, n_rows, wall_s, completed_at)

plus a stage-summary row (bucket = -1).  A stage re-runs only when no
summary row matches its input fingerprint — re-running is always safe
because stage outputs are idempotent overwrites of a deterministic
function of their inputs.

Fingerprints are content-stable hashes of the stage's configuration and
input fingerprint chain, so changing the catalog, the corpus, or an
upstream stage invalidates exactly the downstream stages.
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_SCHEMA = ("stage string, fingerprint string, bucket int, "
                  "n_rows long, wall_s double, completed_at double")


def fingerprint(*parts) -> str:
    """Stable hash of arbitrary JSON-serializable parts."""
    payload = json.dumps(parts, sort_keys=True, default=str)
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


class LineageLog:
    def __init__(self, spark: SparkSession, base_dir: str | Path) -> None:
        self.spark = spark
        self.path = str(Path(base_dir) / "_lineage")
        # appends are serialized: the pipeline records stages from
        # CONCURRENT driver threads (residual write, canon overlap);
        # unique filenames make the files conflict-free, the lock keeps
        # the mkdir+write critical section single-threaded
        self._append_lock = threading.Lock()

    def _append(self, rows: list[tuple]) -> None:
        """Driver-side parquet append (round-6): appending a handful of
        lineage rows as a Spark job (createDataFrame -> coalesce(1) ->
        write) costs a full job round-trip — measured 1-6 s EACH when
        other stages hold the task slots, and the canon record alone
        kept materialize waiting ~6.5 s at sf0.1.  The rows are
        driver-sized by construction (<= n_buckets + 1), so write them
        with pyarrow directly into the table dir under a unique name:
        same column names/types as LINEAGE_SCHEMA, so Spark reads the
        mixed dir identically, at ~ms cost and no scheduler contention.
        The lock keeps concurrent recorder threads from colliding on
        anything shared driver-side; unique filenames make the files
        themselves conflict-free."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pa.schema([
            ("stage", pa.string()),
            ("fingerprint", pa.string()),
            ("bucket", pa.int32()),
            ("n_rows", pa.int64()),
            ("wall_s", pa.float64()),
            ("completed_at", pa.float64()),
        ])
        table = pa.table({
            "stage": [r[0] for r in rows],
            "fingerprint": [r[1] for r in rows],
            "bucket": [r[2] for r in rows],
            "n_rows": [r[3] for r in rows],
            "wall_s": [float(r[4]) for r in rows],
            "completed_at": [float(r[5]) for r in rows],
        }, schema=schema)
        with self._append_lock:
            Path(self.path).mkdir(parents=True, exist_ok=True)
            fname = (f"part-lineage-{os.getpid()}-{time.time_ns()}"
                     ".snappy.parquet")
            # kill-safe append (round-7, ADVICE r6): write under a
            # dot-prefixed name (Spark/parquet readers ignore '.'/'_'
            # files) and rename into place — a kill mid-write leaves an
            # invisible temp instead of a truncated visible part file
            # that would poison every later _read() and silently disable
            # resume.  rename() is atomic within the directory.
            tmp = Path(self.path) / f".{fname}.tmp"
            pq.write_table(table, str(tmp), compression="snappy")
            os.rename(tmp, Path(self.path) / fname)

    def _read(self) -> DataFrame | None:
        try:
            return self.spark.read.parquet(self.path)
        except Exception:
            return None

    def is_complete(self, stage: str, fp: str) -> bool:
        df = self._read()
        if df is None:
            return False
        return (df.filter((F.col("stage") == stage)
                          & (F.col("fingerprint") == fp)
                          & (F.col("bucket") == -1)).limit(1).count() > 0)

    def record(self, stage: str, fp: str, out: DataFrame,
               wall_s: float) -> None:
        """Append per-pbucket row counts + the stage summary row."""
        now = time.time()
        rows = []
        if "pbucket" in out.columns:
            per_bucket = (out.groupBy("pbucket")
                          .agg(F.count("*").alias("n")).collect())
            rows = [(stage, fp, int(r["pbucket"]), int(r["n"]), wall_s, now)
                    for r in per_bucket]
        total = sum(r[3] for r in rows) if rows else out.count()
        rows.append((stage, fp, -1, int(total), wall_s, now))
        self._append(rows)

    def completed_buckets(self, stage: str, fp: str) -> set[int]:
        """Buckets with a lineage row for this (stage, fingerprint) —
        the per-partition checkpoint set used for mid-stage resume."""
        df = self._read()
        if df is None:
            return set()
        rows = (df.filter((F.col("stage") == stage)
                          & (F.col("fingerprint") == fp)
                          & (F.col("bucket") >= 0))
                .select("bucket").distinct().collect())
        return {r.bucket for r in rows}

    def record_buckets(self, stage: str, fp: str, bucket_counts: dict[int, int],
                       wall_s: float) -> None:
        """Append per-bucket rows only (no summary row) — one chunk of an
        incrementally-executed stage."""
        now = time.time()
        rows = [(stage, fp, int(b), int(n), wall_s, now)
                for b, n in bucket_counts.items()]
        self._append(rows)

    def record_summary(self, stage: str, fp: str, n_rows: int,
                       wall_s: float) -> None:
        now = time.time()
        self._append([(stage, fp, -1, int(n_rows), wall_s, now)])

    def metrics(self) -> DataFrame | None:
        return self._read()
