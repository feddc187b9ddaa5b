"""Per-stage, per-partition lineage + metrics — the resume mechanism.

The reference resumes by skipping files whose outputs already exist
(convert_reports.py:30-32, download_aptnotes.py:42-43 — S5 in SURVEY.md).
The rebuild replaces that with a ``_lineage`` table of rows

    (stage, fingerprint, bucket, n_rows, wall_s, completed_at)

A completed stage appends one summary row (bucket = -1); a chunked
(``run_*_incremental``) stage also appends one row per bucket of each
chunk, zero-row buckets included, which is the set a resumed run skips.
Every ``n_rows`` is counted by the write that produced the table (a
``DataFrame.observe`` on it).  The driver appends the rows with pyarrow
and reads them back with pyarrow, so neither recording nor a resume's
checks (``is_complete``, ``bucket_counts``) start a Spark job, as the
reference's existence check starts none.  A stage
re-runs only when no summary row matches its input fingerprint —
re-running is always safe because stage outputs are idempotent
overwrites of a deterministic function of their inputs.

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

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

# The ledger's columns: ``ARROW_SCHEMA`` is what the driver writes and
# reads, ``LINEAGE_SCHEMA`` the same columns as ``metrics()`` hands them
# to Spark.
ARROW_SCHEMA = pa.schema([
    ("stage", pa.string()), ("fingerprint", pa.string()),
    ("bucket", pa.int32()), ("n_rows", pa.int64()),
    ("wall_s", pa.float64()), ("completed_at", pa.float64())])
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
        # appends are serialized: a pipeline run records from one thread,
        # but a log may be shared by recorders on several driver threads;
        # unique filenames make the files conflict-free, the lock keeps
        # the mkdir+write critical section single-threaded
        self._append_lock = threading.Lock()

    def _append(self, rows: list[tuple]) -> None:
        """Driver-side parquet append: the rows are driver-sized (<=
        n_buckets + 1), so pyarrow writes them straight into the table dir
        under a unique name, at ~ms cost (a Spark job per append took 1-6 s
        when other stages held the task slots)."""
        table = pa.Table.from_pylist(
            [dict(zip(ARROW_SCHEMA.names, r)) for r in rows],
            schema=ARROW_SCHEMA)
        with self._append_lock:
            Path(self.path).mkdir(parents=True, exist_ok=True)
            fname = (f"part-lineage-{os.getpid()}-{time.time_ns()}"
                     ".snappy.parquet")
            # kill-safe append (round-7, ADVICE r6): write under a
            # dot-prefixed name (Spark/parquet readers ignore '.'/'_'
            # files) and rename into place — a kill mid-write leaves an
            # invisible temp instead of a truncated visible part file
            # that would poison every later _rows() and silently disable
            # resume.  rename() is atomic within the directory.
            tmp = Path(self.path) / f".{fname}.tmp"
            pq.write_table(table, str(tmp), compression="snappy")
            os.rename(tmp, Path(self.path) / fname)

    def _rows(self, stage: str | None = None,
              fp: str | None = None) -> list[dict] | None:
        """The ledger's rows (those of ``stage`` and ``fp`` when given),
        read on the driver by pyarrow, so no check of the ledger starts
        a Spark job; None when nothing was ever recorded.  pyarrow skips
        the dot-prefixed temp file of a killed append, so a dir holding
        only that reads as empty; any other read error (a corrupt part
        file) propagates instead of silently disabling resume."""
        if not Path(self.path).exists():
            return None
        rows = pq.read_table(self.path, schema=ARROW_SCHEMA).to_pylist()
        return [r for r in rows if stage is None
                or (r["stage"], r["fingerprint"]) == (stage, fp)]

    def is_complete(self, stage: str, fp: str) -> bool:
        return any(r["bucket"] == -1 for r in self._rows(stage, fp) or ())

    def record(self, stage: str, fp: str, n_rows: int,
               wall_s: float) -> None:
        """Append the stage summary row: the stage is complete."""
        self._append([(stage, fp, -1, int(n_rows), wall_s, time.time())])

    def bucket_counts(self, stage: str, fp: str) -> dict[int, int]:
        """{bucket: n_rows} of the per-bucket rows for this (stage,
        fingerprint) — the per-partition checkpoint of mid-stage resume."""
        return {r["bucket"]: r["n_rows"] for r in self._rows(stage, fp) or ()
                if r["bucket"] >= 0}

    def record_buckets(self, stage: str, fp: str, bucket_counts: dict[int, int],
                       wall_s: float) -> None:
        """Append per-bucket rows only (no summary row) — one chunk of an
        incrementally-executed stage."""
        now = time.time()
        rows = [(stage, fp, int(b), int(n), wall_s, now)
                for b, n in bucket_counts.items()]
        self._append(rows)

    def metrics(self) -> DataFrame | None:
        """The whole ledger as a Spark DataFrame (a local relation of the
        driver-read rows), or None when nothing was ever recorded."""
        rows = self._rows()
        if rows is None:
            return None
        return self.spark.createDataFrame(
            [tuple(r.values()) for r in rows], LINEAGE_SCHEMA)
