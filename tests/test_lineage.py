"""LineageLog unit tests — the resume mechanism's ledger.

The driver appends the ledger with pyarrow and reads it back with
pyarrow; ``metrics()`` hands the rows to Spark.  These tests pin the
contract that makes that safe: the rows read back with EXACTLY the
LINEAGE_SCHEMA types, mixed dirs (Spark- and pyarrow-written files) read
as one table, a killed append's temp file is invisible, a corrupt part
file raises, and concurrent recorder threads never lose rows.
"""

from __future__ import annotations

import threading

import pytest

from apt_bron_re_spark.plans.lineage import LINEAGE_SCHEMA, LineageLog


def test_pyarrow_append_reads_back_with_exact_schema(spark, tmp_path):
    log = LineageLog(spark, tmp_path)
    log.record_buckets("stage_a", "fp1", {0: 10, 1: 0}, 1.5)
    log.record("stage_a", "fp1", 10, 2.0)
    df = log.metrics()
    # exact Spark-side types, not just readability
    want = spark.createDataFrame([], LINEAGE_SCHEMA).schema
    assert df.schema == want
    rows = {(r.stage, r.bucket): r.n_rows for r in df.collect()}
    assert rows[("stage_a", 0)] == 10
    assert rows[("stage_a", 1)] == 0
    assert rows[("stage_a", -1)] == 10
    assert log.is_complete("stage_a", "fp1")
    assert not log.is_complete("stage_a", "other_fp")
    assert set(log.bucket_counts("stage_a", "fp1")) == {0, 1}


def test_mixed_spark_and_pyarrow_files_read_as_one_table(spark, tmp_path):
    log = LineageLog(spark, tmp_path)
    # a Spark-written file first (the pre-round-6 layout a resumed
    # base_dir may still hold), then a pyarrow append into the same dir
    (spark.createDataFrame([("old", "fp0", -1, 7, 0.1, 0.2)],
                           LINEAGE_SCHEMA)
     .coalesce(1).write.mode("append").parquet(log.path))
    log.record("new", "fp1", 3, 0.3)
    df = log.metrics()
    got = {(r.stage, r.fingerprint): r.n_rows for r in df.collect()}
    assert got[("old", "fp0")] == 7
    assert got[("new", "fp1")] == 3
    assert log.is_complete("old", "fp0") and log.is_complete("new", "fp1")


def test_concurrent_recorders_lose_no_rows(spark, tmp_path):
    log = LineageLog(spark, tmp_path)
    n_threads, per_thread = 8, 5

    def rec(t: int) -> None:
        for i in range(per_thread):
            log.record(f"s{t}", f"fp{i}", t * 100 + i, 0.0)

    threads = [threading.Thread(target=rec, args=(t,))
               for t in range(n_threads)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert log.metrics().count() == n_threads * per_thread
    for t in range(n_threads):
        for i in range(per_thread):
            assert log.is_complete(f"s{t}", f"fp{i}")


def test_read_missing_or_temp_only_ledger_is_empty(spark, tmp_path):
    """No ``_lineage`` dir means nothing was recorded; a dir holding only
    the dot-prefixed temp file of a killed append reads as an empty
    ledger with the exact schema."""
    log = LineageLog(spark, tmp_path)
    assert log.metrics() is None
    assert not log.is_complete("s", "fp")
    assert set(log.bucket_counts("s", "fp")) == set()

    (tmp_path / "_lineage").mkdir()
    (tmp_path / "_lineage" / ".part-lineage-1-2.snappy.parquet.tmp"
     ).write_bytes(b"PAR1 truncated")
    df = log.metrics()
    assert df.schema == spark.createDataFrame([], LINEAGE_SCHEMA).schema
    assert df.count() == 0
    assert not log.is_complete("s", "fp")
    log.record("s", "fp", 3, 0.1)
    assert log.is_complete("s", "fp")


def test_corrupt_ledger_part_file_raises(spark, tmp_path):
    """A corrupt visible part file must fail the read, not silently turn
    resume off (every stage would re-run)."""
    log = LineageLog(spark, tmp_path)
    (tmp_path / "_lineage").mkdir()
    (tmp_path / "_lineage" / "part-lineage-1-2.snappy.parquet"
     ).write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet|corrupt|footer"):
        log.is_complete("s", "fp")
