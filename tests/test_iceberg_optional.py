"""S7/S8 Iceberg proper — exercised when an Iceberg runtime is present,
skipped (not silently dropped) when it is not.

The stage tables ship as parquet, laid out as the plans/pipeline.py module
docstring states: batch tables flat with a ``pbucket = pmod(murmur3(url),
N)`` column, triples by pred, chunk tables by their chunk key.  With
``Pipeline(catalog=...)`` they are Iceberg tables with the same layout.
Three tiers:

* ``test_iceberg_bucket_partitioned_write_or_skip`` — the minimal
  ``writeTo(...).partitionedBy(bucket(...))`` swap against whatever
  session exists (skips when no Iceberg catalog/jars are configured);
* ``test_iceberg_chunk_tables_partition_by_chunk_key`` — runs without
  Iceberg: the writer calls a chunk write makes (recorded on a stand-in
  DataFrame), pinning the partition spec ``overwritePartitions`` relies on;
* ``test_iceberg_full_pipeline_or_skip`` — the FULL 5-stage pipeline with
  ``Pipeline(catalog="ice.db")`` (every stage table an Iceberg table,
  incremental chunks via ``overwritePartitions``), run in a subprocess
  JVM with the jar on the classpath.  Set ``SPARK_ICEBERG_JAR`` to the
  iceberg-spark-runtime jar path to enable; the sandbox ships no jars,
  so it skips with an explicit reason rather than pretending coverage.
"""

import os
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions.partitioning import bucket

from apt_bron_re_spark.plans.pipeline import Pipeline


def test_iceberg_bucket_partitioned_write_or_skip(spark, tmp_path):
    df = spark.createDataFrame(
        [(f"https://x/{i}", f"t{i}") for i in range(20)],
        "url string, text string")
    try:
        (df.writeTo("ice.db.docs_stage")
         .using("iceberg")
         .partitionedBy(bucket(8, F.col("url")))
         .createOrReplace())
    except Exception as exc:  # no Iceberg catalog/jars in this sandbox
        msg = str(exc).lower()
        assert ("catalog" in msg or "iceberg" in msg
                or "not found" in msg), f"unexpected failure: {exc}"
        pytest.skip(f"Iceberg runtime unavailable: {type(exc).__name__}")

    got = spark.read.table("ice.db.docs_stage")
    assert got.count() == 20


class _Writer:
    """Stands in for ``DataFrame.writeTo(...)``; records every call."""

    def __init__(self, calls: list, table: str) -> None:
        self.calls = calls
        calls.append(("writeTo", table))

    def using(self, fmt):
        self.calls.append(("using", fmt))
        return self

    def partitionedBy(self, *cols):
        self.calls.append(("partitionedBy", [str(c) for c in cols]))
        return self

    def createOrReplace(self):
        self.calls.append(("createOrReplace",))

    def overwritePartitions(self):
        self.calls.append(("overwritePartitions",))


class _Frame:
    def __init__(self) -> None:
        self.calls: list = []

    def writeTo(self, table):
        return _Writer(self.calls, table)


def test_iceberg_chunk_tables_partition_by_chunk_key(spark, layer_map,
                                                     tmp_path):
    """A chunk is a set of pbucket values, and later chunks replace their
    partitions with ``overwritePartitions``.  That is exact only if the
    table is partitioned by the chunk key itself: under Iceberg's
    ``bucket(n, url)`` (a different hash from Spark's pmod(hash(url), n))
    one chunk's rows touch most partitions, and each later chunk would
    delete earlier chunks' rows.  The first chunk of a fresh stage
    replaces the table whole with that spec, so a table left by a batch
    run or an earlier fingerprint keeps no rows."""
    pipe = Pipeline(spark, layer_map, tmp_path, n_buckets=8,
                    catalog="ice.db")
    for col in ("pbucket", "chunk_key"):
        df = _Frame()
        pipe._write(df, "t", [col])
        assert df.calls == [("writeTo", "ice.db.t"), ("using", "iceberg"),
                            ("partitionedBy", [str(F.col(col))]),
                            ("createOrReplace",)]
    df = _Frame()
    pipe._write(df, "t", ["pbucket"], dynamic=True)
    assert df.calls == [("writeTo", "ice.db.t"), ("overwritePartitions",)]


_FULL_PIPELINE_RUNNER = r"""
import json, os, sys, tempfile
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
wh = tempfile.mkdtemp(prefix="ice_wh_")
spark = (SparkSession.builder.master("local[4]")
    .appName("iceberg_e2e")
    .config("spark.jars", os.environ["SPARK_ICEBERG_JAR"])
    .config("spark.sql.extensions",
            "org.apache.iceberg.spark.extensions"
            ".IcebergSparkSessionExtensions")
    .config("spark.sql.catalog.ice",
            "org.apache.iceberg.spark.SparkCatalog")
    .config("spark.sql.catalog.ice.type", "hadoop")
    .config("spark.sql.catalog.ice.warehouse", wh)
    .config("spark.sql.shuffle.partitions", "8")
    .getOrCreate())
spark.sql("CREATE NAMESPACE IF NOT EXISTS ice.db")
from apt_bron_re_spark.catalog.synthetic import build_layer_map
from apt_bron_re_spark.plans.pipeline import Pipeline
from apt_bron_re_spark.sources.pages import pages_df

pages = pages_df(spark, 60)
lm = build_layer_map()
# parquet truth
pq = Pipeline(spark, lm, tempfile.mkdtemp(prefix="ice_pq_"), n_buckets=8)
want = sorted((r.subj, r.pred, r.obj, tuple(r.sources), r.n_sources,
               r.justification, r.score)
              for r in pq.run(pages, resume=False).collect())
# full Iceberg-backed run: batch stages + incremental mention chunks
ice = Pipeline(spark, lm, tempfile.mkdtemp(prefix="ice_st_"), n_buckets=8,
               catalog="ice.db")
assert ice.run_mention_incremental(pages, n_chunks=2)
assert ice.run_link_incremental(n_chunks=2)
assert ice.run_materialize_incremental(n_chunks=2)
got = sorted((r.subj, r.pred, r.obj, tuple(r.sources), r.n_sources,
              r.justification, r.score)
             for r in ice.triples().collect())
assert got == want, "Iceberg-backed pipeline diverged from parquet"
print("ICEBERG_E2E_OK", len(got))
"""


def test_iceberg_full_pipeline_or_skip():
    jar = os.environ.get("SPARK_ICEBERG_JAR")
    if not jar or not Path(jar).exists():
        pytest.skip("SPARK_ICEBERG_JAR not set — full Iceberg pipeline "
                    "needs the iceberg-spark-runtime jar")
    repo = str(Path(__file__).resolve().parents[1])
    code = _FULL_PIPELINE_RUNNER.format(repo=repo)
    out = subprocess.run([sys.executable, "-c", code], env=os.environ,
                         capture_output=True, text=True, timeout=1200)
    assert "ICEBERG_E2E_OK" in out.stdout, out.stderr[-3000:]
