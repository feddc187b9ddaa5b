"""Streaming KG construction — stages 2-5 over arriving pages.

The reference is a pure batch pipeline (SURVEY.md §1.3), but a
Common-Crawl-scale deployment ingests pages continuously.  The stream
runs one shape, the exact micro-batch pipeline (``run_kg_stream``):
foreachBatch runs ``kg_batch_step`` on every micro-batch.  Its kernel
(``batch_partials``) runs the batch per-url folds one after another: the
mention stage's row builder (``mention.mention_rows``, extract fused),
the link kernel's fold (``linking._link_urls``: ``RowLinker`` L2-L6
against the FROZEN catalog), the evidence rule
(``materialize.link_evidence``, canon ids from the map collected once per
stream query) and the pair kernel's fold (``materialize._pair_urls``).
So a failed page, a repeated url and a link-only key follow the batch
rules by construction.  The plan is the batch kernels' too,
``linking.url_local``: one url exchange, each partition sorted by url
and streamed url by url (``linking.complete_urls``), so a task holds one
Arrow batch of complete urls, never its whole partition.  The sort is
legal because foreachBatch hands the step a batch DataFrame; Spark
rejects a sort only on a streaming one.  No BM25 runs here: evidence
scores never read it.

The step then runs the salted partial triple aggregate
(operators/materialize.py ``partial_triples_of_pairs``) and appends it
partitioned by ``batch_id``.  A micro-batch is four Spark jobs: the url
exchange, the two exchanges of the salted aggregate (one per phase) and
the write.  The partials merge associatively (``merge_partial_triples``
— correct because a page's url lives in exactly one micro-batch, the
same url-disjointness that makes the batch incremental chunks exact), so
``merged_triples`` equals the single-shot batch pipeline EXACTLY
(pytest-pinned).  Idempotence: a foreachBatch replay after failure
reuses the same ``batch_id``; dynamic partition overwrite rewrites that
partition instead of appending duplicates — the same exactly-once
mechanism as the chunk writes of plans/pipeline.py (``_write`` with
``dynamic``).

Scale notes: the kernel carries the compiled catalog + canon map in the
UDF closure (catalog-sized), which every Python task unpickles again
(loading it once per worker is ROADMAP.md item 2).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog.build import compile_catalog
from ..config import LANG
from ..operators import materialize
from ..operators.canonicalize import collect_canon
from ..operators.doc_core import NerTagger
from ..operators.linking import RowLinker, _link_urls, url_local
from ..operators.mention import mention_rows


def batch_partials(pages_batch: DataFrame,
                   layer_map: dict[str, list[dict]],
                   canon_map: dict) -> DataFrame:
    """The PARTIAL triple aggregate of one micro-batch of pages: the
    kernel (module docstring) against the frozen catalog and
    ``canon_map`` (``collect_canon`` of the canon table) under
    ``linking.url_local``, at most one ``materialize.PAIR_SCHEMA`` row per
    (triple, url), then ``materialize.partial_triples_of_pairs``.  Every
    page of a url is merged before linking; a page that fails extraction
    becomes an error row, dropped before linking as the batch link stage
    drops it."""
    catalog = compile_catalog(layer_map)
    tagger = NerTagger(layer_map)
    linker = RowLinker(layer_map)

    def fold(pages: pd.DataFrame) -> pd.DataFrame:
        rows = mention_rows(pages, catalog, tagger, from_html=True)
        rows = rows[rows["rec_type"] != "error"].assign(bm25_key=None)
        return materialize._pair_urls(materialize.link_evidence(
            _link_urls(linker, rows), canon_map))

    pairs = url_local(
        pages_batch.filter(F.col("lang") == LANG).select("url", "html"),
        None, fold, materialize.PAIR_SCHEMA)
    return materialize.partial_triples_of_pairs(pairs)


def kg_batch_step(pages_batch: DataFrame, batch_id: int,
                  layer_map: dict[str, list[dict]],
                  canon_map: dict, out_path: str) -> None:
    """One exact micro-batch of stages 2-5 (``batch_partials``), appended
    under ``batch_id=<id>`` with dynamic partition overwrite (replaying
    the same batch_id rewrites its partition — exactly-once)."""
    part = (batch_partials(pages_batch, layer_map, canon_map)
            .withColumn("batch_id", F.lit(int(batch_id))))
    # NOT repartition(batch_id): batch_id is constant per micro-batch, so
    # hashing it funnels every row into ONE task (the chunked
    # triples_partial write skips its constant chunk_key hash for the same
    # reason).  partitionBy alone yields the one dir per batch; the
    # partial aggregate's existing distribution sets the task count.
    (part.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("batch_id")
     .parquet(out_path))


def run_kg_stream(pages_stream: DataFrame,
                  layer_map: dict[str, list[dict]],
                  stats: DataFrame, df_table: DataFrame,
                  canon: DataFrame, out_path: str,
                  checkpoint: str,
                  available_now: bool = False):
    """Start the exact micro-batch KG pipeline over a pages stream.
    Returns the StreamingQuery; read the result with ``merged_triples``.

    ``stats`` and ``df_table`` (frozen BM25 globals) are unused: the step
    computes no BM25, since evidence scores never read it.  They stay in
    the signature for callers that pass them by position.  The ``canon``
    table is collected once here, not once per micro-batch."""
    canon_map = collect_canon(canon)

    def step(batch_df: DataFrame, batch_id: int) -> None:
        kg_batch_step(batch_df, batch_id, layer_map, canon_map, out_path)

    writer = (pages_stream.writeStream.foreachBatch(step)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def merged_triples(spark: SparkSession, out_path: str) -> DataFrame:
    """Merge the streamed per-batch partials into final triples —
    identical output to the single-shot batch materialize (tested).  The
    partials are read with their schema (no Spark job), so a stream whose
    micro-batches wrote no row merges to no triples, and a stream that ran
    no micro-batch (``out_path`` never written) merges none either.
    Whether ``out_path`` exists is asked of the Hadoop filesystem Spark
    writes through, so a URI path (``file://``, ``hdfs://``) is found."""
    schema = materialize.partial_triples_of_pairs(spark.createDataFrame(
        [], materialize.PAIR_SCHEMA)).schema.add("batch_id", T.IntegerType())
    path = spark._jvm.org.apache.hadoop.fs.Path(out_path)
    written = path.getFileSystem(
        spark._jsparkSession.sessionState().newHadoopConf()).exists(path)
    partials = (spark.read.schema(schema).parquet(out_path) if written
                else spark.createDataFrame([], schema))
    return materialize.merge_partial_triples(partials.drop("batch_id"))
