"""Streaming KG construction — stages 2-5 over arriving pages.

The reference is a pure batch pipeline (SURVEY.md §1.3), but a
Common-Crawl-scale deployment ingests pages continuously.  Both streaming
execution shapes run ONE row-local kernel, ``stream_evidence_pairs``, and
that kernel runs the batch per-url folds one after another: the mention
stage's row builder (``mention.mention_rows``, extract fused), the link
kernel's fold (``linking._link_urls``: ``RowLinker`` L2-L6 against the
FROZEN catalog), the evidence rule (``materialize.link_evidence``, canon
ids from the map collected once per stream query) and the pair kernel's
fold (``materialize._pair_urls``).
So a failed page, a repeated url and a link-only key follow the batch
rules by construction.  Only the plan differs: the batch kernels'
``linking.url_local`` sorts each partition by url, and Spark rejects a
sort on a streaming DataFrame ("Sorting is not supported on streaming
DataFrames"), so the kernel is ``repartition(url)`` -> ``mapInPandas``
and each task sorts its own rows (a stable pandas sort) once its input
is drained.  No BM25 runs here: evidence scores never read it.

1. **Exact micro-batch pipeline** (``run_kg_stream``): foreachBatch runs
   the kernel on every micro-batch, then the salted partial triple
   aggregate (operators/materialize.py ``partial_triples_of_pairs``), and
   appends it partitioned by ``batch_id``.  A micro-batch is four Spark
   jobs: the url exchange, the two exchanges of the salted aggregate (one
   per phase) and the write.  The partials merge associatively
   (``merge_partial_triples`` — correct because a page's url lives in
   exactly one micro-batch, the same url-disjointness that makes the
   batch incremental chunks exact), so ``merged_triples`` equals the
   single-shot batch pipeline EXACTLY (pytest-pinned).  Idempotence: a
   foreachBatch replay after failure reuses the same ``batch_id``;
   dynamic partition overwrite rewrites that partition instead of
   appending duplicates — the same exactly-once mechanism as
   plans/pipeline.py ``_write_buckets``.

2. **Live triple view** (``stream_evidence_pairs`` + ``stream_triples_live``):
   a fully streaming stateful rollup.  ``applyInPandasWithState`` keyed by
   (subj, pred, obj) maintains BOUNDED per-key state over the kernel's
   pairs: exact distinct-source count, the k lexicographically smallest
   source urls, the best-scored justification, and the max score — the
   same merge algebra as the batch salted aggregation, so on a
   url-disjoint stream the final emitted row per key equals the batch
   triple row exactly (pytest-pinned), links included.  Urls must arrive
   in exactly one micro-batch; proven violations are surfaced per key as
   ``replays_detected`` (see stream_triples_live).

Scale notes: state per key is O(MAX_SOURCES) regardless of how many pages
mention a hub edge — the streaming twin of the batch salted two-phase
k-smallest design.  The pairing mapInPandas carries the compiled catalog +
canon map in the UDF closure (catalog-sized, broadcast semantics).

Sink note: the live view emits in UPDATE mode, so its sink must support
updates AND checkpoint recovery — foreachBatch (upsert into a key-value /
Iceberg MERGE target) in production.  The memory sink accepts update mode
but cannot recover from a checkpoint (restart-with-state verified against
a foreachBatch sink: counts carry across restarts exactly).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..catalog.build import compile_catalog
from ..config import LANG
from ..operators import materialize
from ..operators.canonicalize import canonical_map, collect_canon
from ..operators.doc_core import NerTagger
from ..operators.linking import RowLinker, _link_urls
from ..operators.mention import MENTION_SCHEMA, mention_rows

TRIPLE_SCHEMA = T.StructType([
    T.StructField("subj", T.StringType(), False),
    T.StructField("pred", T.StringType(), False),
    T.StructField("obj", T.StringType(), False),
    T.StructField("sources", T.ArrayType(T.StringType()), False),
    T.StructField("n_sources", T.LongType(), False),
    T.StructField("justification", T.StringType(), True),
    T.StructField("score", T.DoubleType(), False),
    # violations of the one-batch-per-url contract that the bounded state
    # could PROVE (replayed url found in the kept k-smallest sample) — a
    # nonzero value means the source is replaying urls across triggers
    T.StructField("replays_detected", T.LongType(), False),
])

_STATE_SCHEMA = T.StructType([
    T.StructField("n", T.LongType()),
    T.StructField("sources", T.ArrayType(T.StringType())),
    T.StructField("score", T.DoubleType()),
    T.StructField("bj_s", T.DoubleType()),
    T.StructField("bj_has", T.BooleanType()),
    T.StructField("bj_url", T.StringType()),
    T.StructField("bj", T.StringType()),
    T.StructField("replays", T.LongType()),
])


def canon_as_dict(spark: SparkSession,
                  layer_map: dict[str, list[dict]]) -> dict:
    """{(label, original_id): canon_id} — the catalog-sized canonical map
    (stage 4 output), collected once for closure broadcast."""
    return collect_canon(canonical_map(spark, layer_map))


def stream_evidence_pairs(pages_stream: DataFrame,
                          layer_map: dict[str, list[dict]],
                          canon_map: dict) -> DataFrame:
    """pages stream -> ``materialize.PAIR_SCHEMA`` rows, at most one per
    (triple, url): the kernel of both shapes, the batch folds in one
    ``mapInPandas`` (module docstring; works identically on a batch
    DataFrame).  One ``repartition(url)`` puts every page row of a url in
    one task, which holds its partition's mention rows until its input is
    drained, then sorts them by url and folds them url by url.  A page
    that fails extraction becomes an error row, dropped before linking as
    the batch link stage drops it."""
    catalog = compile_catalog(layer_map)
    tagger = NerTagger(layer_map)
    linker = RowLinker(layer_map)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = pd.DataFrame(
            [row for pdf in batches
             for row in mention_rows(pdf, catalog, tagger, from_html=True)],
            columns=MENTION_SCHEMA.names)
        rows = (rows[rows["rec_type"] != "error"]
                .sort_values("url", kind="stable").assign(bm25_key=None))
        yield materialize._pair_urls(materialize.link_evidence(
            _link_urls(linker, rows), canon_map))

    return (pages_stream.filter(F.col("lang") == LANG)
            .select("url", "html").repartition("url")
            .mapInPandas(run, materialize.PAIR_SCHEMA))


def stream_triples_live(pairs: DataFrame) -> DataFrame:
    """Stateful streaming rollup of evidence pairs into live triples.

    Keyed by (subj, pred, obj); per-key state is bounded: (exact distinct
    source count, k-smallest source urls, max score, best justification).
    Assumes each url arrives in exactly one micro-batch (file-drop / log
    semantics — the same url-disjointness the batch incremental chunks
    rely on).  Page rows sharing a url *within* a micro-batch are merged
    by ``stream_evidence_pairs`` before pairing, as in batch, so each url
    reaches a key here at most once per trigger.
    Emits the updated triple row per key per trigger (update mode)."""

    def update(key: tuple, pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            n, sources, score, bj_s, bj_has, bj_url, bj, replays = state.get
            sources = list(sources)
        else:
            n, sources, score = 0, [], 0.0
            bj_s, bj_has, bj_url, bj = float("-inf"), False, "", None
            replays = 0

        prior = set(sources)
        seen_urls: set[str] = set()
        for pdf in pdfs:
            for url, s, j in zip(pdf["url"], pdf["pair_score"],
                                 pdf["justification"]):
                j = None if pd.isna(j) else j
                s = float(s)
                if url not in seen_urls:
                    seen_urls.add(url)
                    if url in prior:
                        # PROVEN replay of a url counted in an earlier
                        # trigger (it survives in the k-smallest sample):
                        # surface the contract violation, do not recount.
                        # Replays of urls OUTSIDE the sample are
                        # undetectable with bounded state (documented).
                        replays += 1
                    else:
                        n += 1
                score = max(score, s)
                # cross-url best-justification order — the streaming twin
                # of the best-evidence key struct(s, has_s, url) of
                # materialize._per_salt (subj_label already folded
                # per url by materialize.doc_pairs)
                if (s, j is not None, url) > (bj_s, bj_has, bj_url):
                    bj_s, bj_has, bj_url, bj = s, j is not None, url, j
            sources = sorted(set(sources) | seen_urls)[:materialize.MAX_SOURCES]

        state.update((n, sources, score, bj_s, bj_has, bj_url, bj, replays))
        subj, pred, obj = key
        yield pd.DataFrame([{
            "subj": subj, "pred": pred, "obj": obj,
            "sources": sources, "n_sources": n,
            "justification": bj, "score": round(score, 4),
            "replays_detected": replays,
        }])

    return pairs.groupBy("subj", "pred", "obj").applyInPandasWithState(
        update, TRIPLE_SCHEMA, _STATE_SCHEMA, "update",
        GroupStateTimeout.NoTimeout)


# --------------------------------------------------------------------------
# Shape 1: exact micro-batch pipeline (stages 2-5 in foreachBatch)
# --------------------------------------------------------------------------

def batch_partials(pages_batch: DataFrame,
                   layer_map: dict[str, list[dict]],
                   canon_map: dict) -> DataFrame:
    """The PARTIAL triple aggregate of one micro-batch of pages: the
    row-local pairing kernel against the frozen catalog and ``canon_map``
    (``canon_as_dict``), then ``materialize.partial_triples_of_pairs``."""
    pairs = stream_evidence_pairs(pages_batch, layer_map, canon_map)
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
    # hashing it funnels every row into ONE task — the serial-tail class
    # pipeline._write pins against.  partitionBy alone yields the one dir
    # per batch; the partial aggregate's existing distribution sets the
    # task count.
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
    identical output to the single-shot batch materialize (tested)."""
    partials = spark.read.parquet(out_path).drop("batch_id")
    return materialize.merge_partial_triples(partials)
