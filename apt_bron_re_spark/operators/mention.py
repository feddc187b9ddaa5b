"""Stage 2 — mention detection: pages (extraction fused, as the pipeline
runs it) or docs -> long mentions + NER-residue rows.

M1-M8 + N4-N6 + A1 + A2 in SURVEY.md, all in ONE ``mapInPandas`` pass per
document (the per-doc logic is ``doc_core.process_document``, a faithful
re-expression of reference basic.py:181-301).  Doing NER scoring and
residue filtering inside the same pass costs zero extra shuffles — the only
wide operation this stage triggers downstream is whatever consumes it.

Output is a single union-shaped DataFrame (``rec_type`` ∈ {doc, mention,
residue, error}) so the stage materializes exactly once; the logical
outputs are cheap filters over the stage table (see plans/pipeline.py).
A ``doc`` row carries the document's BM25 length in ``index``.
``error`` rows carry per-document failures (the reference's catch-and-log,
basic.py:300-301) so one malformed page never fails a task at scale.

Scale notes:
  * the compiled catalog + tagger ride in the UDF closure — built once on
    the driver, but unpickled again in every Python task, not once per
    executor (loading it once per worker is ROADMAP.md item 2);
  * per-task cost is pure dict probing over Arrow batches; batch size is
    bounded by spark.sql.execution.arrow.maxRecordsPerBatch so huge pages
    don't blow batch memory (SURVEY.md §4 item 2);
  * output is a narrow long table — explode-on-write, no per-doc maps.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog.build import CompiledCatalog, compile_catalog
from ..functions.extract_text import extract_text
from .doc_core import NerTagger, process_document

MENTION_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("rec_type", T.StringType(), False),
    T.StructField("category", T.StringType(), True),
    T.StructField("name", T.StringType(), True),
    T.StructField("original_id", T.StringType(), True),
    T.StructField("value", T.StringType(), True),
    T.StructField("index", T.LongType(), True),
    T.StructField("alias", T.StringType(), True),
    T.StructField("software_type", T.StringType(), True),
    T.StructField("product", T.StringType(), True),
    T.StructField("vendor", T.StringType(), True),
    T.StructField("version", T.StringType(), True),
    T.StructField("ner_score", T.DoubleType(), True),
    T.StructField("sentence", T.StringType(), True),
    T.StructField("bucket", T.StringType(), True),
])


# process_document's entity keys, in their MENTION_SCHEMA column order
_ENT_KEYS = ("name", "original_id", "value", "index", "alias",
             "software_type", "product", "vendor", "version")


def _row(url, rec_type, category=None, name=None, original_id=None,
         value=None, index=None, alias=None, software_type=None,
         product=None, vendor=None, version=None, ner_score=None,
         sentence=None, bucket=None) -> tuple:
    """One stage-table row, in ``MENTION_SCHEMA`` order."""
    return (url, rec_type, category, name, original_id, value, index, alias,
            software_type, product, vendor, version, ner_score, sentence,
            bucket)


def mention_rows(pdf: pd.DataFrame, catalog: CompiledCatalog,
                 tagger: NerTagger, from_html: bool = False) -> pd.DataFrame:
    """The stage-table frame (``MENTION_SCHEMA`` columns) of one batch of
    docs(url, text), or of pages(url, html) when ``from_html``: per
    document one ``doc`` row, its ``mention`` and ``residue`` rows, or one
    ``error`` row when extraction or ``process_document`` raises.
    ``detect_mentions`` and the streaming kernel (streaming/kg_stream.py)
    build their rows here."""
    rows: list[tuple] = []
    payload = pdf["html"] if from_html else pdf["text"]
    for url, text in zip(pdf["url"], payload):
        try:
            if from_html:
                text = extract_text(text)
            results, residue, dl = process_document(text, catalog, tagger)
        except Exception as exc:  # reference basic.py:300-301
            rows.append(_row(url, "error",
                             value=f"{type(exc).__name__}: {exc}"[:500]))
            continue
        # one 'doc' row per document carries dl (BM25 doc length,
        # reference statistics.py:28) — no second pass over text
        rows.append(_row(url, "doc", index=dl))
        for category, entries in results.items():
            for ent in entries:
                rows.append(_row(
                    url, "mention", category, *map(ent.get, _ENT_KEYS),
                    ner_score=float(ent.get("NER_score", 0.0)),
                    sentence=ent.get("sentence")))
        for bucket, values in residue.items():
            for val in values:
                rows.append(_row(url, "residue", value=val, bucket=bucket))
    return pd.DataFrame(rows, columns=MENTION_SCHEMA.names)


def detect_mentions(docs: DataFrame,
                    layer_map: dict[str, list[dict]],
                    from_html: bool = False) -> DataFrame:
    """docs(url, text) -> union table of doc + mention + residue rows.

    ``from_html``: fuse E1 into this pass — input is pages(url, html) and
    the byte-identical ``extract_text`` runs inside the same UDF, so no
    text table is materialized.  The pipeline's mention stage runs this
    mode; the docs mode feeds gold text straight in, the differential
    against ``process_document``.
    """
    catalog = compile_catalog(layer_map)
    tagger = NerTagger(layer_map)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield mention_rows(pdf, catalog, tagger, from_html)

    return (docs.select("url", "html" if from_html else "text")
            .mapInPandas(run, MENTION_SCHEMA))


def doc_lengths_view(stage: DataFrame) -> DataFrame:
    """(url, dl) from the per-document rows — BM25 doc lengths."""
    return (stage.filter(F.col("rec_type") == "doc")
            .select("url", F.col("index").cast("int").alias("dl")))


def mentions_view(stage: DataFrame) -> DataFrame:
    """The mention rows of the stage table (drops residue-only columns)."""
    return stage.filter(F.col("rec_type") == "mention").drop("rec_type", "bucket")


def residue_view(stage: DataFrame) -> DataFrame:
    """The NER-residue rows: (url, bucket, value)."""
    return (stage.filter(F.col("rec_type") == "residue")
            .select("url", "bucket", "value"))

