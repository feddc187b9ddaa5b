"""Stage 1 — extract: pages -> docs(url, text).

E1 in SURVEY.md.  The reference converts PDFs with PyMuPDF
(convert_reports.py:36-40); the rebuild's input is HTML (BASELINE.json
input_hint) and the extractor is the deterministic pure function
``extract_text``, run as an Arrow-batched pandas UDF so the whole stage is
one narrow projection — no shuffle, no driver involvement.

Scale notes:
  * Only ``url`` and ``html`` are read (column pruning reaches the scan);
    the gold ``text`` column is touched only by the parity checker.
  * The UDF is deterministic, so Catalyst is free to collapse or reorder
    it (SURVEY.md §4 item 3).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import LANG
from ..functions.extract_text import extract_text


@F.pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    # a null page stays null; the mention stage reports it as an error
    return html.map(extract_text, na_action="ignore")


def extract_docs(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> docs(url, text).

    The language predicate (``config.LANG``) is applied *before* the UDF so
    Catalyst pushes it into the scan and non-matching rows never reach
    Python.
    """
    return (pages.filter(F.col("lang") == LANG)
            .select("url", extract_text_udf(F.col("html")).alias("text")))


def extraction_parity(pages: DataFrame) -> DataFrame:
    """Byte-identity check of the extract stage vs the gold ``text`` column.

    Returns rows (url, ok) — ``ok`` false where extraction diverges.  Used
    by tests and the lineage metrics; at scale this is a single narrow pass.
    """
    return pages.filter(F.col("lang") == LANG).select(
        "url",
        (extract_text_udf(F.col("html")) == F.col("text")).alias("ok"),
    )
