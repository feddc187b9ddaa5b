"""Stage 1 — extract: html -> text, and its byte-identity check.

E1 in SURVEY.md.  The reference converts PDFs with PyMuPDF
(convert_reports.py:36-40); the rebuild's input is HTML (BASELINE.json
input_hint) and the extractor is the deterministic pure function
``extract_text``.  The pipeline runs it inside the mention UDF
(``mention.detect_mentions(from_html=True)``), so no text table is
written; here it runs as an Arrow-batched pandas UDF for the parity check
against the gold ``text`` column.

Scale notes:
  * Only ``url``, ``html``, ``text`` and ``lang`` are read (column pruning
    reaches the scan), and the language predicate is pushed into it.
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
    # a null page stays null
    return html.map(extract_text, na_action="ignore")


def extraction_parity(pages: DataFrame) -> DataFrame:
    """Byte-identity check of the extractor vs the gold ``text`` column.

    Returns rows (url, ok) — ``ok`` false where extraction diverges.  Used
    by tests; at scale this is a single narrow pass.
    """
    return pages.filter(F.col("lang") == LANG).select(
        "url",
        (extract_text_udf(F.col("html")) == F.col("text")).alias("ok"),
    )
