"""apt_bron_re_spark — a PySpark-native knowledge-graph construction engine.

A from-scratch, Spark-first rebuild of the capabilities of the reference
pipeline d4nieldev/apt-bron-re (APT-report relation extraction for the BRON
knowledge graph). Five stages over a Common-Crawl-style ``pages`` table;
extraction runs inside the mention stage's UDF, so four tables are
checkpointed:

    pages -> extract+mention -> link -> canonicalize -> materialize

All heavy per-row logic is vectorized (Arrow/pandas UDFs); all relational
logic is DataFrame-native so Catalyst can push filters/prune columns and AQE
can handle shuffle sizing and skew.  See SURVEY.md for the operator-by-
operator mapping to the reference.
"""

__version__ = "0.1.0"
