"""BM25 relevance scoring — A3/A4 in SURVEY.md, fully DataFrame-native.

The reference makes two full passes over the corpus + hit files
(src/data_prep/statistics.py:21-77): pass 1 builds doc lengths, term
frequencies and document frequencies; pass 2 rewrites every hit with

    idf   = ln((m - n + 0.5) / (n + 0.5) + 1)                 (:69)
    score = round(idf * f*(k1+1) / (f + k1*(1-b+b*dl/avgdl)), 4)  (:70-71)

with k1=1.5, b=0.75, key = lower(original_id or name) (:46), and
m = number of corpus documents, dl = \\b\\w+\\b token count of the doc.

Spark mapping: dl is a native expression over docs; tf and df are classic
partial+final hash aggregations; (m, avgdl) is a 1-row aggregate broadcast
back — so the whole thing is two shuffles (tf keyed by (category,url,key);
df keyed by (category,key)) and broadcast joins back.  The pipeline's link
stage takes tf and dl from its url-local kernel instead
(``score_frozen``); both paths, and the driver query ``bm25_terms``
(queries.py, over the documents corpus), evaluate the one score
expression, ``_score``.  No Python computes a score.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import BM25_B, BM25_K1, BM25_LABELS

def doc_lengths(docs: DataFrame) -> DataFrame:
    """docs(url, text) -> (url, dl): token count per document.

    dl = number of \\w+ runs, computed as a length difference of two
    regexp_replace passes.  NOT size(regexp_extract_all(...)) — that
    materializes every token as a JVM string (~1-2k allocations per page)
    and the GC pressure anti-scales with executor threads (regexp_count is
    a RuntimeReplaceable that rewrites to exactly that, so it doesn't help).
    The pipeline itself gets dl for free from the mention stage
    (mention.doc_lengths_view); this function serves standalone use.
    """
    s = F.lower(F.col("text"))
    collapsed = F.length(F.regexp_replace(s, r"\w+", "#"))
    removed = F.length(F.regexp_replace(s, r"\w+", ""))
    return docs.select("url", (collapsed - removed).cast("int").alias("dl"))


def bm25_key():
    """The BM25 term key: lower(original_id or name) (statistics.py:46)."""
    return F.lower(F.coalesce(F.col("original_id"), F.col("name"), F.lit("")))


def _term_freqs(scored: DataFrame) -> DataFrame:
    """(category, url, bm25_key, f) on a NARROW projection — the wide
    mention rows (context sentences) are never shuffled for statistics.
    tf counts hit entries after dedup, like the reference counting entries
    in the deduped hit files (statistics.py:37-40)."""
    return (scored.select("category", "url", bm25_key().alias("bm25_key"))
            .groupBy("category", "url", "bm25_key")
            .agg(F.count("*").alias("f")))


def bm25_global_stats(mentions: DataFrame, dls: DataFrame
                      ) -> tuple[DataFrame, DataFrame]:
    """The corpus-GLOBAL inputs of BM25, materializable once so chunked
    (per-partition incremental) scoring stays exact: naive per-chunk
    scoring would compute df/m/avgdl from the chunk and produce wrong idf.

    Returns (stats, df_table): stats is the 1-row (m, avgdl); df_table is
    (category, bm25_key, n) document frequencies."""
    stats = dls.agg(F.count("*").alias("m"), F.avg("dl").alias("avgdl"))
    tf = _term_freqs(mentions.filter(F.col("category").isin(BM25_LABELS)))
    df_ = tf.groupBy("category", "bm25_key").agg(F.count("*").alias("n"))
    return stats, df_


def _score(f: Column, n: Column, dl: Column, m: Column,
           avgdl: Column) -> Column:
    """The BM25 score of a term with frequency ``f`` in a doc of length
    ``dl`` (the corpus mean ``avgdl`` where null), the term in ``n`` of
    ``m`` docs: the formula of the module docstring, 0.0 where its
    denominator is 0.  The one copy of the formula, with k1 and b read
    from ``config``."""
    dl = F.coalesce(dl, avgdl)
    idf = F.log((m - n + 0.5) / (n + 0.5) + 1.0)
    denom = f + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl)
    return (F.when(denom != 0.0,
                   F.round(idf * (f * (BM25_K1 + 1.0)) / denom, 4))
            .otherwise(F.lit(0.0)))


def score_frozen(rows: DataFrame, stats: DataFrame,
                 df_table: DataFrame) -> DataFrame:
    """Attach ``bm25_score`` to rows that carry their BM25 inputs
    (``category``, ``bm25_key``, the term frequency ``f`` and the doc
    length ``dl``, as ``linking.link_rows`` emits them), against FROZEN
    global stats (``bm25_global_stats``).  Null where ``bm25_key`` is null
    (the passthrough labels) or has no df row, as in
    ``add_bm25_frozen_split``.

    The df table is a broadcast hash join; (m, avgdl) enter as one scalar
    subquery, so the rows' partitioning survives and no nested-loop join
    is planned."""
    g = stats.select(F.struct("m", "avgdl")).scalar()
    return (rows.join(F.broadcast(df_table), ["category", "bm25_key"], "left")
            .withColumn("bm25_score",
                        F.when(F.col("n").isNotNull(),
                               _score(F.col("f"), F.col("n"), F.col("dl"),
                                      g["m"], g["avgdl"]))))


def add_bm25_frozen_split(mentions: DataFrame, dls: DataFrame,
                          stats: DataFrame, df_table: DataFrame
                          ) -> tuple[DataFrame, DataFrame]:
    """Attach ``bm25_score`` to the mention rows of the scored labels,
    against FROZEN global stats (``bm25_global_stats``), returning the
    scored and passthrough branches SEPARATELY (both with a
    ``bm25_score`` column; null on passthrough: like the reference,
    statistics.py:36, other categories such as cve are not scored).
    Exact on any url-subset of the corpus (tf and dl are url-local;
    df/m/avgdl come frozen), so an interrupted link stage resumes
    per-bucket with identical scores.

    Partitioning contract: when ``mentions`` is hash-partitioned by url,
    EVERY operation here preserves it — tf's groupBy keys include url, the
    df/stats joins are broadcast, and the score join keys include url on
    both sides — so the whole scoring pass adds zero exchanges and the
    caller can keep the two branches separate (a union would erase the
    partitioning, which is why ``linking.merge_links_split`` keeps them
    apart)."""
    scored = mentions.filter(F.col("category").isin(BM25_LABELS))
    passthrough = mentions.filter(~F.col("category").isin(BM25_LABELS))
    tf = _term_freqs(scored)
    score_table = (
        # dl attach is shuffle_hash too (round 4): both sides are narrow
        # and url-co-partitioned (zero exchange either way), but SMJ would
        # SORT both streams; hashing the one-row-per-url dl side is free.
        tf.join(F.broadcast(df_table), ["category", "bm25_key"])
        .join(dls.hint("shuffle_hash"), ["url"], "left")
        .crossJoin(F.broadcast(stats))
        .select("category", "url", "bm25_key",
                _score(*map(F.col, ("f", "n", "dl", "m", "avgdl")))
                .alias("bm25_score"))
    )
    # shuffle_hash, not sort-merge: the LEFT stream is the wide mention
    # rows (sentences) — an SMJ would SORT them, a per-partition O(n log n)
    # pass over wide data that dominates link-stage CPU and thread-scales
    # poorly (GC); the build side is the NARROW score table, whose
    # per-partition hash build is bounded by rows/partitions at any scale.
    # Under matching url partitioning the join stays exchange-free either
    # way; the hint only removes the sorts.
    out = (
        scored.withColumn("bm25_key", bm25_key())
        .join(score_table.hint("shuffle_hash"),
              ["category", "url", "bm25_key"], "left")
        .drop("bm25_key")
    )
    return out, passthrough.withColumn("bm25_score", F.lit(None).cast("double"))


def add_bm25_frozen(mentions: DataFrame, dls: DataFrame,
                    stats: DataFrame, df_table: DataFrame) -> DataFrame:
    """``add_bm25_frozen_split`` with the branches unioned back — the
    standalone surface."""
    out, passthrough = add_bm25_frozen_split(mentions, dls, stats, df_table)
    return out.unionByName(passthrough)


def bm25_rank(scored: DataFrame) -> DataFrame:
    """Per (url, category) descending-score rank — the Spark form of the
    reference's per-label sort (statistics.py:72-73, A4)."""
    from pyspark.sql import Window
    w = (Window.partitionBy("url", "category")
         .orderBy(F.desc("bm25_score"), F.asc("index")))
    return scored.withColumn("bm25_rank", F.row_number().over(w))
