"""Stage 3b — entity linking ("NER intersection") — L1-L6 in SURVEY.md.

Reference: src/nodes_extraction/ner.py:138-339.  Residual NER values (what
NER found but the dictionary didn't) are resolved against the node catalog
three ways and merged back into the mention table:

  L2  variant match, same label   -> ner_score 1.0   (ner.py:152-176)
  L3  variant match, cross label  -> ner_score 0.5   (ner.py:179-198)
  L4  semantic match: cosine(embed(value), node_embedding) >= SIM_THRESHOLD
      -> 1.0 same-label / 0.5 cross, semantic_score=round(cos,4)
                                                     (ner.py:201-212)
  L5  dedup by full row           -> dropDuplicates  (ner.py:214-223)
  L6  merge into mentions keyed by (url, label, lower(original_id)):
      annotate + NER_score = max(old, link)          (ner.py:281-339)

Spark mapping: L2/L3 are ONE broadcast hash equi-join against the exploded
variant catalog (small: ~6 variants x catalog nodes; the score is a CASE on
label equality).  L4 is a broadcast nested-loop θ-join executed as a
vectorized pandas UDF over the residue values (numpy matmul against the
closure-captured node-embedding matrix, then explode).  L6 is an
aggregation + a single left join.

Like the reference (ner.py:233-255 builds its layer_map from the embedding
cache, which skips cpe labels — embeddings.py:24-25), linking covers the
non-CPE labels only.

Determinism notes (the reference is nondeterministic here; the rebuild pins
a rule and the gold fixtures pin the rebuild):
  * ner.py:173 ``list(overlap)[0]`` picks an arbitrary set element; we emit
    lower(value) — the overlap element — per matching value row.
  * L6's per-entry annotation is last-writer-wins over an unordered loop;
    we take the "best" link per key: semantic over variant, then higher
    ner_score, then higher semantic_score, then lexicographically-max ner.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import BM25_LABELS, SIM_THRESHOLD
from ..functions.embedder import embed_batch
from ..functions.variants import generate_variants
from . import bm25, mention

LINKED_LABELS_EXCLUDE = {"cpe_versioned", "cpe_unversioned"}


# --------------------------------------------------------------------------
# L1: node embedding catalog (reference embeddings.py:23-39)
# --------------------------------------------------------------------------

def node_embedding_rows(layer_map: dict[str, list[dict]]) -> list[dict]:
    """One row per (node, candidate text): name, original_id, group aliases."""
    rows = []
    for label, nodes in layer_map.items():
        if label in LINKED_LABELS_EXCLUDE:
            continue
        for node in nodes:
            fields = [node.get("name", ""), node.get("original_id", "")]
            if label == "group":
                for alias_field in ("MITRE_aliases", "malpedia_aliases"):
                    fields.extend(node.get(alias_field, []))
            for text in fields:
                if text:
                    rows.append({
                        "label": label,
                        "text": text,
                        "original_id": node.get("original_id"),
                        "name": node.get("name"),
                    })
    return rows


# --------------------------------------------------------------------------
# L2/L3: variant-match links (one broadcast equi-join)
# --------------------------------------------------------------------------

def node_variant_rows(layer_map: dict[str, list[dict]]) -> list[tuple]:
    """(label, variant, original_id, name) — every node keeps ALL its
    variants here (unlike the automaton's first-writer-wins): ner.py:160-168
    checks every node's own variant set independently."""
    rows = []
    for label, nodes in layer_map.items():
        if label in LINKED_LABELS_EXCLUDE:
            continue
        for node in nodes:
            variants: set[str] = set()
            for field in ("name", "original_id"):
                if field in node:
                    variants |= generate_variants(node[field])
            if label == "group":
                for alias_field in ("MITRE_aliases", "malpedia_aliases"):
                    for alias in node.get(alias_field, []):
                        variants |= generate_variants(alias)
            for v in variants:
                rows.append((label, v, node.get("original_id"), node.get("name")))
    return rows


def variant_links(residues: DataFrame,
                  layer_map: dict[str, list[dict]]) -> DataFrame:
    """residues(url, bucket, value) ⋈ variant catalog -> link rows."""
    spark = residues.sparkSession
    vdf = spark.createDataFrame(
        node_variant_rows(layer_map),
        "label string, variant string, original_id string, name string")
    joined = residues.join(
        F.broadcast(vdf), F.lower(F.col("value")) == F.col("variant"), "inner")
    return joined.select(
        "url",
        F.col("label"),
        F.col("original_id"),
        F.col("name"),
        F.lower(F.col("value")).alias("ner"),
        F.when(F.col("bucket") == F.col("label"), F.lit(1.0))
         .otherwise(F.lit(0.5)).alias("link_ner_score"),
        F.lit("variant").alias("match_type"),
        F.lit(None).cast("double").alias("semantic_score"),
    )


# --------------------------------------------------------------------------
# L4: semantic θ-join (vectorized broadcast nested loop)
# --------------------------------------------------------------------------

_SEM_SCHEMA = T.ArrayType(T.StructType([
    T.StructField("label", T.StringType()),
    T.StructField("original_id", T.StringType()),
    T.StructField("name", T.StringType()),
    T.StructField("score", T.DoubleType()),
]))


def semantic_links(residues: DataFrame,
                   layer_map: dict[str, list[dict]]) -> DataFrame:
    """Cosine θ-join of residue values against all node embeddings."""
    rows = node_embedding_rows(layer_map)
    emb_matrix = embed_batch([r["text"] for r in rows])  # K x D, L2-normed
    labels = [r["label"] for r in rows]
    oids = [r["original_id"] for r in rows]
    names = [r["name"] for r in rows]

    @F.pandas_udf(_SEM_SCHEMA)
    def match(values: pd.Series) -> pd.Series:
        if values.empty:
            return pd.Series([], dtype=object)
        vecs = embed_batch(values.fillna("").tolist())  # B x D
        sims = vecs @ emb_matrix.T                      # B x K
        out = []
        for row in sims:
            idx = (row >= SIM_THRESHOLD).nonzero()[0]
            out.append([
                {"label": labels[k], "original_id": oids[k],
                 "name": names[k], "score": float(row[k])}
                for k in idx
            ])
        return pd.Series(out)

    # θ-join over DISTINCT values only — residue strings repeat massively
    # across documents; the per-value match result is then equi-joined back
    # to the (url, bucket) rows.  Cuts UDF volume from O(rows) to
    # O(distinct values).
    distinct_vals = residues.select("value").distinct()
    val_matches = (
        distinct_vals
        .withColumn("m", F.explode(match(F.col("value"))))
        .select("value", "m.*")
    )
    exploded = residues.join(F.broadcast(val_matches), "value")
    return exploded.select(
        "url",
        "label",
        "original_id",
        "name",
        F.col("value").alias("ner"),   # ner.py:208: the original value string
        F.when(F.col("bucket") == F.col("label"), F.lit(1.0))
         .otherwise(F.lit(0.5)).alias("link_ner_score"),
        F.lit("semantic").alias("match_type"),
        F.round(F.col("score"), 4).alias("semantic_score"),
    )


def build_links(residues: DataFrame,
                layer_map: dict[str, list[dict]]) -> DataFrame:
    """L2+L3+L4, deduped (L5)."""
    return (variant_links(residues, layer_map)
            .unionByName(semantic_links(residues, layer_map))
            .dropDuplicates())


# --------------------------------------------------------------------------
# L6: merge links into mentions
# --------------------------------------------------------------------------

def _oid_l():
    """The L6 merge key's id part: lower(original_id), null as ''."""
    return F.lower(F.coalesce("original_id", F.lit("")))


def best_links(links: DataFrame) -> DataFrame:
    """Best link per (url, category, oid_l) — L6's deterministic
    last-writer rule (module docstring): semantic over variant, then
    higher ner_score, then higher semantic_score, then max ner.

    Partitioning: the groupBy keys include url, so a url-hash-partitioned
    ``links`` input aggregates exchange-free.

    The ``_ohash`` companion aggregate flips the struct-max from
    SortAggregate (string-bearing buffers don't hash; the links table
    would be SORTED) to ObjectHashAggregateExec — see
    materialize._evidence_sentences for the mechanism; one output column
    must reference it or pruning deletes it."""
    best = (
        links
        .withColumn("oid_l", _oid_l())
        .groupBy("url", F.col("label").alias("category"), "oid_l")
        .agg(
            F.max("link_ner_score").alias("link_ner_score"),
            F.max(F.struct(
                (F.col("match_type") == "semantic").alias("is_semantic"),
                F.col("link_ner_score").alias("s"),
                F.coalesce("semantic_score", F.lit(-1.0)).alias("ss"),
                F.col("ner"),
                F.col("match_type"),
                F.col("semantic_score"),
                F.col("name"),
                F.col("original_id"),
            )).alias("bestl"),
            F.collect_set(F.lit(1)).alias("_ohash"),
        )
        .select(
            "url", "category", "oid_l", "link_ner_score",
            F.when(F.size("_ohash") > 0, F.col("bestl.ner"))
             .alias("link_ner"),
            F.col("bestl.match_type").alias("link_match_type"),
            F.col("bestl.semantic_score").alias("link_semantic_score"),
            F.col("bestl.name").alias("link_name"),
            F.col("bestl.original_id").alias("link_original_id"),
        )
    )
    return best


def _annotate(mentions: DataFrame, best: DataFrame) -> DataFrame:
    """Left-join the best-link table onto mention rows by (url, category,
    oid_l) and fold in the link annotations + ner_score max."""
    # `best` scales with the data (one row per linked doc-entity), so it is
    # NOT broadcast: collecting a data-sized side to the driver serializes
    # the stage.  shuffle_hash, not sort-merge: the left stream is the
    # wide mention rows — SMJ would sort them (the dominant non-scaling
    # CPU in the link stage); the narrow best-link build side hashes
    # per-partition instead.
    return (
        mentions.withColumn("oid_l", _oid_l())
        .join(best.hint("shuffle_hash"), ["url", "category", "oid_l"],
              "left")
        .withColumn(
            "ner_score",
            F.when(F.col("link_ner_score").isNotNull(),
                   F.greatest(F.coalesce("ner_score", F.lit(0.0)),
                              F.col("link_ner_score")))
            .otherwise(F.col("ner_score")))
        .withColumn("ner", F.col("link_ner"))
        .withColumn("match_type", F.col("link_match_type"))
        .withColumn("semantic_score", F.col("link_semantic_score"))
        .drop("oid_l", "link_ner_score", "link_ner", "link_match_type",
              "link_semantic_score", "link_name", "link_original_id")
    )


def _residuals(best: DataFrame, mention_keys: DataFrame) -> DataFrame:
    # shuffle_hash anti-join (round 4): both sides narrow and
    # url-partitioned; SMJ would sort both — hashing the distinct
    # mention-key side (the anti build) removes the sorts.
    return (
        best.join(mention_keys.hint("shuffle_hash"),
                  ["url", "category", "oid_l"], "left_anti")
        .select(
            "url", "category",
            F.col("link_original_id").alias("original_id"),
            F.col("link_name").alias("name"),
            F.col("link_ner").alias("ner"),
            F.col("link_ner_score").alias("ner_score"),
            F.col("link_match_type").alias("match_type"),
            F.col("link_semantic_score").alias("semantic_score"),
        )
    )


def merge_links(mentions: DataFrame, links: DataFrame,
                mention_keys: DataFrame | None = None
                ) -> tuple[DataFrame, DataFrame]:
    """Returns (mentions_linked, residual_links).

    mentions_linked: every mention row, with ner/match_type/semantic_score
    annotations and ner_score = max(mention, link) where a link matched
    (ner.py:313-326).  residual_links: links whose (url, label, id) has no
    mention — kept as standalone low-confidence evidence (ner.py:328-337).

    ``mention_keys`` (optional): a cheap (url, category, oid_l)-distinct
    source for the residual anti-join.  The anti-join only needs mention
    KEYS, which no upstream annotation (BM25 etc.) can change — passing a
    narrow pre-annotation view here lets the caller leave the wide
    ``mentions`` plan entirely un-persisted and single-consumer (measured:
    persisting the wide scored table cost more in memory churn than the
    recompute it saved).
    """
    best = best_links(links)
    if mention_keys is None:
        mention_keys = mentions.select(
            "url", "category", _oid_l().alias("oid_l")).distinct()
    return _annotate(mentions, best), _residuals(best, mention_keys)


def merge_links_split(scored: DataFrame, passthrough: DataFrame,
                      links: DataFrame, mention_keys: DataFrame,
                      passthrough_may_link: bool = False
                      ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``merge_links`` over a (scored, passthrough) mention split, keeping
    the branches separate so a url-hash partitioning established upstream
    survives every join here (a union erases partitioning info —
    ``link_stage`` unions only at the very end).

    ``passthrough_may_link=False`` asserts the caller-checked invariant
    that every linkable label (layer_map keys minus the cpe family) is a
    BM25-scored label, so links can never target a passthrough-category
    mention (e.g. cve — regex-matched, not in the link catalog) and the
    passthrough branch skips the merge join entirely, taking null link
    annotations.  Pass True for a catalog with non-BM25 linkable labels.
    Returns (merged_scored, merged_passthrough, residual_links)."""
    best = best_links(links)
    merged_s = _annotate(scored, best)
    if passthrough_may_link:
        merged_p = _annotate(passthrough, best)
    else:
        merged_p = (
            passthrough
            .withColumn("ner", F.lit(None).cast("string"))
            .withColumn("match_type", F.lit(None).cast("string"))
            .withColumn("semantic_score", F.lit(None).cast("double"))
        )
    return merged_s, merged_p, _residuals(best, mention_keys)


# --------------------------------------------------------------------------
# The link-stage kernel: BM25 -> L2-L5 -> L6 over one mention-stage table
# --------------------------------------------------------------------------

def link_stage(stage_rows: DataFrame, stats: DataFrame, df_table: DataFrame,
               layer_map: dict[str, list[dict]]
               ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Stage 3 over mention-stage rows (``mention.detect_mentions``
    output): BM25 against the global ``(stats, df_table)`` of
    ``bm25.bm25_global_stats``, link generation over the residues, and the
    L6 merge.  Returns ``(merged, residual, links)``.

    The one kernel behind the batch and bucket-chunked runs.  Scoring
    against GLOBAL stats is what keeps it exact on any url-subset of the
    corpus (tf and dl are url-local; df/m/avgdl must not be recomputed
    from a chunk, or idf comes out wrong).

    Partitioning: when ``stage_rows`` is hash-partitioned by url (the
    batch run repartitions the table once), the mention, residue and
    doc-length views are filters above that ONE exchange, and every
    operation below preserves it: BM25 tf, the score join, the best-link
    aggregation, the L6 merge join and the residual anti-join all run
    exchange-free.  The scored/passthrough branches are unioned only at
    the very end (a union erases partitioning info), and the residual
    anti-join takes its keys from a narrow pre-BM25 projection, so the
    wide scored plan stays single-consumer and un-persisted.

    ``links`` is the subplan both outputs read.  The batch run, which
    writes them in two concurrent jobs, persists it and unpersists it once
    both writes commit; the chunked run leaves it uncached."""
    m = mention.mentions_view(stage_rows)
    dls = mention.doc_lengths_view(stage_rows)
    scored, passthrough = bm25.add_bm25_frozen_split(m, dls, stats, df_table)
    links = build_links(mention.residue_view(stage_rows), layer_map)
    keys = m.select("url", "category", _oid_l().alias("oid_l")).distinct()
    # the passthrough branch can take a link only if some linkable label
    # is not BM25-scored (never for the BRON-shaped catalog: links exclude
    # the cpe family and cve is regex-only)
    may_link = bool(set(layer_map) - LINKED_LABELS_EXCLUDE - set(BM25_LABELS))
    merged_s, merged_p, residual = merge_links_split(
        scored, passthrough, links, mention_keys=keys,
        passthrough_may_link=may_link)
    return merged_s.unionByName(merged_p), residual, links
