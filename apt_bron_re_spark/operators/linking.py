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

Spark mapping: the pipeline runs L2-L6 as ONE row-local kernel,
``link_stage``.  Its ``link_rows`` runs the mention-stage rows through
``url_local``, the url-clustered plan it shares with materialize's pair
kernel: hash-partitioned by url once, coalesced to at most one partition
per core, sorted by url inside each partition and streamed url by url
through a single ``mapInPandas`` (``fold_urls``).  There ``RowLinker``
builds the variant and semantic links of the url's residues against the
frozen catalog and picks the best link per key, then the url's mention
rows are annotated and its residual links emitted.  The kernel also emits
each scored row's BM25 inputs; the score itself stays a Spark expression
(``bm25.score_frozen``).  Its output stays clustered and sorted by url,
so the pair kernel can fold it in place.

The DataFrame operators below are the column-wise form of the same rules,
and the differential tests pin the kernel to them: L2/L3 are ONE
broadcast hash equi-join against the exploded variant catalog (small: ~6
variants x catalog nodes; the score is a CASE on label equality), L4 is a
broadcast nested-loop θ-join executed as a vectorized pandas UDF over the
distinct residue values (``embedder.cosine_matrix`` against the
closure-captured node-embedding matrix, then explode), and L6 is an
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

from collections import Counter
from decimal import ROUND_HALF_UP, Decimal
from functools import partial
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog.build import CPE_LABELS, surface_texts
from ..config import BM25_LABELS, SIM_THRESHOLD
from ..functions.embedder import cosine_matrix, embed_batch
from ..functions.variants import generate_variants
from . import bm25, mention


# --------------------------------------------------------------------------
# L1: node embedding catalog (reference embeddings.py:23-39)
# --------------------------------------------------------------------------

def node_embedding_rows(layer_map: dict[str, list[dict]]) -> list[dict]:
    """One row per (node, surface text) (``catalog.build.surface_texts``)."""
    return [{"label": label, "text": text,
             "original_id": node.get("original_id"), "name": node.get("name")}
            for label, nodes in layer_map.items() if label not in CPE_LABELS
            for node in nodes for text in surface_texts(label, node)]


# --------------------------------------------------------------------------
# L2/L3: variant-match links (one broadcast equi-join)
# --------------------------------------------------------------------------

def node_variant_rows(layer_map: dict[str, list[dict]]) -> list[tuple]:
    """(label, variant, original_id, name): the variants of a node's
    surface texts.  Every node keeps ALL its variants here (unlike the
    automaton's first-writer-wins): ner.py:160-168 checks every node's own
    variant set independently."""
    rows = []
    for label, nodes in layer_map.items():
        if label in CPE_LABELS:
            continue
        for node in nodes:
            variants = set().union(*map(generate_variants,
                                        surface_texts(label, node)))
            rows.extend((label, v, node.get("original_id"), node.get("name"))
                        for v in variants)
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
        sims = cosine_matrix(vecs, emb_matrix)          # B x K
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

    The ``_ohash`` companion aggregate exists only to flip the struct-max
    from SortAggregate to ObjectHashAggregateExec.  Spark hashes only
    primitive-buffer aggregates, so a bare max(struct(..., string))
    sort-aggregates: the links table would be SORTED.  A TypedImperative
    aggregate in the group (collect_set of a constant: one tiny set per
    key) makes the planner pick ObjectHashAggregateExec for the whole
    group, with identical results.  One output column must reference it
    (a non-foldable always-true guard) or column pruning deletes it and
    the sort returns."""
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
                      links: DataFrame, mention_keys: DataFrame
                      ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``merge_links`` over a (scored, passthrough) mention split, keeping
    the branches separate so a url-hash partitioning established upstream
    survives every join here (a union erases partitioning info).
    Returns (merged_scored, merged_passthrough, residual_links)."""
    best = best_links(links)
    return (_annotate(scored, best), _annotate(passthrough, best),
            _residuals(best, mention_keys))


# --------------------------------------------------------------------------
# Row-local linking: L2-L5 + the best-link rule for one url at a time
# --------------------------------------------------------------------------

def spark_round(x: float) -> float:
    """``F.round(x, 4)`` of a double, in Python: the semantic score's
    rounding.  Spark rounds HALF_UP on the double's decimal string
    (``BigDecimal(Double.toString(x))``); Python's ``round`` rounds the
    binary value half-to-even, so the two differ on ties: 0.90625 ->
    0.9063 in Spark, 0.9062 in Python (a float32 cosine can be exactly
    k/32)."""
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


class RowLinker:
    """Frozen-catalog entity linking (L2-L5) and the L6 fold (``merge``)
    for ONE url at a time — the row-local twin of ``build_links`` + the
    best-link rule of ``best_links`` + ``merge_links``.  Neither the variant table nor the node embeddings
    depend on the corpus, so the pass is exact inside a per-url kernel;
    only BM25 (corpus df/m/avgdl) cannot move here.

    Built once on the driver, shipped in the UDF closure (catalog-sized;
    every Python task unpickles it again, ROADMAP.md item 2).  Its one
    caller is ``_link_urls``, the url fold that the batch link stage and
    the streaming kernel (streaming/kg_stream.py) both run."""

    def __init__(self, layer_map: dict[str, list[dict]]) -> None:
        self.variants: dict[str, list[tuple]] = {}
        for label, variant, oid, name in node_variant_rows(layer_map):
            self.variants.setdefault(variant, []).append((label, oid, name))
        rows = node_embedding_rows(layer_map)
        self.emb_matrix = embed_batch([r["text"] for r in rows])
        self.emb_nodes = [(r["label"], r["original_id"], r["name"])
                          for r in rows]

    def _links_for(self, residue: dict) -> dict[tuple, tuple]:
        """residue {bucket: [values]} -> {(label, oid_l): (best link tuple,
        max_s)} where the best link follows the batch struct-max order
        (semantic over variant, then score, then semantic score, then max
        ner...) and ``max_s`` is max(link_ner_score) over ALL candidates
        for the key — mirroring ``best_links``' SEPARATE
        ``F.max(link_ner_score)`` aggregate, which is independent of the
        struct-max winner: a bucket-matching variant-only candidate
        (s=1.0) must supply the merged score even when a cross-bucket
        semantic candidate (s=0.5) wins the struct.  A link tuple is
        (is_semantic, s, ss, ner, match_type, semantic_score, name,
        original_id)."""
        cands: dict[tuple, list] = {}
        sem_values = []
        for bucket, values in residue.items():
            for value in values:
                for (label, oid, name) in self.variants.get(
                        value.lower(), ()):
                    s = 1.0 if bucket == label else 0.5
                    cands.setdefault(
                        (label, (oid or "").lower()), []).append(
                        (False, s, -1.0, value.lower(), "variant",
                         None, name, oid))
                sem_values.append((bucket, value))
        if sem_values:
            vecs = embed_batch([v for _b, v in sem_values])
            sims = cosine_matrix(vecs, self.emb_matrix)
            for (bucket, value), row in zip(sem_values, sims):
                for k in (row >= SIM_THRESHOLD).nonzero()[0]:
                    label, oid, name = self.emb_nodes[int(k)]
                    s = 1.0 if bucket == label else 0.5
                    ss = spark_round(float(row[k]))
                    cands.setdefault(
                        (label, (oid or "").lower()), []).append(
                        (True, s, ss, value, "semantic", ss, name, oid))

        def ordkey(c):
            # mirror of best_links' struct-max: null sorts lowest
            (is_sem, s, ss, ner, mt, sem, name, oid) = c
            return (is_sem, s, ss, ner, mt,
                    sem is not None, sem or 0.0,
                    name is not None, name or "",
                    oid is not None, oid or "")

        return {key: (max(cs, key=ordkey), max(c[1] for c in cs))
                for key, cs in cands.items()}

    def merge(self, residue: dict, mentions: list[tuple]
              ) -> tuple[list[tuple], list[tuple]]:
        """L6 for one url (``merge_links``): link its residues, then fold
        the best link per key into its mention rows.  ``mentions`` is
        [(category, original_id, ner_score)], keyed by (category,
        lower(original_id or '')).  Returns ``(annotated, residual)``:
        ``annotated[i]`` is mention i's ``(ner_score, winner)`` — where its
        key has a link, ner_score = max(coalesce(score, 0), max_s) and
        ``winner`` the key's best link tuple, else the score unchanged and
        None; ``residual`` is [(label, winner, max_s)] for every best-link
        key with no mention."""
        best = self._links_for(residue)
        keys = set()
        annotated = []
        for category, oid, score in mentions:
            key = (category, (oid if oid is not None else "").lower())
            keys.add(key)
            hit = best.get(key)
            if hit is None:
                annotated.append((score, None))
                continue
            # max_s, NOT the winner's s: _annotate folds the separate
            # F.max(link_ner_score) aggregate
            winner, max_s = hit
            annotated.append(
                (max(float(score) if score is not None else 0.0, max_s),
                 winner))
        residual = [(label, winner, max_s)
                    for (label, oid_l), (winner, max_s) in best.items()
                    if (label, oid_l) not in keys]
        return annotated, residual


# --------------------------------------------------------------------------
# The link-stage kernel: L2-L6 in one url-local pass, then the BM25 score
# --------------------------------------------------------------------------

# mention-row columns the kernel carries through, in ``linked`` order: the
# mention stage's columns minus those ``mention.mentions_view`` drops
_MENTION_FIELDS = [f for f in mention.MENTION_SCHEMA.fields
                   if f.name not in ("url", "rec_type", "bucket")]
_MENTION_COLS = [f.name for f in _MENTION_FIELDS]
_LINK_COLS = ["ner", "match_type", "semantic_score"]
_RESIDUAL_COLS = ["url", "category", "original_id", "name", "ner",
                  "ner_score", "match_type", "semantic_score"]

# One kernel output row per annotated mention row (``residual`` false) or
# residual link (``residual`` true).  A scored mention row carries its BM25
# inputs: the term key, the term's frequency f in the url and the doc
# length dl; the other rows leave them null.
LINK_ROWS_SCHEMA = T.StructType(
    [T.StructField("url", T.StringType()),
     T.StructField("residual", T.BooleanType())]
    + _MENTION_FIELDS
    + [T.StructField("ner", T.StringType()),
       T.StructField("match_type", T.StringType()),
       T.StructField("semantic_score", T.DoubleType()),
       T.StructField("bm25_key", T.StringType()),
       T.StructField("f", T.LongType()),
       T.StructField("dl", T.IntegerType())])

_KERNEL_IN = ["url", "rec_type", "bucket", "bm25_key"] + _MENTION_COLS
_CAT, _NAME, _OID, _SCORE = (_MENTION_COLS.index(c) for c in
                             ("category", "name", "original_id",
                              "ner_score"))
# long columns arrive as floats when pandas holds a null among them
_LONGS = [i for i, f in enumerate(_MENTION_FIELDS)
          if isinstance(f.dataType, T.LongType)]


def _null(x):
    """pandas' null (None, or NaN in a numeric column) as None."""
    return None if x is None or x != x else x


def complete_urls(batches: Iterator[pd.DataFrame]
                  ) -> Iterator[pd.DataFrame]:
    """Re-cut a url-sorted stream of Arrow batches into frames that hold
    only COMPLETE urls: the rows of the last url of a batch are carried
    into the next, so a url-local kernel holds one url's rows at a time,
    never its whole partition.  ``url_local`` streams every partition
    through it."""
    carry = None
    for pdf in batches:
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
        urls = pdf["url"].to_numpy()
        if not len(urls):
            continue
        earlier = (urls != urls[-1]).nonzero()[0]
        cut = int(earlier[-1]) + 1 if len(earlier) else 0
        carry = pdf.iloc[cut:]
        if cut:
            yield pdf.iloc[:cut]
    if carry is not None and len(carry):
        yield carry


def fold_urls(rows: DataFrame,
              fold: Callable[[pd.DataFrame], pd.DataFrame],
              schema: T.StructType) -> DataFrame:
    """``fold`` over frames of complete urls, returning ``schema`` rows:
    ONE narrow ``mapInPandas`` that streams each partition url by url
    (``complete_urls``).  ``rows`` must already hold every row of a url in
    one partition, sorted by url, as ``url_local`` and the link kernel's
    own output (``link_rows``) do."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in complete_urls(batches):
            yield fold(pdf)

    return rows.mapInPandas(run, schema)


def url_local(rows: DataFrame, partitions: int | None,
              fold: Callable[[pd.DataFrame], pd.DataFrame],
              schema: T.StructType) -> DataFrame:
    """The url-clustered plan of the url-local kernels (``link_rows``,
    ``materialize.link_pairs`` over tables read back, and the streaming
    micro-batch kernel ``streaming.kg_stream.batch_partials``):
    ``fold_urls`` over ``rows`` clustered and sorted by url.

    ``rows`` is hash-partitioned by url into ``partitions`` partitions
    (the session's shuffle partitions when None) — the kernel's only
    exchange, which puts every row of a url in one partition.  The
    partitions are coalesced to at most one per core: every Python task
    pays a fixed start-up cost (a no-op task takes about 0.065 s of slot
    time on a 4-vCPU host under the session's worker daemon, 0.18-0.23 s
    under pyspark's; ``scripts/probe_python_tasks.py``), and coalescing
    keeps each hash partition, hence each url, inside one task.  Each
    partition is sorted by url."""
    cores = rows.sparkSession.sparkContext.defaultParallelism
    by_url = (rows.repartition(partitions, F.col("url")) if partitions
              else rows.repartition(F.col("url")))
    return fold_urls(by_url.coalesce(cores).sortWithinPartitions("url"),
                     fold, schema)


def _link_urls(linker: RowLinker, pdf: pd.DataFrame) -> pd.DataFrame:
    """The kernel over rows holding COMPLETE urls, sorted by url."""
    col = {c: pdf[c].tolist() for c in _KERNEL_IN}
    urls, rec_type, keys = col["url"], col["rec_type"], col["bm25_key"]
    out: list[tuple] = []
    i, n = 0, len(urls)
    while i < n:
        url, j = urls[i], i
        while j < n and urls[j] == url:
            j += 1
        dls, residue, mentions = [], {}, []
        for k in range(i, j):
            if rec_type[k] == "mention":
                mentions.append(k)
            elif rec_type[k] == "residue":
                residue.setdefault(col["bucket"][k], []).append(
                    col["value"][k])
            elif rec_type[k] == "doc":
                dl = _null(col["index"][k])
                dls.append(None if dl is None else int(dl))
        i = j
        rows = [[_null(col[c][k]) for c in _MENTION_COLS] for k in mentions]
        annotated, residual = linker.merge(
            residue, [(row[_CAT], row[_OID], row[_SCORE]) for row in rows])
        tf = Counter((col["category"][k], keys[k]) for k in mentions
                     if keys[k] is not None)
        for k, row, (score, winner) in zip(mentions, rows, annotated):
            row[_SCORE] = score
            # ner, match_type, semantic_score
            link = winner[3:6] if winner is not None else (None, None, None)
            for x in _LONGS:
                if row[x] is not None:
                    row[x] = int(row[x])
            if keys[k] is None:
                out.append((url, False, *row, *link, None, None, None))
                continue
            # a scored row once per doc row of its url (a repeated url
            # has several), each with that row's dl
            f = tf[(row[_CAT], keys[k])]
            out.extend((url, False, *row, *link, keys[k], f, dl)
                       for dl in dls or [None])
        # residual links: best-link keys with no mention row
        for label, winner, max_s in residual:
            row = [None] * len(_MENTION_COLS)
            row[_CAT], row[_NAME], row[_OID] = label, winner[6], winner[7]
            row[_SCORE] = max_s
            out.append((url, True, *row, *winner[3:6], None, None, None))
    return pd.DataFrame(out, columns=LINK_ROWS_SCHEMA.names)


def link_rows(stage_rows: DataFrame, layer_map: dict[str, list[dict]],
              n_buckets: int) -> DataFrame:
    """The url-local kernel (L2-L6) over mention-stage rows: one
    ``LINK_ROWS_SCHEMA`` row per annotated mention row and per residual
    link, folded by ``_link_urls`` under ``url_local`` with ``n_buckets``
    url hash partitions.  Error rows are dropped; every other row of a
    url, from every page that shares it, is merged before linking."""
    linker = RowLinker(layer_map)
    scored = ((F.col("rec_type") == "mention")
              & F.col("category").isin(BM25_LABELS))
    return url_local(
        stage_rows.filter(F.col("rec_type") != "error")
        .withColumn("bm25_key", F.when(scored, bm25.bm25_key()))
        .select(*_KERNEL_IN),
        n_buckets, partial(_link_urls, linker), LINK_ROWS_SCHEMA)


def link_stage(stage_rows: DataFrame, stats: DataFrame, df_table: DataFrame,
               layer_map: dict[str, list[dict]], n_buckets: int
               ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Stage 3 over mention-stage rows (``mention.detect_mentions``
    output, in any partitioning).  Returns ``(merged, residual, rows)``.

    ``rows`` is the url-local kernel (``link_rows``), the one pass both
    outputs read: ``residual`` is its residual links, and ``merged`` is
    its mention rows with ``bm25_score`` computed by
    ``bm25.score_frozen`` against the global ``(stats, df_table)`` of
    ``bm25.bm25_global_stats``.  Scoring against GLOBAL stats is what
    keeps the stage exact on any url-subset of the corpus (tf and dl are
    url-local; df/m/avgdl must not be recomputed from a chunk, or idf
    comes out wrong).  Callers that write both outputs persist ``rows``
    and unpersist it once both writes commit, so the Python kernel runs
    once.  ``Pipeline.run`` writes both flat, with a ``pbucket`` column
    and no exchange after the kernel's own; only the chunked writers lay
    out partition dirs."""
    rows = link_rows(stage_rows, layer_map, n_buckets)
    merged = bm25.score_frozen(
        rows.filter(~F.col("residual")), stats, df_table).select(
        "url", *_MENTION_COLS, "bm25_score", *_LINK_COLS)
    residual = rows.filter(F.col("residual")).select(*_RESIDUAL_COLS)
    return merged, residual, rows
