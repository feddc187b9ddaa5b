"""Stage 5 — triple materialization (A10 / S10 in SURVEY.md).

Edge shape per the reference's output spec (README.md:47-58):
``{from, to, source[], justification}`` — the rebuild adds a typed ``pred``
(config.PREDICATE_MAP) and a confidence ``score``.

Pipeline:
  1. the url-local pair kernel (``link_pairs``): over the link kernel's
     rows (``LINK_COLS``: mention rows and residual links, clustered by
     url), ``link_evidence`` turns each url's rows into evidence (url,
     label, canon_id, score, sentence) against the collected canonical
     map, and ``doc_pairs`` folds that evidence into co-occurrence pairs
     restricted to the typed label pairs (no quadratic all-pairs blowup)
     — at most one pair row per (triple, url).  The fold runs in ONE
     ``mapInPandas``; only its plan varies.  A fresh ``Pipeline.run``
     folds the link kernel's cached rows in place, which are already
     clustered and sorted by url (``linking.fold_urls``, no exchange).
     Tables read back (a resumed run, chunks) are hash-partitioned by url
     once under ``linking.url_local``;
  2. the salted two-phase triple aggregation, map-side combined:
     ``_per_salt`` (one partial row per triple and url salt), then
     ``_merge_parts`` (one merged row per triple), then ``_finish``.

A *partial* (``partial_triples_of_pairs``) is a merged row per triple of
one chunk or micro-batch, so ``merge_partial_triples`` is finish . merge.
Batch, chunked and streaming (streaming/kg_stream.py) runs pair with
``link_evidence`` and ``_pair_urls`` and merge with ``_merge_parts``: the
rules exist once.  ``evidence_rows`` is the evidence rule as a Spark plan;
no pipeline path calls it, and ``materialize_triples`` and
``partial_triples`` take its output.

Scale notes: the pair kernel holds one url's rows at a time, and the link
rows shuffle at most once, by url; the hub-entity skew shows up in the
final groupBy, which is algebraic (set-union/max) and salted.  The output
table should be partitioned by ``pred`` (S10).

Justification as a payload: each pair row carries its subject's evidence
sentence, and each triple's best-evidence KEY — max(struct(pair_score,
has_sentence, url, subj_label)) — carries that sentence as a trailing
payload field.  With at most one pair row per (triple, url) the key never
ties, so the payload never decides a comparison.  Tie-break rule (pinned
by scripts/ref_interpreter.py and the gold fixtures): among a triple's
evidence pairs, prefer higher pair_score, then pairs whose subject carries
a sentence, then the lexicographically LARGEST source url, then the
largest subject label; the justification is that pair's subject evidence
sentence — the argmax-score sentence of its (url, label, canon_id), ties
to the larger string, null lowest.
"""

from __future__ import annotations

from itertools import groupby
from operator import itemgetter
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import PREDICATE_MAP
from .linking import fold_urls, url_local

# Source urls kept per triple (the k smallest) and salts of the two-phase
# triple aggregation (_per_salt).
MAX_SOURCES = 64
N_SALTS = 16

# The link kernel's columns the evidence rule reads (a residual link's
# value and sentence are null).
LINK_COLS = ["url", "category", "original_id", "value", "ner_score",
             "sentence"]

# One evidence pair per (triple, url): the pair kernel's output.  Every
# column is nullable, as in ``evidence_rows``.
PAIR_SCHEMA = T.StructType([
    T.StructField("subj", T.StringType()),
    T.StructField("pred", T.StringType()),
    T.StructField("obj", T.StringType()),
    T.StructField("url", T.StringType()),
    T.StructField("subj_label", T.StringType()),
    T.StructField("pair_score", T.DoubleType()),
    T.StructField("justification", T.StringType()),
])


def evidence_rows(mentions_linked: DataFrame, residual_links: DataFrame,
                  canon: DataFrame) -> DataFrame:
    """Pre-aggregation evidence: one row per mention / residual link with
    (url, label, canon_id, score, sentence).  CVE mentions (value, no
    original_id) use the CVE id; the canonical map is broadcast
    (catalog-sized).  The Spark form of ``link_evidence``, which the
    pipeline runs instead."""
    m = mentions_linked.select(
        "url",
        F.col("category").alias("label"),
        F.coalesce("original_id", "value").alias("entity_id"),
        F.coalesce("ner_score", F.lit(0.0)).alias("score"),
        "sentence",
    ).unionByName(residual_links.select(
        "url",
        F.col("category").alias("label"),
        F.col("original_id").alias("entity_id"),
        F.coalesce("ner_score", F.lit(0.0)).alias("score"),
        F.lit(None).cast("string").alias("sentence"),
    ))

    return (
        m.join(F.broadcast(canon),
               (m.label == canon.label) & (m.entity_id == canon.original_id),
               "left")
        .select(m.url, m.label,
                F.coalesce(canon.canon_id, m.entity_id).alias("canon_id"),
                m.score, m.sentence)
    )


def link_evidence(links: pd.DataFrame, canon_map: dict) -> pd.DataFrame:
    """The evidence rule over link rows (``LINK_COLS``; a residual link's
    value is null): (url, label, canon_id, score, sentence) in row order,
    the entity coalesce(original_id, value) looked up in the collected
    canon map {(label, original_id): canon_id} (``collect_canon``), an
    entity with no entry its own canon_id.  The evidence step of the pair
    kernel, batch and stream."""
    labels = links["category"].tolist()
    # coalesce: an empty-string original_id must NOT fall through to value
    entities = [oid if oid is not None else value for oid, value
                in zip(links["original_id"], links["value"])]
    return pd.DataFrame({
        "url": links["url"].tolist(),
        "label": labels,
        "canon_id": [canon_map.get(key, key[1])
                     for key in zip(labels, entities)],
        "score": links["ner_score"].fillna(0.0).tolist(),
        "sentence": links["sentence"].tolist()})


def _sent_key(row: tuple[float, str | None]) -> tuple:
    """Total order of (score, sentence) matching Spark's struct(score,
    sentence) max: null sentence sorts below any string."""
    score, sentence = row
    return score, sentence is not None, sentence or ""


def doc_pairs(evidence: Iterable[tuple], predicate_map: dict) -> dict:
    """The pairing and tie-break rules for ONE url: evidence tuples
    (label, canon_id, score, sentence) -> {(subj, pred, obj): (pair_score,
    justification, subj_label)}.

    The evidence folds to one (max score, argmax sentence) per (label,
    canon_id), a null score counting as 0.  Evidence with a null canon_id
    never pairs, as SQL's ``s.canon_id != o.canon_id`` is null there.
    Pairs follow ``predicate_map``'s typed label pairs and never join an
    entity to itself; pair_score = min(max(s_score, 0), max(o_score, 0)).
    Per triple, the pair with the largest (pair_score, subject has a
    sentence, subj_label) wins and carries the subject's sentence — the
    cross-url best-evidence key of ``_per_salt`` with its url
    fixed, so the fold is associative with the aggregation over urls."""
    ev: dict[tuple[str, str], tuple[float, str | None]] = {}
    for label, canon_id, score, sentence in evidence:
        if canon_id is None:
            continue
        row = (float(score or 0.0), sentence)
        cur = ev.get((label, canon_id))
        ev[(label, canon_id)] = row if cur is None else max(
            cur, row, key=_sent_key)

    by_label: dict[str, list[tuple[str, float, str | None]]] = {}
    for (label, canon_id), (score, sentence) in ev.items():
        by_label.setdefault(label, []).append((canon_id, score, sentence))

    pairs: dict[tuple[str, str, str], tuple[float, str | None, str]] = {}
    for (subj_label, obj_label), pred in predicate_map.items():
        for subj, s_score, s_sent in by_label.get(subj_label, ()):
            for obj, o_score, _o_sent in by_label.get(obj_label, ()):
                if subj == obj:
                    continue
                pair_score = min(max(s_score, 0.0), max(o_score, 0.0))
                key = (subj, pred, obj)
                cur = pairs.get(key)
                if cur is None or ((pair_score, s_sent is not None,
                                    subj_label)
                                   > (cur[0], cur[1] is not None, cur[2])):
                    pairs[key] = (pair_score, s_sent, subj_label)
    return pairs


def _pair_urls(pdf: pd.DataFrame) -> pd.DataFrame:
    """The pair kernel over evidence rows holding COMPLETE urls, sorted by
    url."""
    rows = zip(pdf["url"], pdf["label"], pdf["canon_id"], pdf["score"],
               pdf["sentence"])
    out = []
    for url, ev in groupby(rows, key=itemgetter(0)):
        out.extend((subj, pred, obj, url, subj_label, s, j)
                   for (subj, pred, obj), (s, j, subj_label) in doc_pairs(
                       (r[1:] for r in ev), PREDICATE_MAP).items())
    return pd.DataFrame(out, columns=PAIR_SCHEMA.names)


def link_pairs(links: DataFrame, canon_map: dict,
               partitions: int | None = None,
               clustered: bool = False) -> DataFrame:
    """Link rows (``LINK_COLS``) -> ``PAIR_SCHEMA`` rows, at most one per
    (triple, url): the pair kernel, ``link_evidence`` then ``doc_pairs``
    folded url by url.  ``clustered`` rows (the link kernel's own output,
    clustered and sorted by url in each partition) fold in place with no
    exchange (``linking.fold_urls``); other rows are hash-partitioned by
    url into ``partitions`` under ``linking.url_local``, the stage's only
    exchange before the triple aggregation."""
    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        return _pair_urls(link_evidence(pdf, canon_map))

    links = links.select(*LINK_COLS)
    if clustered:
        return fold_urls(links, fold, PAIR_SCHEMA)
    return url_local(links, partitions, fold, PAIR_SCHEMA)


def links_of_tables(linked: DataFrame, residual: DataFrame) -> DataFrame:
    """The link stage's two tables (``linked``, ``links_residual``) read
    back as link rows (``LINK_COLS``)."""
    none = F.lit(None).cast("string")
    return linked.select(*LINK_COLS).unionByName(residual.select(
        "url", "category", "original_id", none.alias("value"), "ner_score",
        none.alias("sentence")))


def _pairs_of_evidence(ev: DataFrame, partitions: int | None) -> DataFrame:
    """``evidence_rows`` output -> ``PAIR_SCHEMA`` rows: evidence is link
    rows whose entity is already canonical, so an empty canon map keeps
    each canon_id."""
    none = F.lit(None).cast("string")
    return link_pairs(ev.select(
        "url", F.col("label").alias("category"),
        F.col("canon_id").alias("original_id"), none.alias("value"),
        F.col("score").alias("ner_score"), "sentence"), {}, partitions)


def _per_salt(pairs: DataFrame, max_sources: int,
              n_salts: int) -> DataFrame:
    """Phase 1 of the salted triple aggregation over evidence pairs
    (``PAIR_SCHEMA``, at most one row per (triple, url)): per (triple,
    salt=crc32(url)%n_salts), the ``max_sources`` smallest urls, the url
    count, the best-evidence key max(struct(s, has_s, url, subj_label))
    with the justification as payload, and the max pair_score.  A hub
    edge's millions of urls (10^12-doc scale) would explode one reducer
    in a plain collect_set; the salt spreads them over ``n_salts``
    memory-bounded groups, which ``_merge_parts`` folds."""
    bj = F.max(F.struct(F.col("pair_score").alias("s"),
                        F.col("justification").isNotNull().alias("has_s"),
                        "url", "subj_label", "justification"))
    return (
        pairs
        .withColumn("salt", F.pmod(F.crc32("url"), F.lit(n_salts)))
        .groupBy("subj", "pred", "obj", "salt")
        .agg(
            F.slice(F.sort_array(F.collect_set("url")), 1, max_sources)
             .alias("part_sources"),
            F.count("url").alias("part_n"),
            bj.alias("part_bj"),
            F.max("pair_score").alias("part_score"),
        )
    )


def _merge_parts(parts: DataFrame, max_sources: int) -> DataFrame:
    """Fold partial rows (``_per_salt``'s columns) into one per triple:
    the ``max_sources`` smallest of the flattened sources, the sum of the
    counts, the max key and the max score.  Exact whenever the parts hold
    disjoint url sets — salts, chunks and micro-batches all do: the global
    k smallest urls are each among their own part's k smallest, counts of
    disjoint sets add, and the max of maxima is the max (urls never repeat
    across parts, so the key never ties)."""
    return (
        parts.groupBy("subj", "pred", "obj")
        .agg(
            F.slice(
                F.array_sort(F.array_distinct(
                    F.flatten(F.collect_list("part_sources")))),
                1, max_sources).alias("part_sources"),
            F.sum("part_n").alias("part_n"),
            F.max("part_bj").alias("part_bj"),
            F.max("part_score").alias("part_score"),
        )
    )


def _finish(merged: DataFrame) -> DataFrame:
    """One merged partial row per triple -> the triple row: (subj, pred,
    obj, sources, n_sources, justification, round(score, 4))."""
    return merged.select(
        "subj", "pred", "obj",
        F.col("part_sources").alias("sources"),
        F.col("part_n").alias("n_sources"),
        F.col("part_bj.justification").alias("justification"),
        F.round("part_score", 4).alias("score"))


def triples_of_pairs(pairs: DataFrame, max_sources: int = MAX_SOURCES,
                     n_salts: int = N_SALTS) -> DataFrame:
    """Evidence pairs (``PAIR_SCHEMA``) -> triples(subj, pred, obj,
    sources, n_sources, justification, score): the salted two-phase
    aggregation."""
    return _finish(_merge_parts(_per_salt(pairs, max_sources, n_salts),
                                max_sources))


def materialize_triples(ev: DataFrame,
                        max_sources: int = MAX_SOURCES,
                        n_salts: int = N_SALTS,
                        partitions: int | None = None) -> DataFrame:
    """evidence -> triples.  ``ev`` is ``evidence_rows`` output (any
    per-(url, label, canon_id) pre-aggregation of it gives the same
    triples); ``partitions`` is the url exchange's partition count."""
    return triples_of_pairs(_pairs_of_evidence(ev, partitions), max_sources,
                            n_salts)


def partial_triples(ev: DataFrame,
                    partitions: int | None = None) -> DataFrame:
    """Chunk-local partial triple aggregate of ``evidence_rows`` output:
    ``partial_triples_of_pairs`` over the pair kernel."""
    return partial_triples_of_pairs(_pairs_of_evidence(ev, partitions))


def partial_triples_of_pairs(pairs: DataFrame) -> DataFrame:
    """The partial triple aggregate of evidence pairs (``PAIR_SCHEMA``):
    one merged row per triple (``_merge_parts``).  Chunks and micro-batches
    partition the corpus BY URL, so partials of different chunks merge
    exactly (``merge_partial_triples``)."""
    return _merge_parts(_per_salt(pairs, MAX_SOURCES, N_SALTS), MAX_SOURCES)


def merge_partial_triples(partials: DataFrame) -> DataFrame:
    """Merge chunk-partial aggregates into final triples — identical output
    to a single-shot ``triples_of_pairs`` over every chunk's pairs."""
    return _finish(_merge_parts(partials, MAX_SOURCES))
