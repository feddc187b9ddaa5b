"""Stage 5 — triple materialization (A10 / S10 in SURVEY.md).

Edge shape per the reference's output spec (README.md:47-58):
``{from, to, source[], justification}`` — the rebuild adds a typed ``pred``
(config.PREDICATE_MAP) and a confidence ``score``.

Pipeline:
  1. per-document *evidence* rows (``evidence_rows``): one row per mention
     or residual link with (url, label, canon_id, score, sentence);
  2. the url-local pair kernel (``evidence_pairs``): the evidence is
     hash-partitioned by url once, coalesced to at most one partition per
     core, sorted by url and streamed url by url through ONE
     ``mapInPandas``, where ``doc_pairs`` folds each url's evidence into
     co-occurrence pairs restricted to the typed label pairs (no quadratic
     all-pairs blowup) — at most one pair row per (triple, url);
  3. ``_salted_aggregate``: groupBy (subj, pred, obj) with the k-smallest
     source urls, a salted two-phase aggregation, map-side combined.

Batch (``materialize_triples``), chunked (``partial_triples``) and
streaming (streaming/kg_stream.py) runs all pair with ``doc_pairs`` and
aggregate with ``_salted_aggregate``: the rules below exist once.

Scale notes: the evidence table shuffles exactly once, by url, and a task
holds one url's evidence at a time; the hub-entity skew shows up in the
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
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import PREDICATE_MAP
from .linking import complete_urls

# Source urls kept per triple (the k smallest) and salts of the two-phase
# triple aggregation (_salted_aggregate).
MAX_SOURCES = 64
N_SALTS = 16

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


def evidence_rows(mentions_linked: DataFrame,
                  residual_links: DataFrame | None,
                  canon: DataFrame) -> DataFrame:
    """Pre-aggregation evidence: one row per mention / residual link with
    (url, label, canon_id, score, sentence).  CVE mentions (value, no
    original_id) use the CVE id; the canonical map is broadcast
    (catalog-sized)."""
    m = mentions_linked.select(
        "url",
        F.col("category").alias("label"),
        F.coalesce("original_id", "value").alias("entity_id"),
        F.coalesce("ner_score", F.lit(0.0)).alias("score"),
        "sentence",
    )
    if residual_links is not None:
        m = m.unionByName(residual_links.select(
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
    cross-url best-evidence key of ``_salted_aggregate`` with its url
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


def evidence_pairs(ev: DataFrame, partitions: int | None) -> DataFrame:
    """``evidence_rows`` output -> ``PAIR_SCHEMA`` rows, at most one per
    (triple, url): the url-local pair kernel.

    The evidence is hash-partitioned by url (``partitions`` partitions, or
    the session's shuffle partitions) — the stage's only exchange before
    the triple aggregation — coalesced to at most one partition per core
    (each Python task pays a fixed start-up cost; coalescing keeps every
    url in one task), sorted by url and streamed url by url
    (``linking.complete_urls``) through one ``mapInPandas`` that folds
    each url with ``doc_pairs``."""
    cores = ev.sparkSession.sparkContext.defaultParallelism

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in complete_urls(batches):
            yield _pair_urls(pdf)

    by_url = (ev.repartition(partitions, F.col("url")) if partitions
              else ev.repartition(F.col("url")))
    return (by_url.select("url", "label", "canon_id", "score", "sentence")
            .coalesce(cores)
            .sortWithinPartitions("url")
            .mapInPandas(run, PAIR_SCHEMA))


def _salted_aggregate(pairs: DataFrame, max_sources: int, n_salts: int,
                      round_score: bool) -> DataFrame:
    """The salted two-phase triple aggregation over evidence pairs with at
    most one row per (triple, url) (``PAIR_SCHEMA``): (subj, pred, obj,
    sources, n_sources, bj, score), ``bj`` being the best-evidence key
    struct(s, has_s, url, subj_label) with the justification as payload.

    Hub-entity skew handling (north_rule "salted skew handling"): at
    10^12-doc scale a hub edge's source set has millions of urls, so a
    plain collect_set explodes one reducer.  The source list is therefore
    aggregated in TWO salted phases, each memory-bounded:

      phase 1: group by (subj, pred, obj, salt=crc32(url)%n_salts), keep
               only the ``max_sources`` lexicographically-smallest urls;
      phase 2: merge the per-salt lists and keep the smallest
               ``max_sources`` again.

    Because the global k smallest urls are each among their own salt's k
    smallest, the result is EXACTLY the k smallest source urls —
    deterministic and bounded.  ``n_sources`` is the exact distinct
    source count: a plain row count, since no url repeats within a triple
    (algebraic, skew-safe).  The best-evidence argmax is equally salted
    (max of a max is the max)."""
    bj = F.max(F.struct(F.col("pair_score").alias("s"),
                        F.col("justification").isNotNull().alias("has_s"),
                        "url", "subj_label", "justification"))
    per_salt = (
        pairs
        .withColumn("salt", F.pmod(F.crc32("url"), F.lit(n_salts)))
        .groupBy("subj", "pred", "obj", "salt")
        .agg(
            F.slice(F.sort_array(F.collect_set("url")), 1, max_sources)
             .alias("salt_sources"),
            F.count("url").alias("salt_n"),
            bj.alias("bj"),
            F.max("pair_score").alias("salt_score"),
        )
    )

    score = F.max("salt_score")
    return (
        per_salt.groupBy("subj", "pred", "obj")
        .agg(
            F.slice(
                F.array_sort(F.array_distinct(
                    F.flatten(F.collect_list("salt_sources")))),
                1, max_sources).alias("sources"),
            F.sum("salt_n").alias("n_sources"),
            F.max("bj").alias("bj"),
            (F.round(score, 4) if round_score else score).alias("score"),
        )
    )


def materialize_triples(ev: DataFrame,
                        max_sources: int = MAX_SOURCES,
                        n_salts: int = N_SALTS,
                        partitions: int | None = None) -> DataFrame:
    """evidence -> triples(subj, pred, obj, sources, n_sources,
    justification, score).  ``ev`` is ``evidence_rows`` output (any
    per-(url, label, canon_id) pre-aggregation of it gives the same
    triples); ``partitions`` is the url exchange's partition count."""
    agg = _salted_aggregate(evidence_pairs(ev, partitions), max_sources,
                            n_salts, round_score=True)
    return agg.select("subj", "pred", "obj", "sources", "n_sources",
                      F.col("bj.justification").alias("justification"),
                      "score")


def partial_triples(ev: DataFrame,
                    partitions: int | None = None) -> DataFrame:
    """Chunk-local partial triple aggregate for merge-on-append incremental
    materialization: ``partial_triples_of_pairs`` over the pair kernel."""
    return partial_triples_of_pairs(evidence_pairs(ev, partitions))


def partial_triples_of_pairs(pairs: DataFrame) -> DataFrame:
    """The partial triple aggregate of evidence pairs (``PAIR_SCHEMA``).
    Because chunks and micro-batches partition the corpus BY URL, every
    per-triple statistic here is mergeable exactly:

      part_sources  k-smallest urls within the chunk (the global k smallest
                    are each within their own chunk's k smallest)
      part_n        exact distinct url count (urls disjoint across chunks)
      part_bj       max (s, has_s, url, subj_label) evidence key with the
                    justification as payload — urls are chunk-disjoint,
                    so the cross-chunk max never ties on the key either
      part_score    max pair_score (rounded only at merge time)
    """
    agg = _salted_aggregate(pairs, MAX_SOURCES, N_SALTS, round_score=False)
    return agg.select(
        "subj", "pred", "obj",
        F.col("sources").alias("part_sources"),
        F.col("n_sources").alias("part_n"),
        F.col("bj").alias("part_bj"),
        F.col("score").alias("part_score"))


def merge_partial_triples(partials: DataFrame) -> DataFrame:
    """Merge chunk-partial aggregates into final triples — identical output
    to a single-shot materialize_triples over the full evidence table."""
    return (
        partials.groupBy("subj", "pred", "obj")
        .agg(
            F.slice(
                F.array_sort(F.array_distinct(
                    F.flatten(F.collect_list("part_sources")))),
                1, MAX_SOURCES).alias("sources"),
            F.sum("part_n").alias("n_sources"),
            F.max("part_bj").getField("justification").alias("justification"),
            F.round(F.max("part_score"), 4).alias("score"),
        )
        .select("subj", "pred", "obj", "sources", "n_sources",
                "justification", "score")
    )
