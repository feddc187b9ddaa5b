"""Stage 5 — triple materialization (A10 / S10 in SURVEY.md).

Edge shape per the reference's output spec (README.md:47-58):
``{from, to, source[], justification}`` — the rebuild adds a typed ``pred``
(config.PREDICATE_MAP) and a confidence ``score``.

Pipeline:
  1. per-document *evidence* rows: one row per (url, label, canon_id) with
     the best score + sentence (mentions + residual links, canonicalized);
  2. doc-level co-occurrence pairing restricted to the typed label pairs
     (no quadratic all-pairs blowup);
  3. groupBy (subj, pred, obj) with the k-smallest source urls — the
     partial+final aggregation Catalyst already optimizes.

Scale notes: the pairing is a row-local double explode over per-url
entity arrays (bounded fan-out: a doc has few entities) — no self-join,
so the evidence table shuffles exactly once; the hub-entity skew shows up
in the final groupBy, which is algebraic (set-union/max) and map-side
combined; AQE handles the rest.  The output table should be partitioned
by ``pred`` (S10).

Argmax-first justification (round 3): justification SENTENCES never ride
the pairing self-join.  The pairing/aggregation runs on a narrow evidence
projection (url, label, canon_id, score, has_sentence) and each triple's
best-evidence KEY — max(struct(pair_score, has_sentence, url,
subj_label)) — is aggregated instead of the sentence string; the sentence
is attached afterwards by ONE narrow equi-join against the per-(url,
label, canon_id) best-sentence table.  This shrinks the dominant shuffle
(the pairing join fans every evidence row out by its co-occurrence count)
from sentence-bearing rows to ~40-byte keys.  Tie-break rule (pinned by
scripts/ref_interpreter.py and the gold fixtures): among a triple's
evidence rows, prefer higher pair_score, then rows that carry a sentence,
then the lexicographically LARGEST source url, then the largest subject
label; the justification is that row's (url, subj_label, subj) evidence
sentence.  (Rounds 1-2 tie-broke equal-score rows by the sentence string
itself, which forced sentences through every aggregation buffer.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PREDICATE_MAP
from ..session import local_table

# Source urls kept per triple (the k smallest) and salts of the two-phase
# triple aggregation (_triple_aggregate).
MAX_SOURCES = 64
N_SALTS = 16


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


def _evidence_sentences(ev: DataFrame) -> DataFrame:
    """(url, label, canon_id, sentence): the argmax-score sentence per
    evidence key (ties: max sentence string; null sorts lowest).  A plain
    partial+final aggregation — the shuffle carries at most one sentence
    per (key, map task).

    The ``_ohash`` companion aggregate exists ONLY to flip the physical
    aggregation from SortAggregate to ObjectHashAggregate: Spark hashes
    only primitive-buffer aggregates, so a bare max(struct(double,
    string)) SORT-aggregates — a full sort of the sentence-bearing scan
    that profiling showed anti-scaling (round-4).  A TypedImperative
    aggregate in the group (collect_set of a constant: one tiny set per
    key) makes the planner pick ObjectHashAggregateExec for the whole
    group — hash-based, no sort, identical results.  The output must
    REFERENCE the companion (a non-foldable always-true guard) or column
    pruning deletes it and the sort returns."""
    agg = (
        ev.groupBy("url", "label", "canon_id")
        .agg(F.max(F.struct(F.col("score").alias("s"), "sentence"))
              .alias("_mx"),
             F.collect_set(F.lit(1)).alias("_ohash"))
    )
    return agg.select(
        "url", "label", "canon_id",
        F.when(F.size("_ohash") > 0, F.col("_mx.sentence"))
         .alias("sentence"))


def _narrow_evidence(ev: DataFrame, partitions: int | None) -> DataFrame:
    """Sentence-free per-doc evidence: (url, label, canon_id, score,
    has_sentence).  ``has_sentence`` is true iff the argmax-score sentence
    for the key is non-null — computed from a boolean BEFORE the shuffle so
    column pruning drops the sentence string from this branch's scan."""
    m = ev.select("url", "label", "canon_id", "score",
                  F.col("sentence").isNotNull().alias("has_s"))
    if partitions:
        # HashPartitioning(url) satisfies every downstream clustering whose
        # keys include url: the groupBy and BOTH pairing-join branches run
        # exchange-free on this single narrow shuffle (ReuseExchange
        # collapses the two identical branches to one physical exchange).
        m = m.repartition(partitions, F.col("url"))
    # has_sentence = "the argmax-score row carries a sentence", expressed
    # as two PRIMITIVE maxes (max score overall vs max score among
    # sentence rows) instead of max(struct(score, has_s)): a struct
    # aggregation buffer forces SortAggregate (full sort of the evidence
    # table — round-4 profiling), while double-buffer maxes whole-stage
    # HashAggregate.  Equivalent by case analysis: the struct max picks
    # has_s=true iff some max-score row has a sentence iff
    # max(score | has_s) == max(score).
    return (
        m.groupBy("url", "label", "canon_id")
        .agg(F.max("score").alias("score"),
             F.coalesce(
                 F.max(F.when(F.col("has_s"), F.col("score")))
                 >= F.max("score"),
                 F.lit(False)).alias("has_sentence"))
    )


def _pairs(evn: DataFrame) -> DataFrame:
    """Doc-level co-occurrence pairing over NARROW evidence — as a
    row-local explode, NOT a self-join.

    A url's evidence entities are collected into one array (groupBy url —
    exchange-free under the upstream url partitioning) and the pair
    fan-out happens INSIDE the row via a double explode + broadcast join
    against the typed predicate table.  Compared with the rounds-1/2
    url-keyed self-join this removes a second data-sized shuffle+sort of
    the evidence table and the AQE broadcast-vs-SMJ instability it had to
    pin down (a self-join materializes both sides; rows 1-2 forced
    shuffle_merge because AQE sporadically broadcast the data-sized b
    side).  Memory per row is bounded by a DOCUMENT's distinct entity
    count — the same bound the self-join's per-url sort buffer had."""
    spark = evn.sparkSession
    preds = local_table(
        spark, [(a, b, p) for (a, b), p in PREDICATE_MAP.items()],
        "subj_label string, obj_label string, pred string")
    ents = (
        evn.groupBy("url")
        .agg(F.collect_list(
            F.struct("label", "canon_id", "score", "has_sentence"))
            .alias("ents"))
    )
    return (
        ents
        .select("url", "ents", F.explode("ents").alias("s"))
        .select("url", F.col("s"), F.explode("ents").alias("o"))
        .join(F.broadcast(preds),
              (F.col("s.label") == F.col("subj_label"))
              & (F.col("o.label") == F.col("obj_label")))
        .filter(F.col("s.canon_id") != F.col("o.canon_id"))
        .select(
            "url", "subj_label",
            F.col("s.canon_id").alias("subj"),
            F.col("o.canon_id").alias("obj"),
            "pred",
            F.col("s.has_sentence").alias("subj_has_s"),
            F.least(F.greatest(F.col("s.score"), F.lit(0.0)),
                    F.greatest(F.col("o.score"), F.lit(0.0)))
             .alias("pair_score"))
    )


def _bj(*payload):
    """Best-evidence KEY aggregate per triple: (score, has-sentence, url,
    subj_label) — the justification attaches by key after aggregation,
    never rides it.  ``payload`` columns ride after the key; they never
    decide a comparison when a triple has at most one pair row per url."""
    return F.max(F.struct(F.col("pair_score").alias("s"),
                          F.col("subj_has_s").alias("has_s"),
                          F.col("url"),
                          F.col("subj_label"),
                          *payload))


def _attach_justification(agg: DataFrame, ev_sent: DataFrame,
                          bj: str = "bj") -> DataFrame:
    """One narrow equi-join: triple best-evidence key -> sentence.

    Pinned to a shuffle join: ev_sent scales with the data (one sentence
    per doc-entity), and an AQE runtime broadcast of it is a serial
    driver-side hash build — observed as a bimodal materialize stage
    (80 s <-> 220 s at 256k pages) before the hint, the same failure
    class round 2 pinned out of the old pairing self-join.  shuffle_HASH
    with the triple side as build (round 4; was shuffle_merge): the
    aggregated triple side is catalog-bounded (subj/obj are canonical
    catalog ids) while ev_sent is data-sized — hashing the small side
    skips sorting BOTH shuffled streams.

    NOTE: building the LEFT (stream-preserved) side of a LEFT OUTER
    shuffle_hash join requires Spark >= 3.5 (SPARK-36612); earlier
    planners silently fall back to sort-merge (correctness unaffected,
    the round-4 sort-free win lost).  scripts/explain_audit.py asserts
    ShuffledHashJoin in the materialize stage plan so a silent fallback
    fails the audit."""
    joined = agg.hint("shuffle_hash").join(
        ev_sent,
        (F.col(f"{bj}.url") == ev_sent.url)
        & (F.col(f"{bj}.subj_label") == ev_sent.label)
        & (agg.subj == ev_sent.canon_id),
        "left")
    return joined.select(
        *[agg[c] for c in agg.columns],
        ev_sent.sentence.alias("justification"))


def _triple_aggregate(ev: DataFrame, max_sources: int, n_salts: int,
                      partitions: int | None,
                      round_score: bool) -> DataFrame:
    """Evidence -> (subj, pred, obj, sources, n_sources, bj, score,
    justification) for ``materialize_triples`` and ``partial_triples``:
    the narrow evidence is paired, aggregated by ``_salted_aggregate`` and
    the justification attached by the best-evidence key."""
    pairs = _pairs(_narrow_evidence(ev, partitions))
    agg = _salted_aggregate(pairs, _bj(), max_sources, n_salts, round_score)
    return _attach_justification(agg, _evidence_sentences(ev))


def _salted_aggregate(pairs: DataFrame, bj, max_sources: int, n_salts: int,
                      round_score: bool) -> DataFrame:
    """The salted two-phase triple aggregation over evidence pairs (subj,
    pred, obj, url, subj_label, pair_score, subj_has_s): (subj, pred, obj,
    sources, n_sources, bj, score), ``bj`` being the per-salt ``_bj``
    aggregate it is handed.

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
    deterministic and bounded.  ``n_sources`` carries the exact distinct
    source count (algebraic, skew-safe).  The best-justification argmax is
    equally salted (max of a max is the max) and carries only the
    evidence KEY; the sentence attaches afterwards (module docstring)."""
    per_salt = (
        pairs
        .withColumn("salt", F.pmod(F.crc32("url"), F.lit(n_salts)))
        .groupBy("subj", "pred", "obj", "salt")
        .agg(
            F.slice(F.sort_array(F.collect_set("url")), 1, max_sources)
             .alias("salt_sources"),
            F.countDistinct("url").alias("salt_n"),
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
    justification, score).  ``ev`` is ``evidence_rows`` output (raw rows
    let the narrow branch prune sentences from its scan; any per-(url,
    label, canon_id) pre-aggregation of it gives the same triples).  The
    aggregation is ``_triple_aggregate``'s salted two-phase one."""
    out = _triple_aggregate(ev, max_sources, n_salts, partitions,
                            round_score=True)
    return out.select("subj", "pred", "obj", "sources", "n_sources",
                      "justification", "score")


def partial_triples(ev: DataFrame,
                    partitions: int | None = None) -> DataFrame:
    """Chunk-local partial triple aggregate for merge-on-append incremental
    materialization.  Because chunks partition the corpus BY URL, every
    per-triple statistic here is mergeable exactly:

      part_sources  k-smallest urls within the chunk (the global k smallest
                    are each within their own chunk's k smallest)
      part_n        exact distinct url count (urls disjoint across chunks)
      part_bj       max (s, has_s, url, subj_label) evidence key, with the
                    chunk-local justification attached as a PAYLOAD field —
                    urls are chunk-disjoint, so the cross-chunk max can
                    never tie on (s, has_s, url) across chunks and the
                    payload never decides a comparison
      part_score    max pair_score (rounded only at merge time)
    """
    with_j = _triple_aggregate(ev, MAX_SOURCES, N_SALTS, partitions,
                               round_score=False)
    return _as_partial(with_j, F.struct(
        F.col("bj.s").alias("s"),
        F.col("bj.has_s").alias("has_s"),
        F.col("bj.url").alias("url"),
        F.col("bj.subj_label").alias("subj_label"),
        F.col("justification").alias("justification")))


def partial_triples_of_pairs(pairs: DataFrame) -> DataFrame:
    """``partial_triples`` over evidence PAIRS that are already folded per
    url: (subj, pred, obj, url, subj_label, pair_score, justification),
    at most one row per (triple, url) — the output of the row-local
    pairing kernel ``streaming.kg_stream.stream_evidence_pairs``.  Same
    salted aggregate, same output schema; the justification is the winning
    pair's own, so it rides the best-evidence key as a payload instead of
    being joined back."""
    agg = _salted_aggregate(
        pairs.withColumn("subj_has_s", F.col("justification").isNotNull()),
        _bj(F.col("justification")), MAX_SOURCES, N_SALTS, round_score=False)
    return _as_partial(agg, F.col("bj"))


def _as_partial(agg: DataFrame, part_bj) -> DataFrame:
    """The partial-aggregate schema ``merge_partial_triples`` reads."""
    return agg.select(
        "subj", "pred", "obj",
        F.col("sources").alias("part_sources"),
        F.col("n_sources").alias("part_n"),
        part_bj.alias("part_bj"),
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
