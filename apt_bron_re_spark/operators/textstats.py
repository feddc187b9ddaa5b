"""Text analysis operators for training-data pipelines: language ID,
stratified sampling, document fingerprinting.

All column-expression based (JVM-side, whole-stage-codegen friendly) except
the rolling-hash fingerprint, which is a vectorized pandas UDF.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Tiny per-language stopword profiles for the n-gram-free heuristic
# language identifier (score = share of profile words present).
_LANG_PROFILES = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "was", "for", "with"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein", "von"],
    "fr": ["le", "la", "et", "les", "des", "est", "une", "dans", "pour"],
    "es": ["el", "la", "los", "las", "una", "es", "en", "por", "para"],
}


def stratified_sample(df: DataFrame, key_col: str, strata_col: str,
                      rates: dict[str, float],
                      default_rate: float = 0.0) -> DataFrame:
    """Deterministic hash-threshold stratified sampling.

    Keeps a row iff the first two hex chars of ``md5(key)`` fall below
    the stratum's threshold — the standard way to take a reproducible
    subsample of a web-scale corpus: the predicate is a scan-local
    filter on a hash of a stable key (no shuffle, no RNG state, no
    seed-per-partition coupling like ``df.sample``), the SAME rows are
    selected on every run, engine, and partitioning, and membership is
    stable under corpus growth (a doc's bucket never changes, so an
    incremental run samples exactly the old rows plus its share of the
    new).  Rate granularity is 1/256 per stratum (two hex chars);
    thresholds compare lexicographically, which is identical for
    lowercase-hex strings across engines — the DuckDB oracle replays
    the exact predicate.

    Appends ``sample_bucket`` (the hex bucket) so the selection is
    auditable row-by-row.
    """
    def _thr(rate: float) -> str:
        t = round(max(0.0, min(1.0, rate)) * 256)
        # 'g' sorts after every hex char: rate 1.0 keeps ALL buckets
        # ('ff' < '100' is false lexicographically, so a plain hex
        # threshold cannot express "keep everything")
        return "g" if t >= 256 else format(t, "02x")

    bucket = F.substring(F.md5(F.col(key_col).cast("string")), 1, 2)
    thr = F.lit(_thr(default_rate))
    for stratum in sorted(rates, reverse=True):
        thr = F.when(F.col(strata_col) == stratum,
                     F.lit(_thr(rates[stratum]))).otherwise(thr)
    return (df.withColumn("sample_bucket", bucket)
            .filter(F.col("sample_bucket") < thr))


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: argmax profile-stopword share per doc."""
    toks = F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    scores = F.array(*[
        F.struct(
            (F.size(F.array_intersect(
                toks, F.array(*[F.lit(w) for w in words])))
             .cast("double") / len(words)).alias("score"),
            F.lit(lang).alias("lang"),
        )
        for lang, words in sorted(_LANG_PROFILES.items())
    ])
    best = F.array_max(scores)
    return docs.select(
        "doc_id",
        best.getField("lang").alias("pred_lang"),
        F.round(best.getField("score"), 4).alias("lang_score"),
    )


FP_BASE, FP_MOD, FP_WIN = 257, (1 << 61) - 1, 16
_FP_LUT: "np.ndarray | None" = None


def _fp_lut() -> "np.ndarray":
    """(WIN x 256) table of (byte * BASE^(WIN-1-j)) mod MOD — precomputed
    with exact Python ints so the vectorized path never overflows."""
    global _FP_LUT
    if _FP_LUT is None:
        tbl = np.empty((FP_WIN, 256), dtype=np.uint64)
        for j in range(FP_WIN):
            p = pow(FP_BASE, FP_WIN - 1 - j, FP_MOD)
            for byte in range(256):
                tbl[j, byte] = (byte * p) % FP_MOD
        _FP_LUT = tbl
    return _FP_LUT


def _window_hashes(t: bytes) -> "np.ndarray":
    """Polynomial hash of every WIN-byte window, fully vectorized: the
    per-(position j, byte) term (byte * BASE^(WIN-1-j)) mod MOD comes from
    a 16x256 lookup table, so each window hash is 16 gathers + modular
    adds over the whole document at once — no per-byte Python loop.
    Algebraically identical (exact modular arithmetic) to the sequential
    Rabin-Karp recurrence."""
    arr = np.frombuffer(t, dtype=np.uint8)
    n = arr.size - FP_WIN + 1
    lut = _fp_lut()
    mod = np.uint64(FP_MOD)
    acc = np.zeros(n, dtype=np.uint64)
    for j in range(FP_WIN):
        acc += lut[j][arr[j:j + n]]
        # each term < 2^61; reduce every 7 adds so acc stays < 2^64
        if j % 7 == 6 or j == FP_WIN - 1:
            acc = (acc & mod) + (acc >> np.uint64(61))
    acc[acc >= mod] -= mod
    return acc


@F.pandas_udf(T.ArrayType(T.LongType()))
def _rolling_hashes_udf(texts: pd.Series) -> pd.Series:
    """Rabin-Karp hash over 16-char windows, sampled where hash % 32 == 0
    (content-defined fingerprint anchors): the 64 smallest distinct anchors
    per doc.  The whole Arrow batch is hashed as ONE concatenated byte
    array (windows that straddle doc boundaries are computed but never
    selected — each doc's slice stops 15 bytes before its end), so the
    vectorization amortizes across documents instead of per-doc."""
    bs = [(text or "").encode("utf-8", errors="replace") for text in texts]
    n_docs = len(bs)
    lens = np.fromiter((len(b) for b in bs), dtype=np.int64, count=n_docs)
    total = b"".join(bs)
    if len(total) < FP_WIN:
        return pd.Series([[] for _ in bs])
    h_all = _window_hashes(total)

    # valid window starts for doc d: [off_d, off_d + len_d - WIN]
    offs = np.concatenate(([0], np.cumsum(lens)))
    pos = np.flatnonzero(h_all % np.uint64(32) == 0)
    doc = np.searchsorted(offs, pos, side="right") - 1
    valid = pos <= offs[doc] + lens[doc] - FP_WIN
    pos, doc = pos[valid], doc[valid]
    vals = h_all[pos]

    # per-doc sorted-unique capped at 64, all batch-level numpy
    order = np.lexsort((vals, doc))
    doc, vals = doc[order], vals[order]
    keep = np.ones(doc.size, dtype=bool)
    keep[1:] = (doc[1:] != doc[:-1]) | (vals[1:] != vals[:-1])
    doc, vals = doc[keep], vals[keep]
    starts = np.searchsorted(doc, np.arange(n_docs))
    ends = np.searchsorted(doc, np.arange(n_docs), side="right")
    out = [
        [int(x) for x in vals[s:min(e, s + 64)]]
        for s, e in zip(starts, ends)
    ]
    return pd.Series(out)


def fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Content-defined fingerprint anchor sets per doc — overlapping
    anchors across docs indicate shared passages (winnowing-style)."""
    return docs.select(
        "doc_id", _rolling_hashes_udf(F.col(text_col)).alias("anchors"))


def shared_passage_pairs(docs: DataFrame, min_shared: int = 3,
                         text_col: str = "text") -> DataFrame:
    """Doc pairs sharing >= min_shared fingerprint anchors (equi-join on
    anchor, then count per pair — no quadratic scan).

    Round 7 kept the JVM join after MEASURING the alternative: a
    list-shape rewrite (collect_set per anchor -> vectorized
    np.triu_indices pair generation in mapInPandas -> balanced count
    groupBy) removes the hub-anchor join-task skew (sf1.0: two ~2,850-
    doc anchors put 16M of the 39.5M pair rows into two tasks), but it
    ships every generated pair across the Arrow boundary — 13.1 s vs
    the join's 3.9-7.6 s at sf1.0 (the optimization guide's "every
    Python path pays for moving data" warning, measured).  The pair
    volume itself (sum of c^2 over anchor frequencies) is inherent to
    the query's semantics, so the join stays; the experiment and
    numbers are recorded in OPTIMIZATION_r07.md."""
    fp = fingerprints(docs, text_col).select(
        "doc_id", F.explode("anchors").alias("anchor"))
    a = fp.select(F.col("doc_id").alias("a_id"), "anchor")
    b = fp.select(F.col("doc_id").alias("b_id"), "anchor")
    return (
        a.join(b, "anchor")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
