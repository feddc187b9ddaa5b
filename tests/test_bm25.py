"""A3/A4 BM25 tests against hand-computed goldens (formula from reference
statistics.py:69-71, k1=1.5, b=0.75)."""

import math

from apt_bron_re_spark.operators.bm25 import (
    add_bm25_frozen,
    bm25_global_stats,
    doc_lengths,
)

MENTION_DDL = (
    "url string, category string, name string, original_id string, "
    "value string, index long, alias string, software_type string, "
    "product string, vendor string, version string, ner_score double, "
    "sentence string")


def expected_score(f, n, m, dl, avgdl, k1=1.5, b=0.75):
    idf = math.log((m - n + 0.5) / (n + 0.5) + 1)
    denom = f + k1 * (1 - b + b * (dl / avgdl))
    return round(idf * (f * (k1 + 1)) / denom, 4)


def _mention(url, category, name, original_id, index):
    return (url, category, name, original_id, None, index,
            None, None, None, None, None, 0.0, None)


def test_doc_lengths(spark):
    docs = spark.createDataFrame(
        [("u1", "alpha beta alpha."), ("u2", "alpha gamma")],
        "url string, text string")
    got = {r.url: r.dl for r in doc_lengths(docs).collect()}
    assert got == {"u1": 3, "u2": 2}


def test_bm25_hand_computed(spark):
    docs = spark.createDataFrame(
        [("u1", "alpha beta alpha."), ("u2", "alpha gamma")],
        "url string, text string")
    mentions = spark.createDataFrame([
        _mention("u1", "group", "Alpha", "G1", 0),
        _mention("u1", "group", "Alpha", "G1", 12),   # same key, f=2
        _mention("u1", "group", "Beta", "G2", 6),
        _mention("u2", "group", "Alpha", "G1", 0),
        _mention("u1", "cve", None, None, 3),         # unscored label
    ], MENTION_DDL)
    dls = doc_lengths(docs)
    stats, df_ = bm25_global_stats(mentions, dls)
    out = add_bm25_frozen(mentions, dls, stats, df_)
    rows = out.collect()
    m, avgdl = 2, 2.5

    by_key = {(r.url, r.original_id, r["index"]): r.bm25_score for r in rows}
    assert by_key[("u1", "G1", 0)] == expected_score(f=2, n=2, m=m, dl=3, avgdl=avgdl)
    assert by_key[("u1", "G1", 12)] == by_key[("u1", "G1", 0)]
    assert by_key[("u1", "G2", 6)] == expected_score(f=1, n=1, m=m, dl=3, avgdl=avgdl)
    assert by_key[("u2", "G1", 0)] == expected_score(f=1, n=2, m=m, dl=2, avgdl=avgdl)
    # cve row passes through with NULL score
    assert by_key[("u1", None, 3)] is None
    assert out.count() == 5


def test_bm25_rank(spark):
    from apt_bron_re_spark.operators.bm25 import bm25_rank
    rows = [
        ("u1", "group", 3.0, 10), ("u1", "group", 1.0, 5),
        ("u1", "cve", 2.0, 1), ("u2", "group", 9.0, 2),
    ]
    df = spark.createDataFrame(
        rows, "url string, category string, bm25_score double, index long")
    got = {(r.url, r.category, r["index"]): r.bm25_rank
           for r in bm25_rank(df).collect()}
    # per (url, category) descending-score rank (reference statistics.py:72-73)
    assert got[("u1", "group", 10)] == 1
    assert got[("u1", "group", 5)] == 2
    assert got[("u1", "cve", 1)] == 1
    assert got[("u2", "group", 2)] == 1
