"""Salted two-phase triple materialization: exact k-smallest sources and
exact distinct counts on a skewed hub, identical to a naive single-phase
aggregation."""

import importlib.util as iu
import random
from pathlib import Path

from pyspark.sql import functions as F
from pyspark.sql import types as T

from apt_bron_re_spark.operators.materialize import (
    MAX_SOURCES,
    materialize_triples,
    merge_partial_triples,
    partial_triples,
)

EV_DDL = "url string, label string, canon_id string, score double, sentence string"


def _ev(spark, n_hub=300):
    rows = []
    # hub: G1 co-occurs with T1 in n_hub docs (skewed key)
    for i in range(n_hub):
        rows.append((f"u{i:04d}", "group", "G1", 1.0, f"s{i}"))
        rows.append((f"u{i:04d}", "technique", "T1", 0.5, None))
    # tail: one doc with another pair
    rows.append(("u9999", "group", "G2", 1.0, "tail"))
    rows.append(("u9999", "technique", "T2", 1.0, None))
    return spark.createDataFrame(rows, EV_DDL)


def test_salted_equals_naive_and_bounded(spark):
    ev = _ev(spark)
    out = {(r.subj, r.pred, r.obj): r
           for r in materialize_triples(ev, max_sources=10, n_salts=4).collect()}

    hub = out[("G1", "uses", "T1")]
    assert hub.n_sources == 300
    # exactly the 10 lexicographically-smallest urls
    assert hub.sources == [f"u{i:04d}" for i in range(10)]
    assert hub.score == 0.5  # min(subj, obj) pair score, maxed over docs

    tail = out[("G2", "uses", "T2")]
    assert tail.sources == ["u9999"] and tail.n_sources == 1
    assert tail.justification == "tail"


def test_salted_deterministic(spark):
    ev = _ev(spark, n_hub=97)
    a = materialize_triples(ev, max_sources=7, n_salts=4).collect()
    b = materialize_triples(ev, max_sources=7, n_salts=8).collect()
    ka = {(r.subj, r.pred, r.obj): (tuple(r.sources), r.n_sources) for r in a}
    kb = {(r.subj, r.pred, r.obj): (tuple(r.sources), r.n_sources) for r in b}
    # salt count must not change the result
    assert ka == kb


def test_merged_partials_truncate_like_one_shot(spark):
    """Three url-disjoint chunks of a 300-url hub: merging their partials
    keeps the MAX_SOURCES smallest of the chunks' source lists, so the
    merge truncates as the one-shot aggregation does."""
    ev = _ev(spark)
    chunk = F.pmod(F.crc32("url"), F.lit(3))
    partials = [partial_triples(ev.filter(chunk == i)) for i in range(3)]
    # every chunk's hub list is already full, so the merge must truncate
    for part in partials:
        hub = part.filter(F.col("subj") == "G1").collect()
        assert [len(r.part_sources) for r in hub] == [MAX_SOURCES]
    merged = merge_partial_triples(
        partials[0].unionByName(partials[1]).unionByName(partials[2]))
    want = _by_triple(materialize_triples(ev))
    assert _by_triple(merged) == want

    sources, n_sources, justification, score = want[("G1", "uses", "T1")]
    assert sources == tuple(f"u{i:04d}" for i in range(MAX_SOURCES))
    assert n_sources == 300
    assert (justification, score) == ("s299", 0.5)


# The triples schema: column types and nullability
TRIPLES_SCHEMA = T.StructType([
    T.StructField("subj", T.StringType()),
    T.StructField("pred", T.StringType()),
    T.StructField("obj", T.StringType()),
    T.StructField("sources", T.ArrayType(T.StringType(), False), False),
    T.StructField("n_sources", T.LongType()),
    T.StructField("justification", T.StringType()),
    T.StructField("score", T.DoubleType()),
])


def _by_triple(df):
    return {(r.subj, r.pred, r.obj):
            (tuple(r.sources), r.n_sources, r.justification, r.score)
            for r in df.collect()}


def test_null_canon_id_never_pairs(spark):
    """Evidence with a null canon_id pairs with nothing, as SQL's
    ``s.canon_id != o.canon_id`` is null there, in subject or object
    position; no evidence gives no triples, with the same schema."""
    ev = spark.createDataFrame([
        ("u1", "group", "G1", 1.0, "g"),
        ("u1", "technique", None, 0.9, "n"),
        ("u1", "technique", "T1", 0.8, None),
        ("u2", "group", None, 1.0, "g2"),
        ("u2", "technique", "T1", 0.7, None),
    ], EV_DDL)
    want = {("G1", "uses", "T1"): (("u1",), 1, "g", 0.8)}
    assert _by_triple(materialize_triples(ev)) == want
    assert _by_triple(merge_partial_triples(partial_triples(ev))) == want

    empty = materialize_triples(ev.limit(0))
    assert empty.schema == TRIPLES_SCHEMA
    assert empty.count() == 0


def _ref_interpreter():
    spec = iu.spec_from_file_location(
        "ref_interp",
        Path(__file__).parents[1] / "scripts" / "ref_interpreter.py")
    ri = iu.module_from_spec(spec)
    spec.loader.exec_module(ri)
    return ri


def test_pair_kernel_matches_ref_interpreter(spark):
    """The url-local pair kernel equals the straight-line interpreter on
    evidence with repeated (url, label, canon_id) keys, score ties, null
    sentences and a triple reached through two label pairs in one url,
    with Arrow batches of 3 rows so urls straddle batches."""
    rows = [
        # repeated key, score tie: the larger sentence wins, null lowest
        ("u1", "group", "G1", 0.5, "abc"),
        ("u1", "group", "G1", 0.5, "abd"),
        ("u1", "group", "G1", 0.5, None),
        ("u1", "technique", "T1", 0.9, "t1"),
        ("u1", "technique", "T1", 0.9, None),
        # (G1, uses, X1) through group->technique AND group->software
        ("u2", "group", "G1", 0.7, None),
        ("u2", "technique", "X1", 0.6, "tx"),
        ("u2", "software", "X1", 0.8, None),
        ("u2", "software", "S1", 0.4, "s"),
        ("u2", "technique", "T1", -0.2, None),
        # ties u1 on (G1, uses, T1)'s pair score: u1's subject sentence
        # beats the larger url
        ("u3", "group", "G1", 0.5, None),
        ("u3", "technique", "T1", 0.5, "t3"),
    ]
    for i in range(24):
        url = f"v{i:02d}"
        rows += [(url, "group", f"G{i % 3}", (i % 5) / 4,
                  None if i % 2 else f"g{i}"),
                 (url, "technique", f"T{i % 4}", (i % 3) / 2, f"t{i % 2}"),
                 (url, "software", f"S{i % 2}", 0.5, None)]
        if i % 3 == 0:
            rows.append((url, "group", f"G{i % 3}", (i % 5) / 4, "zz"))
    random.Random(7).shuffle(rows)
    want = {(t["subj"], t["pred"], t["obj"]):
            (tuple(t["sources"]), t["n_sources"], t["justification"],
             t["score"])
            for t in _ref_interpreter().materialize(rows)}
    assert any(k[:2] == ("G1", "uses") and k[2] == "X1" for k in want)

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "3")
    try:
        ev = spark.createDataFrame(rows, EV_DDL)
        assert _by_triple(materialize_triples(ev, partitions=4)) == want
        assert _by_triple(merge_partial_triples(
            partial_triples(ev, partitions=4))) == want
    finally:
        spark.conf.set(conf, prev)
