"""L2-L6 linking tests: variant same/cross-label scores, semantic θ-join
threshold behaviour, merge max-score/annotation semantics (reference
ner.py:152-212, 281-339), and the url-local link-stage kernel against the
DataFrame composition of the same rules."""

import random

import pytest
from pyspark.sql import functions as F

from apt_bron_re_spark.operators import mention
from apt_bron_re_spark.operators.bm25 import add_bm25_frozen, bm25_global_stats
from apt_bron_re_spark.operators.linking import (
    build_links,
    link_stage,
    merge_links,
    semantic_links,
    spark_round,
    variant_links,
)
from apt_bron_re_spark.plans.pipeline import Pipeline


@pytest.fixture()
def residues(spark):
    return spark.createDataFrame([
        ("u1", "group", "mantis-crew"),        # alias of G0101 (same label)
        ("u1", "technique", "BloodHound"),     # software name (cross label)
        ("u2", "group", "Azure Serpent"),      # group name (same label)
        ("u1", "group", "zzz unknown"),        # links nowhere
        ("u3", "group", "Obsidian Tigr"),      # semantic only (typo)
    ], "url string, bucket string, value string")


def test_variant_links_same_and_cross(spark, residues, layer_map):
    rows = variant_links(residues, layer_map).collect()
    by_val = {}
    for r in rows:
        by_val.setdefault(r.ner, []).append(r)

    same = [r for r in by_val["mantis-crew"] if r.original_id == "G0101"]
    assert len(same) == 1
    assert same[0].link_ner_score == 1.0
    assert same[0].label == "group"
    assert same[0].match_type == "variant"

    cross = [r for r in by_val["bloodhound"] if r.original_id == "S0521"]
    assert len(cross) == 1
    assert cross[0].link_ner_score == 0.5       # bucket technique != software

    assert [r for r in rows if r.ner == "azure serpent"][0].link_ner_score == 1.0
    assert "zzz unknown" not in by_val
    assert "obsidian tigr" not in by_val        # typo is not a variant


def test_semantic_links_threshold(spark, residues, layer_map):
    rows = semantic_links(residues, layer_map).collect()
    tigr = [r for r in rows if r.ner == "Obsidian Tigr"]
    assert tigr, "typo must clear the 0.8 cosine threshold"
    assert any(r.original_id == "G0106" for r in tigr)
    t = [r for r in tigr if r.original_id == "G0106"][0]
    assert t.link_ner_score == 1.0              # same label (group bucket)
    assert t.match_type == "semantic"
    assert t.semantic_score is not None and t.semantic_score >= 0.8
    assert not [r for r in rows if r.ner == "zzz unknown"]


def test_merge_links_max_score_and_residual(spark, residues, layer_map):
    links = build_links(residues, layer_map)
    mentions = spark.createDataFrame(
        [("u1", "group", "Crimson Mantis", "G0101", None, 5, None, None,
          None, None, None, 0.0, "s", 1.0)],
        "url string, category string, name string, original_id string, "
        "value string, index long, alias string, software_type string, "
        "product string, vendor string, version string, ner_score double, "
        "sentence string, bm25_score double")
    merged, residual = merge_links(mentions, links)

    m = merged.collect()[0]
    assert m.ner_score == 1.0                   # max(0.0, link 1.0) ner.py:321-326
    assert m.ner == "mantis-crew"
    assert m.match_type in ("variant", "semantic")

    res = {(r.url, r.category, r.original_id) for r in residual.collect()}
    # Azure Serpent (u2) and the semantic typo link (u3) have no mention row
    assert ("u2", "group", "G0102") in res
    assert ("u3", "group", "G0106") in res
    # G0101 on u1 was merged, not residual
    assert ("u1", "group", "G0101") not in res


def test_merge_links_mention_keys_equivalent(spark, residues, layer_map):
    """The narrow mention_keys fast path (pipeline shape) must produce
    outputs identical to the default key derivation."""
    from pyspark.sql import functions as F

    links = build_links(residues, layer_map)
    mentions = spark.createDataFrame(
        [("u1", "group", "Crimson Mantis", "G0101", None, 5, None, None,
          None, None, None, 0.0, "s", 1.0),
         ("u2", "technique", "Phantom Loader", "T1204", None, 9, None,
          None, None, None, None, 0.7, "t", 0.5)],
        "url string, category string, name string, original_id string, "
        "value string, index long, alias string, software_type string, "
        "product string, vendor string, version string, ner_score double, "
        "sentence string, bm25_score double")
    keys = (mentions.select(
        "url", "category",
        F.lower(F.coalesce("original_id", F.lit(""))).alias("oid_l"))
        .distinct())

    m_def, r_def = merge_links(mentions, links)
    m_key, r_key = merge_links(mentions, links, mention_keys=keys)
    assert sorted(map(tuple, m_def.collect())) == \
        sorted(map(tuple, m_key.collect()))
    assert sorted(map(tuple, r_def.collect())) == \
        sorted(map(tuple, r_key.collect()))


def test_spark_round_matches_f_round(spark):
    """RowLinker rounds semantic scores like the batch ``F.round(x, 4)``:
    HALF_UP on the decimal string, not Python's half-to-even on the binary
    value (0.90625 is a tie a float32 cosine can hit exactly)."""
    rng = random.Random(7)
    xs = [0.84375, 0.90625, 0.96875] + [rng.random() for _ in range(1000)]
    df = spark.createDataFrame([(i, x) for i, x in enumerate(xs)],
                               "i int, x double")
    want = {r["i"]: r["r"] for r in
            df.select("i", F.round("x", 4).alias("r")).collect()}
    assert [spark_round(x) for x in xs] == [want[i] for i in range(len(xs))]
    assert spark_round(0.90625) == 0.9063


def _bucketed(df, n):
    return df.withColumn("pbucket", F.pmod(F.hash("url"), F.lit(n)).cast("int"))


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _assert_kernel_equals_composition(spark, pages, layer_map, base, n=8):
    # the mention stage exactly as Pipeline.run writes it, minus pbucket
    stage2 = Pipeline(spark, layer_map, base, n_buckets=n)._mentions(
        pages).drop("pbucket").persist()
    try:
        m = mention.mentions_view(stage2)
        dls = mention.doc_lengths_view(stage2)
        stats, df_ = bm25_global_stats(m, dls)
        want_m, want_r = merge_links(
            add_bm25_frozen(m, dls, stats, df_),
            build_links(mention.residue_view(stage2), layer_map))
        got_m, got_r, rows = link_stage(stage2, stats, df_, layer_map, n)
        rows.persist()
        for got, want in ((got_m, want_m), (got_r, want_r)):
            got, want = _bucketed(got, n), _bucketed(want, n)
            assert got.columns == want.columns
            assert got.dtypes == want.dtypes
            assert _rows(got) == _rows(want)
        # the input exercises every branch: annotated mentions, semantic
        # links, residual links and unscored (passthrough) rows
        assert got_m.filter(F.col("match_type") == "semantic").count() > 0
        assert got_m.filter(F.col("bm25_score").isNull()).count() > 0
        assert got_r.count() > 0
        rows.unpersist()
    finally:
        stage2.unpersist()


def test_kernel_equals_composition_on_repeated_urls(spark, layer_map,
                                                   tmp_path):
    """Pages 50-59 reuse the urls of pages 0-9 with other content: the
    kernel must merge every row of a url before linking, and emit a
    scored row once per doc row of its url, as the dl join does."""
    from apt_bron_re_spark.sources.pages import generate_page
    from apt_bron_re_spark.streaming.mention_stream import PAGE_DDL

    rows = [generate_page(i, 1) for i in range(60)]
    for i in range(50, 60):
        rows[i]["url"] = rows[i - 50]["url"]
    cols = [c.split()[0] for c in PAGE_DDL.split(", ")]
    pages = spark.createDataFrame(
        [tuple(r[c] for c in cols) for r in rows], PAGE_DDL).repartition(3)
    _assert_kernel_equals_composition(spark, pages, layer_map, tmp_path)


def test_kernel_equals_composition_on_corpus(spark, layer_map, tmp_path):
    from apt_bron_re_spark.sources.pages import pages_df
    _assert_kernel_equals_composition(spark, pages_df(spark, 200),
                                      layer_map, tmp_path, n=32)
