"""L2-L6 linking tests: variant same/cross-label scores, semantic θ-join
threshold behaviour, and merge max-score/annotation semantics
(reference ner.py:152-212, 281-339)."""

import pytest
from pyspark.sql import Row

from apt_bron_re_spark.operators.linking import (
    build_links,
    merge_links,
    semantic_links,
    variant_links,
)


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
