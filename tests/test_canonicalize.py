"""Stage-4 connected-components tests: generic operator on a skewed graph
(FIXTURES.md §7) and the alias-graph canonical map."""

import apt_bron_re_spark.operators.canonicalize as canonicalize
from apt_bron_re_spark.operators.canonicalize import (
    _driver_canon_rows,
    alias_edges,
    canonical_map,
    connected_components,
)


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("z", "z")],
        "src string, dst string")
    comp = {r.id: r.component for r in connected_components(edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == "x"
    assert comp["z"] == "z"


def test_connected_components_skewed_hub(spark):
    # One hub connected to 200 spokes + a 30-node chain (worst case for
    # min-propagation rounds) — exercises the salted aggregation path.
    hub = [("hub", f"spoke{i:03d}") for i in range(200)]
    chain = [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(30)]
    edges = spark.createDataFrame(hub + chain, "src string, dst string")
    comp = {r.id: r.component
            for r in connected_components(edges, n_salts=4).collect()}
    assert len({comp[f"spoke{i:03d}"] for i in range(200)}) == 1
    assert comp["hub"] == comp["spoke000"]
    assert len({comp[f"c{i:02d}"] for i in range(31)}) == 1


def test_canonical_map_merges_shared_alias(spark, layer_map):
    canon = {(r.label, r.original_id): r.canon_id
             for r in canonical_map(spark, layer_map).collect()}
    # G0102 and G0104 share the alias "Cobalt Viper" -> one canonical id
    assert canon[("group", "G0102")] == canon[("group", "G0104")] == "G0102"
    # Phishing exists as technique and capec but labels never merge
    assert canon[("technique", "T1566")] == "T1566"
    assert canon[("capec", "CAPEC-98")] == "CAPEC-98"
    # an alias-free group maps to itself
    assert canon[("group", "G0107")] == "G0107"


def test_canonical_map_driver_vs_distributed_parity(spark, layer_map,
                                                    monkeypatch):
    """The size-adaptive dispatch must be invisible: the driver-side
    union-find fast path and the distributed salted CC path produce the
    IDENTICAL row set on the same catalog (this is what lets the canon
    cache fingerprint skip a CANON_ALGO_VERSION bump)."""
    fast = set(map(tuple, _driver_canon_rows(alias_edges(layer_map))))
    # force the distributed path by making every edge list "too big"
    monkeypatch.setattr(canonicalize, "DRIVER_CC_MAX_EDGES", -1)
    slow = {(r.label, r.original_id, r.canon_id)
            for r in canonical_map(spark, layer_map).collect()}
    assert fast == slow and fast


def test_driver_canon_rows_union_find():
    """Pure union-find semantics on a crafted graph: transitive merge
    through a shared surface node, label isolation, dedup of repeated
    edges, min-id canon selection."""
    edges = [
        ("group:G2", "group:~apt x"), ("group:G1", "group:~apt x"),
        ("group:G1", "group:~apt x"),             # duplicate edge
        ("group:G3", "group:~other"),
        ("tool:G1", "tool:~apt x t"),             # same oid, other label
    ]
    rows = _driver_canon_rows(edges)
    assert rows == [
        ("group", "G1", "G1"), ("group", "G2", "G1"),
        ("group", "G3", "G3"), ("tool", "G1", "G1"),
    ]


def test_local_table_equals_list_path(spark, layer_map):
    """The catalog-sized tables (canonical map, CC driver path, typed
    predicates) are built from a pandas frame: rows and schema must equal
    ``createDataFrame`` on the list of tuples, empty tables included."""
    from apt_bron_re_spark.config import PREDICATE_MAP
    from apt_bron_re_spark.session import local_table

    tables = [
        (_driver_canon_rows(alias_edges(layer_map)),
         "label string, original_id string, canon_id string"),
        ([(a, b, p) for (a, b), p in PREDICATE_MAP.items()],
         "subj_label string, obj_label string, pred string"),
        ([("a", None), (None, "b")], "id string, component string"),
        ([], "id string, component string"),
    ]
    for rows, ddl in tables:
        want = spark.createDataFrame(rows, ddl)
        got = local_table(spark, rows, ddl)
        assert got.schema == want.schema
        assert sorted(map(tuple, got.collect()), key=repr) == \
            sorted(map(tuple, want.collect()), key=repr)
