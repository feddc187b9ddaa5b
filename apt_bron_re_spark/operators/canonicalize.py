"""Stage 4 — canonicalization via distributed connected components.

The reference collapses surface forms to BRON ``original_id`` per label
(merge key at ner.py:297-301) and its alias enrichers
(mitre_groups_to_aliases.py, malpedia_groups_to_aliases.py) build the alias
graph that links group ids to shared alias strings.  At 10^12-document
scale, cross-document canonicalization over that alias graph is a
connected-components job (north_rule: "connected-component canonicalization
via iterative hash-partitioned self-joins with salted skew handling").

``connected_components`` is a general operator: iterative min-label
propagation over hash-partitioned joins.  Each round is

    comp[v] <- min(comp[v], min over neighbours' comp)

followed by pointer jumping (comp <- comp(comp)), converging in
O(log diameter) rounds — the same asymptotics as large-star/small-star.
Skew handling:
  * the neighbour-min aggregation is algebraic (min), so map-side partial
    aggregation collapses hub keys before the shuffle;
  * the propagation join enables AQE skew-join splitting, and a ``salt``
    knob explicitly splits hub destinations: edges are salted into
    ``n_salts`` sub-keys, aggregated per (dst, salt) first, then per dst —
    the classic two-phase salted aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_table
from .linking import node_variant_rows

# Folded into the canonicalize-stage fingerprint (plans/pipeline.py _fps):
# a change to the canonicalization ALGORITHM invalidates stage tables built
# by older code on resume — the catalog fingerprint alone cannot see code
# changes.  Bump on any change that alters canonical_map's output for the
# same catalog.
CANON_ALGO_VERSION = 1


def _union_find_components(pairs: list[tuple[str, str]]
                           ) -> list[tuple[str, str]]:
    """Union-find over an edge list; returns (id, component) for every
    node appearing in any edge, component = min id — the same output
    contract as the distributed rounds.  Union always keeps the smaller
    root as parent, so every tree's root IS the component minimum."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:          # path compression
            parent[x], x = root, parent[x]
        return root

    for s, d in pairs:
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    nodes = set()
    for s, d in pairs:
        nodes.add(s)
        nodes.add(d)
    return sorted((n, find(n)) for n in nodes)


def connected_components(edges: DataFrame,
                         n_salts: int = 8,
                         partitions: int | None = None,
                         fixed_rounds: int | None = None,
                         driver_max_edges: int | None = None) -> DataFrame:
    """edges(src, dst) -> (id, component); component = min id in component.

    Ids are strings.  The edge list is treated as undirected.
    ``partitions`` caps the per-round shuffle width — size it to the graph
    (catalog-sized alias graphs need far fewer tasks than the session
    default; web-scale graphs need more).  ``fixed_rounds`` skips the
    per-round convergence-count job and runs exactly that many rounds —
    correct whenever rounds >= ceil(log2(diameter)) + 1 (pointer jumping
    halves path lengths per round); use it when the graph's diameter bound
    is known (the alias graph's is) to cut scheduler latency.

    ``driver_max_edges`` (round 7): opt-in size-adaptive driver path —
    the round-6 canonical_map lesson generalized.  When set, the edge
    list is probed with ``limit(driver_max_edges + 1).collect()``; if it
    fits, union-find resolves it driver-side in microseconds instead of
    paying ~1 s of fixed job latency PER ROUND for a dimension-sized
    graph (the distributed rounds cost ~5 shuffles each).  A graph over
    the cap falls through to the distributed salted pointer-jumping path
    UNCHANGED — that is the 100 TB mechanism; the probe costs it one
    bounded collect.  Callers opt in per graph (pass a cap sized to
    driver memory) because only the caller knows whether its edge list
    is dimension-sized (catalog graphs, verified near-dup pairs) or
    data-sized (raw corpus joins).  Output rows are identical on both
    paths (parity-tested)."""
    if driver_max_edges:
        probe = (edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
                 .limit(driver_max_edges + 1).collect())
        if len(probe) <= driver_max_edges:
            rows = _union_find_components([(r["a"], r["b"]) for r in probe])
            return local_table(edges.sparkSession, rows,
                               "id string, component string")
    sym = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .union(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .distinct()
    )
    if partitions:
        sym = sym.repartition(partitions, "a")
    # Persist the symmetrized edge list: every round joins it, and
    # without a cache the WHOLE upstream plan recomputes per round —
    # harmless for a cheap scan, quadratic pain when edges come from an
    # expensive subplan (near_dup_clusters' LSH->verify pairs: measured
    # ~20 s -> ~7 s at sf0.1).  Iterative graph engines cache the edge
    # RDD for exactly this reason.  The returned comp is localCheckpointed
    # (no lineage into sym), so the lazy unpersist below is safe.
    sym = sym.persist()
    comp = (
        sym.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )

    # without fixed_rounds: until no component changes, at most 25 rounds
    n_rounds = fixed_rounds if fixed_rounds is not None else 25
    for round_i in range(n_rounds):
        # neighbour minimum, two-phase salted: (b, salt) -> b
        nbr = (
            sym.join(comp.withColumnRenamed("id", "a"), "a")
            .select(F.col("b").alias("id"), "component",
                    F.pmod(F.crc32(F.col("a")), F.lit(n_salts)).alias("salt"))
            .groupBy("id", "salt").agg(F.min("component").alias("component"))
            .groupBy("id").agg(F.min("component").alias("nbr_min"))
        )
        new_comp = (
            comp.join(nbr, "id", "left")
            .select("id", F.least("component",
                                  F.coalesce("nbr_min", "component"))
                    .alias("component"))
        )
        # Pointer jumping (path halving): component <- component(component).
        # Combined with the one-hop neighbour min this converges in
        # O(log diameter) rounds instead of O(diameter).
        new_comp = (
            new_comp.alias("x")
            .join(new_comp.alias("y").withColumnRenamed("id", "cid"),
                  F.col("x.component") == F.col("cid"), "left")
            .select(F.col("x.id").alias("id"),
                    F.coalesce(F.col("y.component"), F.col("x.component"))
                    .alias("component"))
        )
        # localCheckpoint truncates the growing lineage so each round's
        # plan stays O(1).
        new_comp = new_comp.localCheckpoint(eager=True)
        if fixed_rounds is None:
            changed = (
                new_comp.alias("n").join(comp.alias("o"), "id")
                .filter(F.col("n.component") != F.col("o.component"))
                .limit(1).count()
            )
            comp = new_comp
            if changed == 0:
                break
        else:
            comp = new_comp
    sym.unpersist(blocking=False)
    return comp


def alias_edges(layer_map: dict[str, list[dict]]) -> list[tuple[str, str]]:
    """Per-label alias-graph edges: ``label:original_id`` <-> every surface
    variant node ``label:~surface`` (``linking.node_variant_rows``; nodes
    without an original_id have no edge).  Two catalog nodes that share a
    surface form land in one component (e.g. a shared alias between two
    groups)."""
    return [(f"{label}:{oid}", f"{label}:~{v}")
            for label, v, oid, _name in node_variant_rows(layer_map) if oid]


# Above this many alias edges the canonical map is built with the
# distributed salted CC; at or below it, driver-side union-find.  The
# alias graph is a CATALOG-derived dimension whose edge list
# ``alias_edges`` already materializes as a python list on the driver —
# for a dimension-sized list, shipping it to the cluster to run 4
# rounds of self-joins is ~5 s of pure fixed job latency (the same
# driver-side-the-small-stuff lesson as the round-6 pyarrow lineage
# appends), while union-find is O(E a(E)) in microseconds.  Data-sized
# graphs (or a truly huge catalog) still take the salted
# pointer-jumping path — the north-star mechanism — unchanged.
DRIVER_CC_MAX_EDGES = 1_000_000


def _driver_canon_rows(edges: list[tuple[str, str]]) -> list[tuple[str, str, str]]:
    """Union-find over the alias edge list; returns sorted
    (label, original_id, canon_id) rows — semantically identical to the
    distributed path (same node universe: only nodes appearing in
    edges; canon_id = min original_id per (component, label))."""
    groups: dict[tuple[str, str], list[str]] = {}
    for node, comp in _union_find_components(edges):
        if ":~" in node:                      # surface nodes
            continue
        label, oid = node.split(":", 1)
        groups.setdefault((comp, label), []).append(oid)
    rows = []
    for (_root, label), oids in groups.items():
        canon = min(oids)
        rows.extend((label, oid, canon) for oid in oids)
    return sorted(rows)


def canonical_map(spark, layer_map: dict[str, list[dict]]) -> DataFrame:
    """(label, original_id, canon_id): canon_id = lexicographically-min
    original_id among alias-connected nodes of the same label.

    Size-adaptive: dimension-sized alias graphs (<= DRIVER_CC_MAX_EDGES,
    every real catalog) resolve driver-side via union-find; larger
    graphs run the distributed salted pointer-jumping CC.  Both paths
    produce identical rows (pinned by test_canonicalize's parity test).
    """
    edge_list = alias_edges(layer_map)
    if len(edge_list) <= DRIVER_CC_MAX_EDGES:
        return local_table(
            spark, _driver_canon_rows(edge_list),
            "label string, original_id string, canon_id string")
    edges = spark.createDataFrame(edge_list, "src string, dst string")
    # id <-> surface bipartite graph: component diameter <= ~8 even with
    # chained shared aliases; 4 pointer-jumped rounds cover 2^4 hops.
    comp = connected_components(edges, partitions=4, fixed_rounds=4)

    ids = (
        comp.filter(~F.col("id").contains(":~"))
        .withColumn("label", F.split_part("id", F.lit(":"), F.lit(1)))
        .withColumn("original_id", F.substring(
            F.col("id"), F.length("label") + 2, 10_000))
    )
    canon = (
        ids.groupBy("component", "label")
        .agg(F.min("original_id").alias("canon_id"))
    )
    return (
        ids.join(canon, ["component", "label"])
        .select("label", "original_id", "canon_id")
    )


def collect_canon(canon: DataFrame) -> dict:
    """{(label, original_id): canon_id}: a canonical map table
    (``canonical_map``'s rows, catalog-sized) collected to the driver, for
    a kernel closure."""
    return {(r["label"], r["original_id"]): r["canon_id"]
            for r in canon.collect()}
