"""Pattern-dictionary ("automaton") construction — D2-D6 in SURVEY.md.

Mirrors the reference's import-time build (src/nodes_extraction/
basic.py:54-111) exactly, including the **first-writer-wins** rule on
variant collisions (basic.py:64,71,78,91,96,105) and the ordering that
makes a group *alias* claim a colliding variant before the group's own
name/id variants (aliases are inserted first, basic.py:88-98).

The compiled catalog is built once on the driver and shipped to executors
inside the mention-stage pandas-UDF closure (Spark pickles the closure and
broadcasts it per task; for very large catalogs use ``sc.broadcast``
explicitly — the object is a plain picklable dataclass either way).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from ..functions.matcher import MultiPatternMatcher
from ..functions.variants import generate_variants


@dataclass
class CompiledCatalog:
    """Per-label variant dictionaries + matchers + the technique-id map.

    ``union_matcher``/``pattern_labels`` cover all labels except the two
    CPE ones in ONE scan pass: a pattern maps to every label whose
    dictionary contains it, and per-label hit lists are recovered by
    filtering — semantics identical to per-label scans because boundary
    tests and earliest-occurrence are properties of the pattern string
    alone, not the label.
    """
    layer_map: dict[str, list[dict]]
    variant_to_node: dict[str, dict[str, object]] = field(default_factory=dict)
    matchers: dict[str, MultiPatternMatcher] = field(default_factory=dict)
    technique_id_to_node: dict[str, dict] = field(default_factory=dict)
    pattern_labels: dict[str, list[str]] = field(default_factory=dict)
    union_matcher: MultiPatternMatcher | None = None

# The CPE labels are keyed by version string or id word, never by surface
# form: the union scan, linking and canonicalization all skip them.
CPE_LABELS = {"cpe_versioned", "cpe_unversioned"}


def surface_texts(label: str, node: dict) -> list[str]:
    """A catalog node's surface forms, the texts linking and
    canonicalization match it by: its name and original_id, then a
    group's MITRE and Malpedia aliases, empty texts skipped."""
    texts = [node.get("name"), node.get("original_id")]
    if label == "group":
        for alias_field in ("MITRE_aliases", "malpedia_aliases"):
            texts.extend(node.get(alias_field, []))
    return [t for t in texts if t]


def compile_catalog(layer_map: dict[str, list[dict]]) -> CompiledCatalog:
    """Build variant->node maps and matchers for every label.

    Faithful to basic.py:54-111:
      * cpe_versioned: keyed by exact ``version`` string (D5, basic.py:61-66)
      * cpe_unversioned: keyed by each word (D6, basic.py:68-73) — matcher is
        built for parity but the match stage emits nothing (dead code M6)
      * technique: name variants + side map lower(original_id)->node
        (D3, basic.py:75-81)
      * group: alias variants first (payload remembers which alias), then
        name|id variants with alias=None (D4, basic.py:83-98)
      * others: name|id variants (D2, basic.py:100-107)
    """
    cat = CompiledCatalog(layer_map=layer_map)

    for label, nodes in layer_map.items():
        node_map: dict[str, object] = {}

        if label == "cpe_versioned":
            for node in nodes:
                version = node["version"]
                if version not in node_map:
                    node_map[version] = node

        elif label == "cpe_unversioned":
            for node in nodes:
                for variant in node.get("words", []):
                    if variant not in node_map:
                        node_map[variant] = node

        elif label == "technique":
            for node in nodes:
                for variant in generate_variants(node["name"]):
                    if variant not in node_map:
                        node_map[variant] = node
                cat.technique_id_to_node[node["original_id"].lower()] = node

        elif label == "group":
            for node in nodes:
                name_variants = generate_variants(node["name"])
                id_variants = generate_variants(node["original_id"])

                for alias_field in ("MITRE_aliases", "malpedia_aliases"):
                    for alias in node.get(alias_field, []):
                        for v in generate_variants(alias):
                            if v not in node_map:
                                node_map[v] = {"node": node, "alias": alias}

                for v in name_variants.union(id_variants):
                    if v not in node_map:
                        node_map[v] = {"node": node, "alias": None}

        else:
            for node in nodes:
                name_variants = generate_variants(node["name"])
                id_variants = generate_variants(node["original_id"])
                for variant in name_variants.union(id_variants):
                    if variant not in node_map:
                        node_map[variant] = {"node": node, "hit_by": label}

        cat.variant_to_node[label] = node_map
        cat.matchers[label] = MultiPatternMatcher(node_map.keys())

    for label in layer_map:
        if label in CPE_LABELS:
            continue
        for pattern in cat.variant_to_node[label]:
            cat.pattern_labels.setdefault(pattern, []).append(label)
    cat.union_matcher = MultiPatternMatcher(cat.pattern_labels.keys())

    return cat
