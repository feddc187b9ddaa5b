"""Independent straight-line interpreter of the reference semantics.

Produces gold (subj, pred, obj, sources, score) triples for the synthetic
page corpus WITHOUT using any pipeline transformation code: matching, NER
post-processing, linking, canonicalization and materialization are
re-implemented here directly from the reference sources
(src/nodes_extraction/basic.py:54-393, ner.py:23-135,152-337) and the
rebuild's documented determinism rules (operators/linking.py docstring,
operators/materialize.py docstring) — deliberately naive (str.find scans,
nested loops, union-find) so a bug in the pipeline's optimized operators
cannot hide in the gold.

Shared with the pipeline are ONLY input definitions and stand-in
components, each independently pinned by its own tests:
  * the synthetic corpus + catalog (catalog/synthetic.py, sources/pages.py)
  * the byte-pinned HTML extractor (functions/extract_text.py)
  * the deterministic stub embedder (functions/embedder.py)
  * policy constants (config.PREDICATE_MAP, SIM_THRESHOLD)
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from apt_bron_re_spark.catalog.synthetic import build_layer_map
from apt_bron_re_spark.config import PREDICATE_MAP, SIM_THRESHOLD
from apt_bron_re_spark.functions.embedder import embed_batch
from apt_bron_re_spark.functions.extract_text import extract_text
from apt_bron_re_spark.sources.pages import generate_pages

# Reference regexes (basic.py:49-51).
TECH_ID_RE = re.compile(r"\bT1\d{3}(?:\.\d{3})?\b", re.IGNORECASE)
CVE_RE = re.compile(r"\bcve-\d{4}-\d+\b", re.IGNORECASE)
CPE_RE = re.compile(
    r"\bcpe:(?:2\.3:|/)[aoh]:[^\s:]+:[^\s:]+(?::[^\s:]*){0,10}", re.IGNORECASE)
WORD_RE = re.compile(r"\b\w+\b")

# ner.py:73-88
CATEGORY_MAP = {
    "TECHNIQUE": "technique", "OS": "others", "PROTOCOL": "others",
    "SOFTWARE": "software", "THREAT_ACTOR": "group",
    "SECURITY_PRODUCT": "software", "PRODUCT": "software",
    "PROGRAMMING_LANGUAGE": "others", "VENDOR": "software",
    "OBSERVABLE": "technique", "OBSERVABLE-CVE": "cve",
    "OBSERVABLE-FILENAME": "software",
}
BLACKLIST = {"group", "threat group", "apt", "domain", "exploit", "tool",
             "t1059 003"}

# The NER stand-in's normalization/extra-surface spec (mirrors the spec in
# operators/doc_core.py — duplicated on purpose: the gold must not move if
# the operator drifts).
NORMALIZED_SURFACES = {
    "the mantids": ("THREAT_ACTOR", "mantis-crew"),
    "serpent crew": ("THREAT_ACTOR", "Azure Serpent"),
    "the lynxes": ("THREAT_ACTOR", "lynx-team"),
    "hound utility": ("OBSERVABLE", "BloodHound"),
}
EXTRA_SURFACES = {
    "windows": "OS", "linux": "OS", "https": "PROTOCOL", "smb": "PROTOCOL",
    "python": "PROGRAMMING_LANGUAGE", "microsoft": "VENDOR",
    "apache": "VENDOR", "crowdstrike": "SECURITY_PRODUCT",
    "apt": "THREAT_ACTOR", "tool": "SOFTWARE", "exploit": "TECHNIQUE",
}
NER_ONLY_SURFACES = ["G 0103", "Obsidian Tigr", "S 0002", "Crimson Mantiss"]

CONTEXT_LENGTH = 15
CPE_CHAR_RANGE = 75
EXACT_SCORE = 1.0


def variants(text: str) -> set[str]:
    """ner.py:23-37."""
    b = text.lower()
    return {b, b.replace("-", " "), b.replace("_", " "),
            b.replace(" ", "_"), b.replace(" ", ""), b.replace(" ", "-")}


# --------------------------------------------------------------------------
# naive boundary-checked substring scans (basic.py:124-131 semantics)
# --------------------------------------------------------------------------

def _bounds_ok(t: str, s: int, e: int) -> bool:
    before = t[s - 1] if s > 0 else " "
    after = t[e] if e < len(t) else " "
    return not before.isalnum() and not after.isalnum()


def first_occurrence(tl: str, pat: str) -> int:
    start = 0
    while True:
        p = tl.find(pat, start)
        if p < 0:
            return -1
        if _bounds_ok(tl, p, p + len(pat)):
            return p
        start = p + 1


def all_occurrences(tl: str, pat: str) -> list[int]:
    out, start = [], 0
    while True:
        p = tl.find(pat, start)
        if p < 0:
            return out
        if _bounds_ok(tl, p, p + len(pat)):
            out.append(p)
        start = p + 1


# --------------------------------------------------------------------------
# catalog build (basic.py:54-111), first-writer-wins
# --------------------------------------------------------------------------

def build_catalog(layer_map):
    v2n: dict[str, dict] = {}
    tid2node: dict[str, dict] = {}
    for label, nodes in layer_map.items():
        node_map: dict[str, object] = {}
        if label == "cpe_versioned":
            for node in nodes:
                node_map.setdefault(node["version"], node)
        elif label == "cpe_unversioned":
            for node in nodes:
                for w in node.get("words", []):
                    node_map.setdefault(w, node)
        elif label == "technique":
            for node in nodes:
                for v in variants(node["name"]):
                    node_map.setdefault(v, node)
                tid2node[node["original_id"].lower()] = node
        elif label == "group":
            for node in nodes:
                for alias_field in ("MITRE_aliases", "malpedia_aliases"):
                    for alias in node.get(alias_field, []):
                        for v in variants(alias):
                            node_map.setdefault(v, {"node": node, "alias": alias})
                for v in variants(node["name"]) | variants(node["original_id"]):
                    node_map.setdefault(v, {"node": node, "alias": None})
        else:
            for node in nodes:
                for v in variants(node["name"]) | variants(node["original_id"]):
                    node_map.setdefault(v, {"node": node, "hit_by": label})
        v2n[label] = node_map
    return v2n, tid2node


def match_variants(text_lower: str, label: str, v2n) -> list[dict]:
    """basic.py:114-148: earliest boundary-valid occurrence per variant."""
    hits = []
    for pat, node_info in v2n[label].items():
        idx = first_occurrence(text_lower, pat)
        if idx < 0:
            continue
        node = (node_info["node"]
                if isinstance(node_info, dict) and "node" in node_info
                else node_info)
        hit = {"name": node["name"], "original_id": node["original_id"],
               "index": idx}
        if label == "group":
            hit["alias"] = node_info.get("alias")
        if label == "software" and "software_type" in node:
            hit["software_type"] = node["software_type"]
        hits.append((idx + len(pat), pat, hit))
    hits.sort(key=lambda t: (t[0], t[1]))
    return [h for _, _, h in hits]


# --------------------------------------------------------------------------
# NER stand-in tagger (spec: deterministic Lookup_Table replacement)
# --------------------------------------------------------------------------

def build_tagger_surfaces(layer_map):
    surface_to_cat: dict[str, str] = {}

    def add(surface, cat):
        key = surface.lower()
        if key and key not in surface_to_cat:
            surface_to_cat[key] = cat

    for node in layer_map.get("group", []):
        add(node["name"], "THREAT_ACTOR")
        for alias_field in ("MITRE_aliases", "malpedia_aliases"):
            for alias in node.get(alias_field, []):
                add(alias, "THREAT_ACTOR")
    for node in layer_map.get("software", []):
        add(node["name"],
            "PRODUCT" if node.get("software_type") == "tool" else "SOFTWARE")
    for node in layer_map.get("technique", []):
        add(node["name"], "TECHNIQUE")
    for s in NER_ONLY_SURFACES:
        add(s, "THREAT_ACTOR")
    for s, c in EXTRA_SURFACES.items():
        add(s, c)
    return surface_to_cat


def tag(text: str, surface_to_cat) -> dict[str, list[str]]:
    tl = text.lower()
    hits = []
    for pat in set(surface_to_cat) | set(NORMALIZED_SURFACES):
        idx = first_occurrence(tl, pat)
        if idx >= 0:
            hits.append((idx, idx + len(pat), pat))
    hits.sort()
    raw: dict[str, list[str]] = {}
    for s, e, pat in hits:
        if pat in NORMALIZED_SURFACES:
            cat, surface = NORMALIZED_SURFACES[pat]
        else:
            cat = surface_to_cat[pat]
            surface = text[s:e]
        bucket = raw.setdefault(cat, [])
        if surface not in bucket:
            bucket.append(surface)
    for m in CVE_RE.finditer(text):
        bucket = raw.setdefault("OBSERVABLE-CVE", [])
        if m.group() not in bucket:
            bucket.append(m.group())
    return raw


def map_ner(raw):
    """ner.py:67-97."""
    mapped: dict[str, list[str]] = {}
    for category, values in raw.items():
        new_key = CATEGORY_MAP.get(category.upper(), "others")
        mapped.setdefault(new_key, []).extend(
            v for v in values if v.strip().lower() not in BLACKLIST)
    return mapped


def hit_terms(ent: dict, category: str) -> set[str]:
    """ner.py:110-127."""
    terms: set[str] = set()
    if category == "group" and ent.get("alias"):
        terms |= {v.lower() for v in variants(ent["alias"])}
    elif category in ("cve", "cpe"):
        if ent.get("value"):
            terms.add(ent["value"].lower())
    else:
        if ent.get("name"):
            terms |= {v.lower() for v in variants(ent["name"])}
    if ent.get("original_id"):
        terms.add(ent["original_id"].lower())
    return terms


def context_sentence(text: str, idx: int, n: int = CONTEXT_LENGTH) -> str:
    """basic.py:343-393 verbatim formula."""
    before, after = text[:idx], text[idx:]
    bw = WORD_RE.findall(before)
    before_snippet = " ".join(bw[max(0, len(bw) - n):])
    if "." in before_snippet:
        before_snippet = before_snippet.split(".")[-1].strip()
    aw = WORD_RE.findall(after)
    after_snippet = " ".join(aw[:min(n, len(aw))])
    if "." in after_snippet:
        after_snippet = after_snippet.split(".")[0].strip()
    return f"{before_snippet} {after_snippet}".strip()


def _ckey(ent: dict) -> tuple:
    return tuple(sorted((k, str(v)) for k, v in ent.items()))


# --------------------------------------------------------------------------
# per-document pass (basic.py:194-292 + A1 + A2)
# --------------------------------------------------------------------------

def process_doc(text, layer_map, v2n, tid2node, surface_to_cat):
    tl = text.lower()
    raw = tag(text, surface_to_cat)
    mapped_ner = map_ner(raw)
    ner_all = {v.lower() for vals in mapped_ner.values() for v in vals}

    results: dict[str, list[dict]] = {}
    for label in layer_map:
        if label == "technique":
            name_hits = match_variants(tl, "technique", v2n)
            id_hits = []
            for m in TECH_ID_RE.finditer(text):
                node = tid2node.get(m.group().lower())
                if node is not None:
                    id_hits.append({"name": node["name"],
                                    "original_id": node["original_id"],
                                    "index": m.start()})
            combined = {}
            for h in (*name_hits, *id_hits):
                combined[_ckey(h)] = h
            if combined:
                results["technique"] = list(combined.values())
        elif label == "cpe_versioned":
            filtered = []
            for version, node in v2n["cpe_versioned"].items():
                for s in all_occurrences(tl, version):
                    e = s + len(version)
                    at_least = node["at_least"]
                    radius = at_least * CPE_CHAR_RANGE
                    ctx = text[max(0, s - radius):
                               min(len(text), e + radius)].lower()
                    if sum(1 for w in node["words"] if w.lower() in ctx) >= at_least:
                        full = dict(node)
                        full["index"] = s
                        filtered.append(full)
            if filtered:
                results["cpe_versioned"] = filtered
        elif label == "cpe_unversioned":
            pass  # faithful dead code (basic.py:232 tokenizer bug)
        else:
            hits = match_variants(tl, label, v2n)
            if hits:
                results[label] = hits

    cves = [{"value": m.group().upper(), "index": m.start()}
            for m in CVE_RE.finditer(tl)]
    if cves:
        results["cve"] = cves

    # N4 + N5
    for category, entries in results.items():
        for ent in entries:
            terms = hit_terms(ent, category)
            score = EXACT_SCORE if (ner_all and terms and terms & ner_all) else 0.0
            ent["NER_score"] = score
            if score == EXACT_SCORE and mapped_ner:
                rm = hit_terms(ent, category)
                for k in mapped_ner:
                    mapped_ner[k] = [s for s in mapped_ner[k]
                                     if s.lower() not in rm]

    # N6 (sorted() pin, matching the rebuild's determinism rule)
    if mapped_ner:
        for category, values in list(mapped_ner.items()):
            for val in values:
                for variant in sorted(variants(val)):
                    if CVE_RE.fullmatch(variant):
                        if val not in mapped_ner.get("cve", []):
                            mapped_ner.setdefault("cve", []).append(val)
                        break
                    elif CPE_RE.fullmatch(variant):
                        if val not in mapped_ner.get("cpe", []):
                            mapped_ner.setdefault("cpe", []).append(val)
                        break

    # A1 dedup + A2 context
    for category, entries in results.items():
        seen, deduped = set(), []
        for ent in entries:
            k = _ckey(ent)
            if k not in seen:
                seen.add(k)
                deduped.append(ent)
        for ent in deduped:
            if ent.get("index") is not None:
                ent["sentence"] = context_sentence(text, ent["index"])
        results[category] = deduped
    return results, mapped_ner


# --------------------------------------------------------------------------
# linking (ner.py:152-212 + the rebuild's pinned L5/L6 rules)
# --------------------------------------------------------------------------

LINK_EXCLUDE = {"cpe_versioned", "cpe_unversioned"}


def node_link_tables(layer_map):
    """(variant table, embedding-candidate table) per linking.py:54-119."""
    var_rows, emb_rows = [], []
    for label, nodes in layer_map.items():
        if label in LINK_EXCLUDE:
            continue
        for node in nodes:
            vs: set[str] = set()
            fields = [node.get("name", ""), node.get("original_id", "")]
            for field in ("name", "original_id"):
                if field in node:
                    vs |= variants(node[field])
            if label == "group":
                for alias_field in ("MITRE_aliases", "malpedia_aliases"):
                    for alias in node.get(alias_field, []):
                        vs |= variants(alias)
                        fields.append(alias)
            var_rows.append((label, node.get("original_id"),
                             node.get("name"), vs))
            for t in fields:
                if t:
                    emb_rows.append((label, node.get("original_id"),
                                     node.get("name"), t))
    return var_rows, emb_rows


def build_links(residue_rows, layer_map):
    """residue_rows: list of (url, bucket, value) -> set of link tuples."""
    var_rows, emb_rows = node_link_tables(layer_map)
    emb_matrix = embed_batch([t for (_, _, _, t) in emb_rows])

    distinct_vals = sorted({v for (_, _, v) in residue_rows})
    sem_by_val: dict[str, list] = {}
    if distinct_vals:
        vecs = embed_batch(distinct_vals)
        sims = vecs @ emb_matrix.T
        for vi, val in enumerate(distinct_vals):
            out = []
            for k in np.nonzero(sims[vi] >= SIM_THRESHOLD)[0]:
                lbl, oid, name, _t = emb_rows[k]
                out.append((lbl, oid, name, float(sims[vi][k])))
            sem_by_val[val] = out

    links = set()  # L5 dedup by full row
    for url, bucket, value in residue_rows:
        vl = (value or "").lower()
        for lbl, oid, name, vs in var_rows:       # L2/L3
            if vl in vs:
                links.add((url, lbl, oid, name, vl,
                           1.0 if bucket == lbl else 0.5, "variant", None))
        for lbl, oid, name, score in sem_by_val.get(value, ()):   # L4
            links.add((url, lbl, oid, name, value,
                       1.0 if bucket == lbl else 0.5, "semantic",
                       round(score, 4)))
    return links


def merge_links(mention_rows, links):
    """The rebuild's pinned L6: best link per (url, label, lower(oid))."""
    by_key: dict[tuple, list] = {}
    for (url, lbl, oid, name, ner, s, mtype, ss) in links:
        key = (url, lbl, (oid or "").lower())
        by_key.setdefault(key, []).append((url, lbl, oid, name, ner, s, mtype, ss))

    best = {}
    for key, rows in by_key.items():
        link_score = max(r[5] for r in rows)
        # struct-max order: (is_semantic, s, ss(-1 if null), ner, match_type,
        # semantic_score, name, original_id) with nulls smallest
        def ordkey(r):
            url, lbl, oid, name, ner, s, mtype, ss = r
            return (mtype == "semantic", s,
                    -1.0 if ss is None else ss, ner, mtype,
                    (ss is not None, ss if ss is not None else 0.0),
                    (name is not None, name or ""),
                    (oid is not None, oid or ""))
        b = max(rows, key=ordkey)
        best[key] = (link_score, b)

    mention_keys = set()
    linked = []
    for row in mention_rows:
        key = (row["url"], row["category"],
               (row.get("original_id") or "").lower())
        mention_keys.add(key)
        score = row.get("NER_score", 0.0)
        if key in best:
            score = max(score if score is not None else 0.0, best[key][0])
        linked.append({**row, "ner_score": score})

    residual = []
    for key, (link_score, b) in best.items():
        if key not in mention_keys:
            _url, lbl, oid, name, ner, _s, mtype, ss = b
            residual.append({"url": key[0], "category": key[1],
                             "original_id": oid, "name": name,
                             "ner_score": link_score, "sentence": None})
    return linked, residual


# --------------------------------------------------------------------------
# canonicalization (alias-graph connected components, union-find)
# --------------------------------------------------------------------------

def canonical_map(layer_map):
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb

    for label, nodes in layer_map.items():
        if label in LINK_EXCLUDE:
            continue
        for node in nodes:
            oid = node.get("original_id")
            if not oid:
                continue
            surfaces: set[str] = set()
            for field in ("name", "original_id"):
                if node.get(field):
                    surfaces |= variants(node[field])
            if label == "group":
                for alias_field in ("MITRE_aliases", "malpedia_aliases"):
                    for alias in node.get(alias_field, []):
                        surfaces |= variants(alias)
            for s in surfaces:
                union((label, "id", oid), (label, "surf", s))

    comps: dict = {}
    for key in parent:
        if key[1] == "id":
            comps.setdefault(find(key), []).append(key)
    canon = {}
    for members in comps.values():
        ids = sorted(oid for (_lbl, _k, oid) in members)
        for (lbl, _k, oid) in members:
            canon[(lbl, oid)] = ids[0]
    return canon


# --------------------------------------------------------------------------
# materialization (evidence -> typed co-occurrence triples)
# --------------------------------------------------------------------------

def materialize(evidence_rows, max_sources=64):
    """evidence_rows: (url, label, canon_id, score, sentence)."""
    # group evidence per (url, label, canon_id): max score, argmax sentence
    ev: dict[tuple, tuple] = {}
    for url, label, cid, score, sentence in evidence_rows:
        key = (url, label, cid)
        cand = (score, (sentence is not None, sentence or ""))
        cur = ev.get(key)
        if cur is None:
            ev[key] = (score, cand, sentence)
        else:
            ev[key] = (max(cur[0], score),
                       max(cur[1], cand),
                       sentence if cand > cur[1] else cur[2])

    by_url: dict[str, list] = {}
    for (url, label, cid), (score, _c, sentence) in ev.items():
        by_url.setdefault(url, []).append((label, cid, score, sentence))

    # best-justification tie-break order — must mirror the rebuild's
    # best-evidence key struct (pair_score, has_sentence, url, subj_label)
    # (operators/materialize.py _per_salt): the sentence string
    # itself never decides; the winning evidence KEY determines the
    # sentence.
    triples: dict[tuple, dict] = {}
    for url, ents in by_url.items():
        for (sl, sid, ss, ssent) in ents:
            for (ol, oid, os_, _osent) in ents:
                pred = PREDICATE_MAP.get((sl, ol))
                if pred is None or sid == oid:
                    continue
                pair_score = min(max(ss, 0.0), max(os_, 0.0))
                key = (sid, pred, oid)
                t = triples.setdefault(
                    key, {"sources": set(), "best": None, "best_sent": None,
                          "max_score": 0.0})
                t["sources"].add(url)
                cand = (pair_score, ssent is not None, url, sl)
                if t["best"] is None or cand > t["best"]:
                    t["best"] = cand
                    t["best_sent"] = ssent
                t["max_score"] = max(t["max_score"], pair_score)

    out = []
    for (subj, pred, obj), t in sorted(triples.items()):
        out.append({
            "subj": subj, "pred": pred, "obj": obj,
            "sources": sorted(t["sources"])[:max_sources],
            "n_sources": len(t["sources"]),
            "justification": t["best_sent"],
            "score": round(t["max_score"], 4),
        })
    return out


# --------------------------------------------------------------------------
# end-to-end
# --------------------------------------------------------------------------

def interpret(n_pages: int = 60, seed: int = 42,
              hub_rate: float | None = None):
    layer_map = build_layer_map()
    v2n, tid2node = build_catalog(layer_map)
    surface_to_cat = build_tagger_surfaces(layer_map)

    mention_rows, residue_rows = [], []
    for page in generate_pages(n_pages, seed, hub_rate=hub_rate):
        if page["lang"] != "en":
            continue
        url = page["url"]
        text = extract_text(page["html"])
        results, residue = process_doc(
            text, layer_map, v2n, tid2node, surface_to_cat)
        for category, entries in results.items():
            for ent in entries:
                mention_rows.append({
                    "url": url, "category": category,
                    "name": ent.get("name"),
                    "original_id": ent.get("original_id"),
                    "value": ent.get("value"),
                    "alias": ent.get("alias"),
                    "NER_score": float(ent.get("NER_score", 0.0)),
                    "sentence": ent.get("sentence"),
                })
        for bucket, values in residue.items():
            for val in values:
                residue_rows.append((url, bucket, val))

    links = build_links(residue_rows, layer_map)
    linked, residual = merge_links(mention_rows, links)
    canon = canonical_map(layer_map)

    evidence_rows = []
    for row in linked:
        eid = row["original_id"] if row["original_id"] is not None else row["value"]
        cid = canon.get((row["category"], eid), eid)
        evidence_rows.append((row["url"], row["category"], cid,
                              row["ner_score"] if row["ner_score"] is not None
                              else 0.0,
                              row.get("sentence")))
    for row in residual:
        cid = canon.get((row["category"], row["original_id"]),
                        row["original_id"])
        evidence_rows.append((row["url"], row["category"], cid,
                              row["ner_score"] or 0.0, None))

    return materialize(evidence_rows)


if __name__ == "__main__":
    import json
    import sys
    from pathlib import Path

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 60
    triples = interpret(n)
    out = Path(__file__).resolve().parents[1] / "tests" / "fixtures" / "gold_triples.json"
    out.write_text(json.dumps({"n_pages": n, "triples": triples}, indent=1))
    print(f"wrote {len(triples)} independent gold triples -> {out}")
