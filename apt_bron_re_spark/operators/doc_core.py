"""Per-document mention detection + NER scoring — the pure core of stage 2.

This module is plain Python over plain data so it can run (a) inside the
mention-stage ``mapInPandas`` UDF, batched per Arrow chunk, and (b) directly
in tests/gold-fixture generation.  It reproduces the reference's
``process_folder`` body (src/nodes_extraction/basic.py:181-301) operator by
operator:

  M1  dictionary scan with boundary + first-occurrence rules (basic.py:114-148)
  M2  technique-id regex + catalog filter               (basic.py:151-166)
  M3  CVE regex                                         (basic.py:170-178)
  M5  cpe_versioned context filter                      (basic.py:209-226)
  M6  cpe_unversioned per-line match — **dead code** in the reference (the
      tokenizer regex at basic.py:232 is the raw string r"\\b\\w+\\b" which
      matches literal backslashes, so tokens is always empty and nothing is
      ever emitted).  Preserved: we emit nothing.
  M7  technique name∪id merge, deduped by canonical key (basic.py:202-207)
  N4  NER score per hit                                 (ner.py:110-135, basic.py:257-260)
  N5  NER residue filter                                (basic.py:262-279)
  N6  residue CVE/CPE re-bucketing                      (basic.py:281-292)
  A2  context sentence (±CONTEXT_LENGTH words, clipped at '.')
                                                        (basic.py:343-393)

The NER HTTP service of the reference (ner.py:40-49) is unavailable; N1 is
replaced by a deterministic dictionary tagger (``ner_stub``) whose
*post-processing* (N2-N6) is faithful.
"""

from __future__ import annotations

import re

from ..catalog.build import CompiledCatalog
from ..config import (CONTEXT_LENGTH, CPE_CHAR_RANGE, NER_BLACKLIST,
                      NER_CATEGORY_MAP, NER_MATCH_SCORE)
from ..functions.matcher import MultiPatternMatcher
from ..functions.variants import generate_variants

# Reference regexes (basic.py:49-51).
TECHNIQUE_ID_RE = re.compile(r"\bT1\d{3}(?:\.\d{3})?\b", re.IGNORECASE)
CVE_RE = re.compile(r"\bcve-\d{4}-\d+\b", re.IGNORECASE)
CPE_RE = re.compile(
    r"\bcpe:(?:2\.3:|/)[aoh]:[^\s:]+:[^\s:]+(?::[^\s:]*){0,10}", re.IGNORECASE)

WORD_RE = re.compile(r"\b\w+\b")


# --------------------------------------------------------------------------
# N1 replacement: deterministic dictionary NER tagger
# --------------------------------------------------------------------------

# Surfaces the service recognizes but reports under its own normalized
# dictionary form (Lookup_Table behaviour): surface -> (raw category,
# emitted value).  The emitted value can be a catalog variant even though
# the surface is not — the natural source of L2/L3 variant-link residues.
_NORMALIZED_SURFACES = {
    "the mantids": ("THREAT_ACTOR", "mantis-crew"),
    "serpent crew": ("THREAT_ACTOR", "Azure Serpent"),
    "the lynxes": ("THREAT_ACTOR", "lynx-team"),
    "hound utility": ("OBSERVABLE", "BloodHound"),
}

# Actor surfaces the "service" knows that the BRON dictionary does not —
# these survive residue filtering (N5) and exercise linking L2-L4.  Part of
# the NER-service stand-in spec (the synthetic corpus generator imports
# this list to plant them; the operator owns the spec, not the test data).
NER_ONLY_SURFACES = [
    "G 0103",            # residue that links nowhere (negative case)
    "Obsidian Tigr",     # semantic-links to the hub group (typo)
    "S 0002",            # residue that links nowhere (negative case)
    "Crimson Mantiss",   # semantic near-dup of Crimson Mantis
]

# Extra surfaces the "service" knows that the BRON dictionary does not.
_EXTRA_SURFACES = {
    "windows": "OS",
    "linux": "OS",
    "https": "PROTOCOL",
    "smb": "PROTOCOL",
    "python": "PROGRAMMING_LANGUAGE",
    "microsoft": "VENDOR",
    "apache": "VENDOR",
    "crowdstrike": "SECURITY_PRODUCT",
    # blacklist traps — must be filtered by N2 (ner.py:88)
    "apt": "THREAT_ACTOR",
    "tool": "SOFTWARE",
    "exploit": "TECHNIQUE",
}


class NerTagger:
    """Deterministic stand-in for the reference's Lookup_Table NER service."""

    def __init__(self, layer_map: dict[str, list[dict]]) -> None:
        surface_to_cat: dict[str, str] = {}

        def add(surface: str, cat: str) -> None:
            key = surface.lower()
            if key and key not in surface_to_cat:
                surface_to_cat[key] = cat

        for node in layer_map.get("group", []):
            add(node["name"], "THREAT_ACTOR")
            for alias_field in ("MITRE_aliases", "malpedia_aliases"):
                for alias in node.get(alias_field, []):
                    add(alias, "THREAT_ACTOR")
        for node in layer_map.get("software", []):
            cat = "PRODUCT" if node.get("software_type") == "tool" else "SOFTWARE"
            add(node["name"], cat)
        for node in layer_map.get("technique", []):
            add(node["name"], "TECHNIQUE")

        for s in NER_ONLY_SURFACES:
            add(s, "THREAT_ACTOR")

        for surface, cat in _EXTRA_SURFACES.items():
            add(surface, cat)

        self._normalized = {s.lower(): cv for s, cv in _NORMALIZED_SURFACES.items()}
        self._surface_to_cat = surface_to_cat
        self._matcher = MultiPatternMatcher(
            set(surface_to_cat) | set(self._normalized))

    def tag(self, text: str,
            tokens: list[tuple[int, int]] | None = None,
            tok_strs: list[str] | None = None) -> dict[str, list[str]]:
        """raw_ner: {RAW_CATEGORY: [value, ...]}; values are the surface as
        it appears in the text, or the service's normalized form."""
        text_lower = text.lower()
        raw: dict[str, list[str]] = {}
        for m in sorted(self._matcher.find(text_lower, tokens, tok_strs),
                        key=lambda h: h.start):
            if m.pattern in self._normalized:
                cat, surface = self._normalized[m.pattern]
            else:
                cat = self._surface_to_cat[m.pattern]
                surface = text[m.start:m.end]
            bucket = raw.setdefault(cat, [])
            if surface not in bucket:
                bucket.append(surface)
        for m in CVE_RE.finditer(text):
            bucket = raw.setdefault("OBSERVABLE-CVE", [])
            if m.group() not in bucket:
                bucket.append(m.group())
        return raw


# --------------------------------------------------------------------------
# N2/N3: category remap + flat lookup (reference ner.py:52-97)
# --------------------------------------------------------------------------

def map_ner_results(raw_ner: dict[str, list[str]]) -> dict[str, list[str]]:
    """Remap raw categories to BRON buckets, dropping blacklisted values."""
    mapped: dict[str, list[str]] = {}
    for category, values in raw_ner.items():
        new_key = NER_CATEGORY_MAP.get(category.upper(), "others")
        filtered = [v for v in values if v.strip().lower() not in NER_BLACKLIST]
        mapped.setdefault(new_key, []).extend(filtered)
    return mapped


def build_ner_lookup(mapped_ner: dict[str, list[str]]) -> dict[str, set[str]]:
    """Collapse every bucket into one lowercase set (ner.py:52-64)."""
    all_terms = {v.lower() for values in mapped_ner.values() for v in values}
    return {"all": all_terms}


# --------------------------------------------------------------------------
# N4: per-hit NER score (reference ner.py:110-135)
# --------------------------------------------------------------------------

def hit_search_terms(entry: dict, category: str) -> set[str]:
    """The search terms a hit contributes (shared by N4 and N5)."""
    terms: set[str] = set()
    if category == "group" and entry.get("alias"):
        terms |= {v.lower() for v in generate_variants(entry["alias"])}
    elif category in ("cve", "cpe"):
        if entry.get("value"):
            terms.add(entry["value"].lower())
    else:
        if entry.get("name"):
            terms |= {v.lower() for v in generate_variants(entry["name"])}
    if entry.get("original_id"):
        terms.add(entry["original_id"].lower())
    return terms


def ner_score(entry: dict, category: str,
              ner_lookup: dict[str, set[str]], match_score: float) -> float:
    terms = hit_search_terms(entry, category)
    if not terms:
        return 0.0
    for ner_set in ner_lookup.values():
        if terms & ner_set:
            return match_score
    return 0.0


# --------------------------------------------------------------------------
# A2: context sentence (reference basic.py:343-393)
# --------------------------------------------------------------------------

def context_sentence(text: str, idx: int, context_length: int) -> str:
    before = text[:idx]
    after = text[idx:]

    before_words = WORD_RE.findall(before)
    before_limit = max(0, len(before_words) - context_length)
    before_snippet = " ".join(before_words[before_limit:])
    if "." in before_snippet:
        before_snippet = before_snippet.split(".")[-1].strip()

    after_words = WORD_RE.findall(after)
    after_limit = min(context_length, len(after_words))
    after_snippet = " ".join(after_words[:after_limit])
    if "." in after_snippet:
        after_snippet = after_snippet.split(".")[0].strip()

    return f"{before_snippet} {after_snippet}".strip()


class _ContextIndex:
    """O(log W) context sentences: precompute the \\b\\w+\\b word spans
    once per document instead of re-scanning the full text per hit.

    Exactly equivalent to ``context_sentence`` for every index: a \\w+
    word straddling ``idx`` (possible because '_' is a \\w char but a
    valid M1 boundary) is truncated into both halves, exactly as
    re-tokenizing the two slices does.  Equivalence is property-tested in
    tests/test_doc_core.py.
    """

    def __init__(self, text: str, context_length: int) -> None:
        self.text = text
        self.n = context_length
        self.spans = [(m.start(), m.end(), m.group())
                      for m in WORD_RE.finditer(text)]
        self.starts = [s for s, _, _ in self.spans]
        self.ends = [e for _, e, _ in self.spans]

    def sentence(self, idx: int) -> str:
        import bisect
        # words wholly inside text[:idx] == words with end <= idx
        bi = bisect.bisect_right(self.ends, idx)
        before_words = [w for _, _, w in self.spans[max(0, bi - self.n):bi]]
        # a word straddling idx contributes its prefix to the before side
        j = bisect.bisect_right(self.starts, idx) - 1
        straddle = (j >= 0 and self.starts[j] < idx < self.ends[j])
        if straddle:
            before_words = (before_words + [self.text[self.starts[j]:idx]])[-self.n:]
        before_snippet = " ".join(before_words)
        if "." in before_snippet:
            before_snippet = before_snippet.split(".")[-1].strip()

        # words starting at or after idx (+ the straddler's suffix first)
        ai = bisect.bisect_left(self.starts, idx)
        after_words = [w for _, _, w in self.spans[ai:ai + self.n]]
        if straddle:
            after_words = ([self.text[idx:self.ends[j]]] + after_words)[:self.n]
        after_snippet = " ".join(after_words)
        if "." in after_snippet:
            after_snippet = after_snippet.split(".")[0].strip()
        return f"{before_snippet} {after_snippet}".strip()


# --------------------------------------------------------------------------
# Stage-2 core: one document -> (hits per category, NER residue)
# --------------------------------------------------------------------------

def _canonical_key(entry: dict) -> tuple:
    return tuple(sorted((k, str(v)) for k, v in entry.items()))


def process_document(text: str,
                     catalog: CompiledCatalog,
                     tagger: NerTagger,
                     ) -> tuple[dict[str, list[dict]], dict[str, list[str]], int]:
    """Faithful re-expression of process_folder's per-file body
    (basic.py:194-292) + inline A2 context sentences.

    Returns (results, mapped_ner_residue, dl) where dl is the
    ``\\b\\w+\\b`` token count of the document — the reference's BM25 doc
    length (statistics.py:28), free here because the context index already
    tokenized the text.
    """
    text_lower = text.lower()
    # Tokenize once; every matcher (and the tagger) shares the spans.
    tokens, tok_strs = MultiPatternMatcher.tokenize(text_lower)

    mapped_ner = map_ner_results(
        tagger.tag(text, tokens=tokens, tok_strs=tok_strs))
    ner_lookup = build_ner_lookup(mapped_ner)

    results: dict[str, list[dict]] = {}

    # ONE union scan covers every non-CPE label; per-label hit lists are
    # filtered out of it (identical semantics — see CompiledCatalog).
    union_hits: dict[str, list] = {}
    if catalog.union_matcher is not None:
        for m in catalog.union_matcher.find(text_lower, tokens, tok_strs):
            for lbl in catalog.pattern_labels[m.pattern]:
                union_hits.setdefault(lbl, []).append(m)

    for layer_type, matcher in catalog.matchers.items():
        if layer_type == "technique":
            name_hits = _hits_from_matches(
                union_hits.get("technique", ()), "technique", catalog)
            id_hits = _match_technique_ids(text, catalog)
            combined = {}
            for h in (*name_hits, *id_hits):
                combined[_canonical_key(h)] = h       # M7 merge-dedup
            if combined:
                results["technique"] = list(combined.values())

        elif layer_type == "cpe_versioned":
            filtered = []
            for m in matcher.find_all_occurrences(text_lower, tokens, tok_strs):
                node = catalog.variant_to_node["cpe_versioned"][m.pattern]
                at_least = node["at_least"]
                radius = at_least * CPE_CHAR_RANGE
                context = text[max(0, m.start - radius):
                               min(len(text), m.end + radius)].lower()
                count = sum(1 for w in node["words"] if w.lower() in context)
                if count >= at_least:                  # M5
                    full = dict(node)
                    full["index"] = m.start
                    filtered.append(full)
            if filtered:
                results["cpe_versioned"] = filtered

        elif layer_type == "cpe_unversioned":
            pass  # faithful dead-code behaviour — emit nothing (M6)

        else:
            hits = _hits_from_matches(
                union_hits.get(layer_type, ()), layer_type, catalog)
            if hits:
                results[layer_type] = hits

    cves = [
        {"value": m.group().upper(), "index": m.start()}   # M3
        for m in CVE_RE.finditer(text_lower)
    ]
    if cves:
        results["cve"] = cves

    # N4 score + N5 residue filter (basic.py:257-279)
    for category, entries in results.items():
        for ent in entries:
            score = ner_score(ent, category, ner_lookup, NER_MATCH_SCORE)
            ent["NER_score"] = score
            if score == NER_MATCH_SCORE and mapped_ner:
                terms = hit_search_terms(ent, category)
                for k in mapped_ner:
                    mapped_ner[k] = [s for s in mapped_ner[k]
                                     if s.lower() not in terms]

    # N6 residue re-bucketing (basic.py:281-292); sorted() replaces the
    # reference's nondeterministic set-iteration order.
    if mapped_ner:
        for category, values in list(mapped_ner.items()):
            for val in values:
                for variant in sorted(generate_variants(val)):
                    if CVE_RE.fullmatch(variant):
                        if val not in mapped_ner.get("cve", []):
                            mapped_ner.setdefault("cve", []).append(val)
                        break
                    elif CPE_RE.fullmatch(variant):
                        if val not in mapped_ner.get("cpe", []):
                            mapped_ner.setdefault("cpe", []).append(val)
                        break

    # A1 exact-dedup per category (basic.py:304-340) then A2 context.
    ctx = _ContextIndex(text, CONTEXT_LENGTH)
    for category, entries in results.items():
        seen = set()
        deduped = []
        for ent in entries:
            key = _canonical_key(ent)
            if key not in seen:
                seen.add(key)
                deduped.append(ent)
        for ent in deduped:
            idx = ent.get("index")
            if idx is not None:
                ent["sentence"] = ctx.sentence(idx)
        results[category] = deduped

    return results, mapped_ner, len(ctx.spans)


def _hits_from_matches(matches, category: str,
                       catalog: CompiledCatalog) -> list[dict]:
    """M1 hit records from matcher hits (reference match_variants,
    basic.py:114-148)."""
    out = []
    for m in matches:
        node_info = catalog.variant_to_node[category][m.pattern]
        node = (node_info["node"]
                if isinstance(node_info, dict) and "node" in node_info
                else node_info)
        hit = {
            "name": node["name"],
            "original_id": node["original_id"],
            "index": m.start,
        }
        if category == "group":
            hit["alias"] = node_info.get("alias")
        if category == "software" and "software_type" in node:
            hit["software_type"] = node["software_type"]
        out.append(hit)
    return out


def _match_technique_ids(text: str, catalog: CompiledCatalog) -> list[dict]:
    """M2 (reference basic.py:151-166)."""
    out = []
    for m in TECHNIQUE_ID_RE.finditer(text):
        tid = m.group().lower()
        node = catalog.technique_id_to_node.get(tid)
        if node is not None:
            out.append({
                "name": node["name"],
                "original_id": node["original_id"],
                "index": m.start(),
            })
    return out

