"""Pipeline constants, mirroring the reference's scoring configuration.

Reference: src/nodes_extraction/config.py:1-22.
"""

# Score a dictionary hit receives when NER independently found one of its
# surface forms (reference config.py:2).
NER_MATCH_SCORE = 1.0

# Radius (chars) per required word for the cpe_versioned context window
# (reference config.py:5, used at basic.py:218).
CPE_CHAR_RANGE = 75

# Words of context kept on each side of a hit (reference config.py:8).
CONTEXT_LENGTH = 15

# Page language the pipeline keeps (pages carry a ``lang`` column).
LANG = "en"

# Cosine threshold for semantic entity linking (reference config.py:14).
SIM_THRESHOLD = 0.8

# BM25 parameters (reference statistics.py:9).
BM25_K1 = 1.5
BM25_B = 0.75

# Labels that receive BM25 scores (reference statistics.py:36).
BM25_LABELS = [
    "group", "tactic", "technique", "software", "capec", "cwe", "cpe_versioned",
]

# Dimensionality of the deterministic stub embedder (the reference uses
# 384-d SBERT all-MiniLM-L6-v2, embeddings.py:7-9; unavailable offline, so
# the rebuild ships a deterministic char-n-gram hashing embedder).
EMBED_DIM = 64

# NER raw-category -> BRON bucket map (reference ner.py:73-86).
NER_CATEGORY_MAP = {
    "TECHNIQUE": "technique",
    "OS": "others",
    "PROTOCOL": "others",
    "SOFTWARE": "software",
    "THREAT_ACTOR": "group",
    "SECURITY_PRODUCT": "software",
    "PRODUCT": "software",
    "PROGRAMMING_LANGUAGE": "others",
    "VENDOR": "software",
    "OBSERVABLE": "technique",
    "OBSERVABLE-CVE": "cve",
    "OBSERVABLE-FILENAME": "software",
}

# Generic strings NER output drops (reference ner.py:88).
NER_BLACKLIST = {"group", "threat group", "apt", "domain", "exploit", "tool", "t1059 003"}

# Typed predicates for doc-level co-occurrence edges, keyed by
# (subject label, object label).  The reference only specifies the edge
# *shape* {from, to, source[], justification} (README.md:47-58); the typed
# predicate vocabulary is this rebuild's materialization policy.
PREDICATE_MAP = {
    ("group", "technique"): "uses",
    ("group", "software"): "uses",
    ("group", "cve"): "exploits",
    ("software", "technique"): "implements",
    ("software", "cve"): "exploits",
    ("technique", "tactic"): "accomplishes",
    ("technique", "capec"): "related_to",
    ("capec", "cwe"): "targets",
    ("cwe", "cve"): "observed_in",
    ("cve", "cpe_versioned"): "affects",
    ("group", "tactic"): "pursues",
}
