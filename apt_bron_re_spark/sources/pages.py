"""Deterministic synthetic Common-Crawl-style page corpus.

Replaces the reference's APTnotes download + PDF conversion front end
(src/data_prep/download_aptnotes.py, convert_reports.py — S1-S4 in
SURVEY.md; out of scope per BASELINE.json: the pipeline input is an
Iceberg-style ``pages`` table with columns
``(url, warc_ts, html BINARY, text, lang)``).

Every page is generated from a seeded ``random.Random`` — same seed, same
corpus, no wall-clock — and its ``text`` column is produced by running the
reference extractor ``extract_text`` on the generated ``html``, so the
byte-identical invariant holds by construction and the extractor can be
verified against it.

The corpus plants (FIXTURES.md §1):
  * exact names, dash/underscore/concatenated variants, group aliases;
  * ``T####``/``T####.###`` ids and ``CVE-YYYY-NNNN`` strings;
  * CPE version strings with (and without) enough co-occurring id words;
  * boundary-negative traps (entity embedded in a longer token);
  * repeated occurrences (only the first index may be recorded);
  * NER-only surface forms that the dictionary misses (linking residue);
  * a Zipfian hub entity (~30% of pages) for the skew fixtures (§7);
  * non-English rows (lang filter) and boilerplate nav/footer/script
    markup that extraction must strip.
"""

from __future__ import annotations

import datetime as _dt
import random

from ..catalog.synthetic import build_layer_map
from ..functions.extract_text import extract_text

HUB_GROUP = "Obsidian Tiger"          # appears in ~30% of pages
HUB_RATE = 0.30

# NER-only surfaces: found by the (deterministic) NER tagger but NOT by the
# dictionary scan -> survive residue filtering (N5) -> exercise linking L2-L4.
# The list is owned by the tagger spec (operators/doc_core.py); the corpus
# generator imports it so the planted text matches what the service knows.
from ..operators.doc_core import NER_ONLY_SURFACES  # noqa: E402,F401

# Surfaces the NER "service" recognizes but *normalizes* to its own
# dictionary form (like the reference's Lookup_Table mode): the emitted
# value, not the surface, is what enters the NER buckets — so it can be a
# catalog variant even though the text never contains that variant.  These
# exercise the L2 (same-label) and L3 (cross-label) variant-link paths.
NER_NORMALIZED_SURFACES = [
    "the Mantids",       # -> "mantis-crew"   (alias of Crimson Mantis, group)
    "Serpent Crew",      # -> "Azure Serpent" (group name)
    "the lynxes",        # -> "lynx-team"     (alias of Quiet Lynx, group)
    "hound utility",     # -> "BloodHound"    (software name, via technique bucket)
]

_FILLER = [
    "The incident response team observed anomalous authentication traffic "
    "originating from the staging subnet during the maintenance window.",
    "Defenders should review egress filtering policies and rotate exposed "
    "credentials as a precaution.",
    "Telemetry collected from endpoint sensors was correlated with proxy "
    "logs to reconstruct the intrusion timeline.",
    "The campaign infrastructure rotated rapidly, complicating attribution "
    "efforts across the affected sectors.",
    "Patch management gaps left several internet-facing assets exposed for "
    "months before remediation.",
    "Analysts recovered staging directories containing archived documents "
    "prepared for exfiltration.",
    "Network segmentation limited lateral movement to a handful of "
    "workstations in the engineering VLAN.",
]

_BOILERPLATE_NAV = (
    '<nav><ul><li><a href="/">Home</a></li><li><a href="/reports">Reports'
    "</a></li><li>Subscribe to our newsletter</li></ul></nav>"
)
_BOILERPLATE_FOOTER = (
    "<footer>Copyright 2024 Example Threat Research. All rights reserved. "
    "Cookie policy | Terms of service</footer>"
)
_SCRIPT = "<script>var analytics=function(){return 42;};analytics();</script>"
_STYLE = "<style>body{font-family:sans-serif;color:#222}</style>"


def _year_of(i: int) -> int:
    return 2019 + (i % 6)


def generate_page(i: int, seed: int = 42, scale: int = 1,
                  hub_rate: float | None = None) -> dict:
    """One deterministic page record (plain dict).

    ``scale`` multiplies the filler-prose volume (realistic web pages are
    10-100 KB; the default tiny pages keep unit tests fast).  scale=1
    output is byte-stable regardless of this parameter's existence — the
    extra draws happen only when scale > 1, after the base draws.

    ``hub_rate`` (round-5 skew stress): overrides the default 30% hub-GROUP
    rate AND additionally plants one fixed hub CVE at the same rate — the
    reference's hub-entity reality (one APT group / one headline CVE in a
    large fraction of reports, SURVEY §4) pushed past the default.  The
    default ``None`` keeps every draw identical to before (byte-stable,
    same pattern as ``scale``): the extra hub-CVE draw is skipped
    ENTIRELY on the default path; when hub_rate is set it occurs
    mid-sequence (between the CVE-number and cpe draws), so a hub corpus
    intentionally shifts all downstream draws.
    """
    rng = random.Random((seed << 20) ^ i)
    layers = build_layer_map()
    hubbed = hub_rate is not None
    hr = HUB_RATE if hub_rate is None else hub_rate

    groups = layers["group"]
    techniques = layers["technique"]
    software = layers["software"]
    tactics = layers["tactic"]
    capecs = layers["capec"]
    cwes = layers["cwe"]
    cpes = layers["cpe_versioned"]

    paras: list[str] = []

    # --- threat-actor paragraph (hub-skewed)
    if rng.random() < hr:
        grp = next(g for g in groups if g["name"] == HUB_GROUP)
    else:
        grp = rng.choice(groups)
    alias_pool = grp.get("MITRE_aliases", []) + grp.get("malpedia_aliases", [])
    actor_bits = [
        f"This report attributes the activity to {grp['name']} "
        f"(tracked as {grp['original_id']})."
    ]
    if alias_pool and rng.random() < 0.7:
        actor_bits.append(
            f"The cluster is also referred to as {rng.choice(alias_pool)} "
            "by other vendors."
        )
    if rng.random() < 0.5:  # repeated occurrence: only first index counts
        actor_bits.append(f"{grp['name']} has remained active this quarter.")
    paras.append(" ".join(actor_bits))

    # --- technique paragraph: name form, variant form, and bare T-id
    tech = rng.choice(techniques)
    tech2 = rng.choice(techniques)
    name_form = tech["name"]
    if rng.random() < 0.4 and " " in name_form:
        name_form = name_form.replace(" ", "-")  # dash variant of the name
    paras.append(
        f"Initial execution relied on {name_form} as documented under "
        f"{tech['original_id']}. Subsequent stages leveraged "
        f"{tech2['original_id']} against unmanaged hosts."
    )

    # --- software + tactic paragraph
    sw = rng.choice(software)
    tac = rng.choice(tactics)
    paras.append(
        f"Operators deployed {sw['name']} ({sw['original_id']}) during the "
        f"{tac['name']} phase of the intrusion."
    )

    # --- CVE / CPE paragraph
    cve_year = 2017 + rng.randrange(8)
    cve_num = 1000 + rng.randrange(9000)
    cve = f"CVE-{cve_year}-{cve_num}"
    if hubbed and rng.random() < hr:
        # hub CVE (skew stress only — the extra draw keeps the default
        # path byte-stable): one headline vulnerability dominating the
        # reporting cycle
        cve = "CVE-2021-44228"
    cpe = rng.choice(cpes)
    bits = [f"The actors exploited {cve} on unpatched appliances."]
    if rng.random() < 0.6:
        # plant the version string WITH enough co-occurring cpe words
        bits.append(
            f"Affected builds include {cpe['vendor']} {cpe['product']} "
            f"version {cpe['version']} as shipped to customers."
        )
    else:
        # version string WITHOUT the required context words (must be filtered)
        bits.append(f"A build numbered {cpe['version']} was also observed.")
    paras.append(" ".join(bits))

    # --- weakness paragraph
    if rng.random() < 0.5:
        cw = rng.choice(cwes)
        cap = rng.choice(capecs)
        paras.append(
            f"Root cause analysis points to {cw['name']} ({cw['original_id']}) "
            f"enabling {cap['name']} style attack patterns."
        )

    # --- boundary-negative traps: embedded in longer alphanumeric tokens
    if rng.random() < 0.5:
        paras.append(
            f"Unrelated artifact names such as super{sw['name'].lower().replace(' ', '')}2020 "
            f"and {grp['original_id']}X9 must not be confused with real entities."
        )

    # --- NER-only residue surfaces (dictionary misses these)
    if rng.random() < 0.35:
        paras.append(
            f"Earlier drafts referenced the actor as {rng.choice(NER_ONLY_SURFACES)} "
            "before naming conventions were settled."
        )

    # --- NER-normalized surfaces (service emits its own dictionary form)
    if rng.random() < 0.35:
        paras.append(
            f"Regional teams informally call the operators {rng.choice(NER_NORMALIZED_SURFACES)} "
            "in internal tickets."
        )

    # --- filler prose
    for _ in range(rng.randrange(2, 5)):
        paras.append(rng.choice(_FILLER))
    if scale > 1:
        for k in range(6 * (scale - 1)):
            paras.append(
                f"Observation {k}: " + " ".join(
                    rng.choice(_FILLER) for _ in range(3)))
    rng.shuffle(paras)

    year = _year_of(i)
    url = f"https://reports.example.com/{year}/report-{i:06d}.html"
    title = f"Threat Report {i:06d}"
    body = "".join(f"<p>{p}</p>" for p in paras)
    html = (
        "<html><head><title>"
        + title
        + "</title>"
        + _STYLE
        + "</head><body>"
        + _SCRIPT
        + _BOILERPLATE_NAV
        + "<article><h1>"
        + title
        + "</h1>"
        + body
        + "</article>"
        + _BOILERPLATE_FOOTER
        + "</body></html>"
    )

    lang = "en" if i % 17 != 0 else rng.choice(["de", "fr", "ru"])
    ts = _dt.datetime(year, 1 + (i % 12), 1 + (i % 28),
                      i % 24, i % 60, i % 60)
    html_bytes = html.encode("utf-8")
    return {
        "url": url,
        "warc_ts": ts,
        "html": html_bytes,
        "text": extract_text(html_bytes),
        "lang": lang,
    }


def generate_pages(n: int, seed: int = 42, scale: int = 1,
                   hub_rate: float | None = None) -> list[dict]:
    """n deterministic page records."""
    return [generate_page(i, seed, scale, hub_rate) for i in range(n)]


def pages_df(spark, n: int, seed: int = 42, partitions: int | None = None,
             scale: int = 1, hub_rate: float | None = None):
    """Synthetic pages as a Spark DataFrame with the input_hint schema.

    For large n the generation itself is distributed: parallelize the ids
    and build each page on executors (the generator is a pure function of
    (i, seed)), so no driver-side materialization bottleneck.
    """
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ])
    parts = partitions or max(2, min(64, n // 250 or 2))
    rdd = (
        spark.sparkContext
        .parallelize(range(n), parts)
        .map(lambda i: generate_page(i, seed, scale, hub_rate))
        .map(lambda d: (d["url"], d["warc_ts"], d["html"], d["text"], d["lang"]))
    )
    return spark.createDataFrame(rdd, schema)
