"""Gold triples from the independent interpreter (scripts/ref_interpreter.py).

``interpret(n, seed)`` builds the KG of pages ``0..n-1`` of ``seed``: the
same pages the workloads land, in the same order.  Nothing here calls
pipeline transformation code.
"""

from __future__ import annotations

import importlib.util
from pathlib import Path


def load_interpreter(root: Path):
    spec = importlib.util.spec_from_file_location(
        "ref_interpreter", root / "scripts" / "ref_interpreter.py")
    ri = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ri)
    return ri


def gold_triples(root: Path, n_pages: int, seed: int) -> list[tuple]:
    """The interpreter's triples for pages ``0..n_pages-1``, as the sorted
    7-field tuples ``canonical`` makes of Spark rows."""
    return canonical(load_interpreter(root).interpret(n_pages, seed))


def canonical(rows) -> list[tuple]:
    """Triple rows (Spark rows or dicts) -> sorted (subj, pred, obj,
    sorted sources, n_sources, justification, score) tuples."""
    return sorted(
        (r["subj"], r["pred"], r["obj"], tuple(sorted(r["sources"])),
         r["n_sources"], r["justification"], r["score"]) for r in rows)
