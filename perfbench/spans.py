"""Traced runs: spans around the calls into each layer, joined to Spark's
event log.

Every span tags the Spark jobs it starts with a job group (the
``spark.jobGroup.id`` local property of the calling thread).  Local
properties are per thread, so spans opened on the pipeline's canon,
residual-write and lineage-record threads tag their own jobs.  After the
session stops, the event log's job, stage and task records are joined to
the spans by job group, and each layer's metrics are aggregated from the
spans of that layer.

Wrappers are installed from here, around public module attributes; the
program's own code is not modified.
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path

GROUP = "spark.jobGroup.id"
PREFIX = "perfbench-"

LAYERS = ["mention", "link", "canonicalize", "materialize", "lineage",
          "pipeline", "kg_stream"]
# (metric, unit, better) common to every layer
STANDARD = [
    ("wall_s", "s", "lower"), ("jobs", "count", "lower"),
    ("tasks", "count", "lower"), ("run_s", "s", "lower"),
    ("jvm_cpu_s", "s", "lower"), ("offjvm_s", "s", "lower"),
    ("shuffle_mb", "MiB", "lower"), ("gc_s", "s", "lower"),
    ("spill_mb", "MiB", "lower"), ("skew", "ratio", "lower"),
]
COUNTS = {
    "mention": [("pages", "count", "higher"), ("docs", "count", "higher"),
                ("rows", "count", "higher"), ("errors", "count", "lower")],
    "link": [("residues", "count", "higher"), ("linked", "count", "higher"),
             ("yield", "ratio", "higher")],
    "canonicalize": [("blocking_s", "s", "lower")],
    "materialize": [("triples", "count", "higher")],
    "lineage": [("record_s", "s", "lower"), ("blocking_s", "s", "lower")],
    "pipeline": [("self_s", "s", "lower"), ("driver_idle_s", "s", "lower"),
                 ("short_jobs", "count", "lower"),
                 ("span_coverage", "ratio", "higher")],
    "kg_stream": [("batches", "count", "higher"), ("step_s", "s", "lower"),
                  ("jobs_per_batch", "count", "lower"),
                  ("trigger_overhead_s", "s", "lower"),
                  ("merge_s", "s", "lower")],
}


def metric_specs() -> list[tuple[str, str, str]]:
    """Every per-layer metric as (name, unit, better).  ``op.wall_s`` is
    the traced operation's wall: minus the untraced ``warm_wall_s`` of
    the same seed, it is the tracing overhead.  ``process.peak_rss_mb`` is
    filled in by the caller, from its RSS sampler."""
    return [(f"{layer}.{m}", unit, better) for layer in LAYERS
            for m, unit, better in STANDARD + COUNTS[layer]] + [
        ("op.wall_s", "s", "lower"), ("process.peak_rss_mb", "MiB", "lower")]


# stage tables (last path component) -> the layer that writes them
TABLE_LAYER = {
    "mentions": "mention", "linked": "link", "links_residual": "link",
    "canon": "canonicalize", "triples": "materialize",
    "partials": "kg_stream",
}


class Tracer:
    """In-memory spans; recording is on only inside ``operation``."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.sc = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._op: dict | None = None
        self._op_stack: list[dict] = []

    def _stack(self) -> list[dict]:
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        return stack

    @contextmanager
    def span(self, name: str, layer: str):
        op = self._op
        if op is None or self.sc is None:
            yield
            return
        stack = self._stack()
        # a span opened on a helper thread hangs under whatever the
        # operation's own thread has open (e.g. Pipeline.run)
        parent = (stack or self._op_stack or [None])[-1]
        sp = {"id": next(self._ids), "name": name, "layer": layer,
              "parent": parent["id"] if parent else None, "op": op["index"],
              "main": stack is self._op_stack,
              "thread": threading.current_thread().name}
        prev = self.sc.getLocalProperty(GROUP)
        self.sc.setLocalProperty(GROUP, f"{PREFIX}{sp['id']}")
        stack.append(sp)
        sp["t0"] = time.time()
        try:
            yield sp
        finally:
            sp["t1"] = time.time()
            stack.pop()
            self.sc.setLocalProperty(GROUP, prev)
            with self._lock:
                self.spans.append(sp)

    @contextmanager
    def operation(self, kind: str, measured: bool, counts: dict):
        """One benchmark operation.  ``counts`` is filled by the caller
        (funnel counts, stream progress) and kept with the op."""
        op = {"index": len(self.ops), "kind": kind, "measured": measured,
              "counts": counts}
        self.ops.append(op)
        self._op = op
        self._op_stack = self._stack()
        try:
            with self.span(kind, "op"):
                yield op
        finally:
            self._op = None


def _wrap_function(tracer: Tracer, owner, attr: str, layer: str) -> None:
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(attr, layer):
            return fn(*args, **kwargs)

    setattr(owner, attr, traced)


def _table(path) -> str:
    return Path(str(path).rstrip("/")).name


def install(tracer: Tracer) -> None:
    """Wrap the layer entry points.  Call once, before any operation."""
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    from apt_bron_re_spark.operators import (bm25, canonicalize, linking,
                                             materialize, mention)
    from apt_bron_re_spark.plans import lineage, pipeline
    from apt_bron_re_spark.streaming import kg_stream

    write = DataFrameWriter.parquet

    @functools.wraps(write)
    def traced_write(self, path, *args, **kwargs):
        table = _table(path)
        with tracer.span(f"write:{table}",
                         TABLE_LAYER.get(table, "pipeline")):
            return write(self, path, *args, **kwargs)

    DataFrameWriter.parquet = traced_write

    read = DataFrameReader.parquet

    @functools.wraps(read)
    def traced_read(self, *paths, **kwargs):
        table = _table(paths[0]) if paths else ""
        if table not in TABLE_LAYER:
            return read(self, *paths, **kwargs)
        with tracer.span(f"read:{table}", TABLE_LAYER[table]):
            return read(self, *paths, **kwargs)

    DataFrameReader.parquet = traced_read

    for module, layer, names in [
        (mention, "mention", ["detect_mentions"]),
        (bm25, "link", ["bm25_global_stats", "add_bm25_frozen_split",
                        "add_bm25_frozen"]),
        (linking, "link", ["build_links", "merge_links_split",
                           "merge_links"]),
        (canonicalize, "canonicalize", ["canonical_map"]),
        (materialize, "materialize", ["evidence_rows", "materialize_triples",
                                      "partial_triples",
                                      "merge_partial_triples"]),
        (kg_stream, "kg_stream", ["kg_batch_step", "merged_triples"]),
    ]:
        for name in names:
            _wrap_function(tracer, module, name, layer)
    _wrap_function(tracer, pipeline.Pipeline, "run", "pipeline")
    _wrap_function(tracer, pipeline.Pipeline, "_canon_stage",
                   "canonicalize")
    _wrap_function(tracer, pipeline.Pipeline, "_join_records", "lineage")
    _wrap_function(tracer, lineage.LineageLog, "record", "lineage")


def event_log_conf(events_dir: Path) -> dict:
    events_dir.mkdir(parents=True, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events_dir.resolve().as_uri(),
            "spark.eventLog.compress": "false"}


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def _event_files(events_dir: Path) -> list[Path]:
    """The log's files in write order: a plain file, or the rolling
    layout's ``eventlog_v2_<app>/events_<n>_<app>`` parts."""
    def order(p: Path) -> tuple:
        parts = p.name.split("_")
        return (str(p.parent),
                int(parts[1]) if p.name.startswith("events_")
                and parts[1].isdigit() else 0)

    return sorted((p for p in events_dir.rglob("*") if p.is_file()
                   and not p.name.startswith((".", "appstatus"))), key=order)


def read_event_log(events_dir: Path) -> dict[int, dict]:
    """-> {job id: {group, t0, t1, stages, tasks}}: times in seconds since
    the epoch, ``tasks`` one list per stage the job ran, a task being
    (run_s, cpu_s, gc_s, shuffle_bytes, spill_bytes)."""
    jobs: dict[int, dict] = {}
    stage_tasks: dict[int, list] = {}
    for path in _event_files(Path(events_dir)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "group": (ev.get("Properties") or {}).get(GROUP),
                        "t0": ev["Submission Time"] / 1000.0, "t1": None,
                        "stages": ev.get("Stage IDs", [])}
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["t1"] = (
                            ev["Completion Time"] / 1000.0)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    stage_tasks.setdefault(ev["Stage ID"], []).append((
                        m.get("Executor Run Time", 0) / 1000.0,
                        m.get("Executor CPU Time", 0) / 1e9,
                        m.get("JVM GC Time", 0) / 1000.0,
                        sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0),
                        m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0)))
    # a stage's tasks ran under the first job that lists it; later jobs
    # list it again only as a skipped (reused) parent
    owned: set[int] = set()
    for jid in sorted(jobs):
        job = jobs[jid]
        job["tasks"] = []
        for sid in job["stages"]:
            if sid not in owned and sid in stage_tasks:
                owned.add(sid)
                job["tasks"].append(stage_tasks[sid])
    return jobs


# ---------------------------------------------------------------------------
# aggregation
# ---------------------------------------------------------------------------

def _union(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _clip(intervals, lo: float, hi: float):
    return [(max(a, lo), min(b, hi)) for a, b in intervals
            if min(b, hi) > max(a, lo)]


def _job_metrics(job_list: list[dict]) -> dict:
    stages = [s for j in job_list for s in j["tasks"]]
    tasks = [t for s in stages for t in s]
    run = sum(t[0] for t in tasks)
    cpu = sum(t[1] for t in tasks)
    skew = 0.0
    heavy = max(stages, key=lambda s: sum(t[0] for t in s), default=[])
    if len(heavy) >= 2:
        runs = [t[0] for t in heavy]
        skew = max(runs) / max(statistics.median(runs), 1e-3)
    return {"jobs": len(job_list), "tasks": len(tasks), "run_s": run,
            "jvm_cpu_s": cpu, "offjvm_s": max(0.0, run - cpu),
            "shuffle_mb": sum(t[3] for t in tasks) / 2**20,
            "gc_s": sum(t[2] for t in tasks),
            "spill_mb": sum(t[4] for t in tasks) / 2**20, "skew": skew}


def op_metrics(op: dict, spans: list[dict], jobs: dict) -> dict:
    """Per-layer metrics of one operation."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def descendants(sp: dict) -> list[dict]:
        out, todo = [], [sp]
        while todo:
            for k in kids.get(todo.pop()["id"], ()):
                out.append(k)
                todo.append(k)
        return out

    def jobs_of(span_ids: set[int]) -> list[dict]:
        return [j for j in jobs.values() if j["group"]
                and j["group"].startswith(PREFIX)
                and int(j["group"][len(PREFIX):]) in span_ids]

    def dur(s: dict) -> float:
        return s["t1"] - s["t0"]

    out: dict[str, float] = {}
    for layer in LAYERS:
        mine = [s for s in spans if s["layer"] == layer]
        out[f"{layer}.wall_s"] = _union((s["t0"], s["t1"]) for s in mine)
        for k, v in _job_metrics(jobs_of({s["id"] for s in mine})).items():
            out[f"{layer}.{k}"] = v

    # pipeline: self time, idle driver, short jobs, span coverage
    runs = [s for s in spans if s["name"] == "run"]
    self_s = idle = coverage = 0.0
    short = 0
    for run in runs:
        lo, hi = run["t0"], run["t1"]
        covered = _union(_clip(((d["t0"], d["t1"]) for d in descendants(run)),
                               lo, hi))
        self_s += dur(run) - covered
        coverage += covered / max(dur(run), 1e-9) / len(runs)
        busy = [(j["t0"], j["t1"]) for j in jobs.values() if j["t1"]]
        idle += dur(run) - _union(_clip(busy, lo, hi))
        short += sum(1 for j in jobs.values() if j["t1"]
                     and lo <= j["t0"] <= hi and j["t1"] - j["t0"] < 0.1)
    out.update({"pipeline.self_s": self_s, "pipeline.driver_idle_s": idle,
                "pipeline.short_jobs": float(short),
                "pipeline.span_coverage": coverage})

    # lineage: busy recording vs. time the operation's thread waited on it
    lin = [s for s in spans if s["layer"] == "lineage"]
    out["lineage.record_s"] = sum(dur(s) for s in lin if s["name"] == "record")
    out["lineage.blocking_s"] = _union((s["t0"], s["t1"])
                                       for s in lin if s["main"])

    # canonicalize: how long materialize waited for the canon thread
    canon_end = max((s["t1"] for s in spans if s["name"] == "_canon_stage"),
                    default=None)
    link_end = max((s["t1"] for s in spans if s["layer"] == "link"
                    and s["name"].startswith("write:")), default=None)
    out["canonicalize.blocking_s"] = (
        max(0.0, canon_end - link_end)
        if canon_end is not None and link_end is not None else 0.0)

    # kg_stream: per-micro-batch step spans and the final merge
    steps = [s for s in spans if s["name"] == "kg_batch_step"]
    if steps:
        out["kg_stream.batches"] = float(len(steps))
        out["kg_stream.step_s"] = statistics.median(dur(s) for s in steps)
        out["kg_stream.jobs_per_batch"] = statistics.median(
            len(jobs_of({s["id"]} | {d["id"] for d in descendants(s)}))
            for s in steps)
    merges = [s for s in spans if s["name"] == "merge"]
    out["kg_stream.merge_s"] = sum(dur(s) for s in merges)

    out["op.wall_s"] = sum(dur(s) for s in spans if s["layer"] == "op")
    for k, v in op["counts"].items():
        out[k] = float(v)
    return out


def layer_metrics(tracer: Tracer, events_dir: Path,
                  report_path: Path | None = None) -> dict[str, float]:
    """Median over the measured operations of each per-layer metric; every
    metric of ``metric_specs`` is present (0 where its layer did not run)."""
    jobs = read_event_log(events_dir)
    per_op = []
    for op in tracer.ops:
        spans = [s for s in tracer.spans if s["op"] == op["index"]]
        per_op.append(op_metrics(op, spans, jobs))
    measured = [m for op, m in zip(tracer.ops, per_op) if op["measured"]]
    result = {}
    for name, _unit, _better in metric_specs():
        vals = [m.get(name, 0.0) for m in measured] or [0.0]
        result[name] = float(statistics.median(vals))
    if report_path is not None:
        report_path.write_text(json.dumps({
            "ops": [{"kind": op["kind"], "measured": op["measured"],
                     "metrics": m} for op, m in zip(tracer.ops, per_op)],
            "spans": tracer.spans,
            "untagged_jobs": sum(1 for j in jobs.values()
                                 if not (j["group"] or "").startswith(
                                     PREFIX)),
        }, indent=1, default=str))
    return result
