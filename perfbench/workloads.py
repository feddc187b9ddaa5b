"""The benchmark's workloads.

Each workload lands its seeded input pages as parquet files (the
benchmark's own work, before the session starts), sets the program up,
and runs operations through the public entry points.  An operation is
one ``Pipeline.run`` (batch) or one drain of the page stream through
``run_kg_stream`` + ``merged_triples`` (stream); its triples are collected
after the timer stops, for the exact check against the interpreter.
"""

from __future__ import annotations

import shutil
import statistics
import time
from contextlib import nullcontext
from pathlib import Path

PAGE_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]


def write_pages(path: Path, indices: range, seed: int,
                files: int = 1) -> None:
    """Pages ``indices`` of ``seed`` as ``files`` parquet files, split into
    contiguous ranges the way ``sources.pages.pages_df`` partitions them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from apt_bron_re_spark.sources.pages import generate_page

    path.mkdir(parents=True, exist_ok=True)
    n = len(indices)
    for k in range(files):
        part = indices[k * n // files:(k + 1) * n // files]
        rows = [generate_page(i, seed) for i in part]
        table = pa.Table.from_pylist(
            [{c: r[c] for c in PAGE_COLUMNS} for r in rows])
        pq.write_table(table, str(path / f"part-{k:05d}.parquet"))


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    n_pages = 0

    def __init__(self, work: Path, seed: int, tracer=None):
        self.work, self.seed = work, seed
        self.tracer = tracer
        self.spark = None
        self.ops: list[dict] = []   # kind, wall_s, rows, pages[, batches]

    @property
    def gold_pages(self) -> tuple[int, ...]:
        """Page counts ``n`` of the operations: each one's output is the KG
        of pages ``0..n-1``."""
        return (self.n_pages,)

    def op(self, kind: str, measured: bool, counts: dict):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.operation(kind, measured, counts)

    def span(self, name: str, layer: str):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(name, layer)


# ---------------------------------------------------------------------------

class KGBatch(Workload):
    """Default ~1.5 KB pages (30% on the hub group) through
    ``Pipeline(fuse_extract=True, n_buckets=32).run(resume=False)``."""

    name = "kg_batch"
    n_pages = 1000

    def land(self) -> None:
        # pages_df's partition count for this n, so the scan spreads the
        # same way as the synthetic source's
        write_pages(self.work / "pages", range(self.n_pages), self.seed,
                    files=max(2, min(64, self.n_pages // 250)))

    def setup(self) -> None:
        """Catalog and input table."""
        from apt_bron_re_spark.catalog.synthetic import build_layer_map

        self.layer_map = build_layer_map()
        self.pages = self.spark.read.parquet(str(self.work / "pages"))

    def warm_up(self) -> float:
        return 0.0  # the first run is measured as the cold run

    def run(self, seconds: float, deadline: float, sampler) -> None:
        from apt_bron_re_spark.plans.pipeline import Pipeline

        warm_start = None
        i = 0
        while True:
            base = self.work / f"stages{i}"
            pipe = Pipeline(self.spark, self.layer_map, base, n_buckets=32,
                            fuse_extract=True)
            counts: dict = {}
            with sampler, self.op("pipeline_run", i > 0, counts):
                t0 = time.perf_counter()
                triples = pipe.run(self.pages, resume=False)
                triples.count()
                wall = time.perf_counter() - t0
            self.ops.append({"kind": "cold" if i == 0 else "warm",
                             "wall_s": wall, "pages": self.n_pages,
                             "rows": triples.collect()})
            if self.tracer is not None:
                counts.update(self._funnel(base))
            shutil.rmtree(base, ignore_errors=True)
            i += 1
            now = time.time()
            warm_start = warm_start or now
            if i >= 2 and (now - warm_start >= seconds or now > deadline):
                break

    def _funnel(self, base: Path) -> dict:
        from pyspark.sql import functions as F

        read = self.spark.read.parquet
        kinds = {r["rec_type"]: r["n"] for r in
                 read(str(base / "mentions")).groupBy("rec_type")
                 .agg(F.count("*").alias("n")).collect()}
        annotated = (read(str(base / "linked"))
                     .filter(F.col("match_type").isNotNull()).count())
        residual = read(str(base / "links_residual")).count()
        residues = kinds.get("residue", 0)
        return {"mention.pages": self.n_pages,
                "mention.docs": kinds.get("doc", 0),
                "mention.rows": kinds.get("mention", 0),
                "mention.errors": kinds.get("error", 0),
                "link.residues": residues,
                "link.linked": annotated + residual,
                "link.yield": (annotated + residual) / max(residues, 1),
                "materialize.triples": read(str(base / "triples")).count()}

    def result(self) -> dict:
        warm = [o["wall_s"] for o in self.ops if o["kind"] == "warm"]
        wall = statistics.median(warm)
        return {"cold_wall_s": self.ops[0]["wall_s"], "warm_wall_s": wall,
                "batch_p50_s": wall,
                "triples_per_s": len(self.ops[-1]["rows"]) / wall}

    def attempted(self) -> int:
        return len(self.ops)


# ---------------------------------------------------------------------------

class KGStream(Workload):
    """The same default pages landed as 50-page parquet files, drained by
    ``run_kg_stream(available_now=True)`` one file per trigger, then
    ``merged_triples``.  BM25 stats and canon are frozen in set-up from all
    the pages.  The warm-up query drains the first file; the measured
    query restarts from its checkpoint after the other files arrive."""

    name = "kg_stream"
    files = 3
    per_file = 50  # micro-batch cost is mostly per job, not per page
    n_pages = files * per_file
    gold_pages = (per_file, n_pages)

    def land(self) -> None:
        write_pages(self.work / "landed", range(self.n_pages), self.seed,
                    files=self.files)
        (self.work / "pages").mkdir()
        self._arrive(0)

    def _arrive(self, k: int) -> None:
        name = f"part-{k:05d}.parquet"
        (self.work / "landed" / name).rename(self.work / "pages" / name)

    def setup(self) -> None:
        """Freeze BM25 globals and the canon table from the pages (the
        production rule: freeze once, score every increment against it)."""
        from pyspark.sql import functions as F

        from apt_bron_re_spark.catalog.synthetic import build_layer_map
        from apt_bron_re_spark.operators import bm25, mention
        from apt_bron_re_spark.operators.canonicalize import canonical_map

        self.layer_map = build_layer_map()
        pages = self.spark.read.parquet(str(self.work / "landed"),
                                        str(self.work / "pages"))
        stage2 = mention.detect_mentions(
            pages.filter(F.col("lang") == "en").select("url", "html"),
            self.layer_map, from_html=True).persist()
        self.stats, self.df_ = bm25.bm25_global_stats(
            mention.mentions_view(stage2), mention.doc_lengths_view(stage2))
        self.canon = canonical_map(self.spark, self.layer_map)
        for df in (self.stats, self.df_, self.canon):
            df.persist().count()
        stage2.unpersist()

    def warm_up(self) -> float:
        """Drain of the first file: the first stream operation in the
        process."""
        self._drain("warmup", measured=False, files=range(1))
        return self.ops[-1]["wall_s"]

    def _drain(self, kind: str, measured: bool, files: range,
               sampler=None) -> None:
        """Drain the arrived ``files`` and merge every partial so far."""
        from apt_bron_re_spark.streaming import kg_stream
        from apt_bron_re_spark.streaming.mention_stream import PAGE_DDL

        pages_dir = self.work / "pages"
        out = self.work / "partials"
        src = (self.spark.readStream.schema(PAGE_DDL).format("parquet")
               .option("maxFilesPerTrigger", 1).load(str(pages_dir)))
        counts: dict = {}
        with sampler or nullcontext(), \
                self.op("stream_drain", measured, counts):
            t0 = time.perf_counter()
            query = kg_stream.run_kg_stream(
                src, self.layer_map, self.stats, self.df_, self.canon,
                str(out), str(self.work / "checkpoint"),
                available_now=True)
            query.awaitTermination()
            with self.span("merge", "kg_stream"):
                _force(kg_stream.merged_triples(self.spark, str(out)))
            wall = time.perf_counter() - t0
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        progress = [p for p in query.recentProgress if p["numInputRows"]]
        batches = [p["durationMs"]["triggerExecution"] / 1000.0
                   for p in progress]
        overhead = [(p["durationMs"]["triggerExecution"]
                     - p["durationMs"].get("addBatch", 0)) / 1000.0
                    for p in progress]
        rows = kg_stream.merged_triples(self.spark, str(out)).collect()
        self.ops.append({"kind": kind, "wall_s": wall, "rows": rows,
                         "pages": files.stop * self.per_file,
                         "batches": batches})
        counts["kg_stream.trigger_overhead_s"] = (
            statistics.median(overhead) if overhead else 0.0)
        if self.tracer is not None and measured:
            counts.update(self._funnel(files))
            counts["materialize.triples"] = len(rows)

    def _funnel(self, files: range) -> dict:
        """Funnel counts of the drained ``files``.  The stream keeps no
        stage tables, so this re-runs the micro-batch's own mention and
        link calls over those pages, after the drain and outside every
        span."""
        from pyspark.sql import functions as F

        from apt_bron_re_spark.operators import linking, mention

        pages = self.spark.read.parquet(
            *(str(self.work / "pages" / f"part-{k:05d}.parquet")
              for k in files))
        stage2 = mention.detect_mentions(
            pages.filter(F.col("lang") == "en").select("url", "html"),
            self.layer_map, from_html=True).persist()
        kinds = {r["rec_type"]: r["n"] for r in
                 stage2.groupBy("rec_type")
                 .agg(F.count("*").alias("n")).collect()}
        merged, residual = linking.merge_links(
            mention.mentions_view(stage2),
            linking.build_links(mention.residue_view(stage2),
                                self.layer_map))
        linked = (merged.filter(F.col("match_type").isNotNull()).count()
                  + residual.count())
        stage2.unpersist()
        residues = kinds.get("residue", 0)
        return {"mention.pages": len(files) * self.per_file,
                "mention.docs": kinds.get("doc", 0),
                "mention.rows": kinds.get("mention", 0),
                "mention.errors": kinds.get("error", 0),
                "link.residues": residues,
                "link.linked": linked,
                "link.yield": linked / max(residues, 1)}

    def run(self, seconds: float, deadline: float, sampler) -> None:
        """Land the other files and drain them from the warm-up's
        checkpoint.  One drain per run: the pages are used up."""
        for k in range(1, self.files):
            self._arrive(k)
        self._drain("drain", True, range(1, self.files), sampler)

    def result(self) -> dict:
        warm_up, drain = self.ops
        return {"cold_wall_s": warm_up["wall_s"],
                "warm_wall_s": drain["wall_s"],
                "batch_p50_s": statistics.median(drain["batches"]),
                "triples_per_s": len(drain["rows"]) / drain["wall_s"]}

    def attempted(self) -> int:
        return sum(len(o["batches"]) for o in self.ops)


WORKLOADS = {w.name: w for w in (KGBatch, KGStream)}
