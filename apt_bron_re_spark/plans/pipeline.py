"""The 5-stage KG-construction pipeline over staged parquet tables.

    pages -> extract -> mention -> link -> canonicalize -> materialize

Each stage writes an idempotent parquet table under ``base_dir`` (bucketed
by ``pbucket = pmod(murmur3(url), n_buckets)`` — exactly Spark's
HashPartitioning partition id, so url-partitioned plans write with no
extra shuffle; the parquet stand-in for Iceberg's ``bucket(url)``
partition transform — a production deployment swaps the writer for
``df.writeTo(...).partitionedBy(bucket(N, "url"))`` with zero logic
changes) and appends per-bucket lineage rows.  ``run(resume=True)``
skips stages whose fingerprint already completed — kill the job at any
stage boundary and re-running continues where it stopped.

Stage-table layout (versioned stage tables replace the reference's
in-place file rewrites — SURVEY.md §3):
    docs/            url, text (+ pbucket column; batch writes carry no
    mentions/        partition dirs — the UDF output streams straight to
                     parquet with NO shuffle; incremental writers lay
                     out pbucket=N dirs for per-bucket resume/pruning)
    linked/          mention rows + bm25 + link annotations, pbucket=N
    links_residual/  dirs written SHUFFLE-FREE (partitions are
                     pbucket-pure by construction)
    canon/           (label, original_id, canon_id)
    triples/         subj, pred, obj, sources[], justification, score
                     partitioned by pred (S10)

The link stage (L2-L5 links -> L6 merge, then BM25) is ONE kernel,
``operators.linking.link_stage``: a url-local ``mapInPandas`` pass over
the mention stage table repartitioned by url, run with the same
``linking.RowLinker`` as the streaming kernel.  Two execution wrappers
call it: ``run`` (the whole table, BM25 globals inline, the kernel output
persisted for the linked and residual writes) and
``run_link_incremental`` (one call per bucket chunk).  The kernel scores
against the global BM25 (stats, df) it is handed, so the chunked wrapper
freezes those once from the whole corpus; per-chunk stats would give
wrong idf.  (The streaming micro-batch step,
``streaming.kg_stream.kg_batch_step``, runs stages 2-5 row-locally
instead.)  Materialize is likewise one url-local kernel,
``operators.materialize.evidence_pairs``, under ``run``
(``materialize_triples``) and ``run_materialize_incremental``
(``partial_triples`` per chunk).  The ``run_*_incremental`` stages share
one chunk loop (``_run_chunks``): exactly-once per-partition writes plus
per-bucket lineage.
"""

from __future__ import annotations

import json
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions.partitioning import bucket

from ..config import LANG, NER_MATCH_SCORE, SIM_THRESHOLD
from ..operators import bm25, canonicalize, linking, materialize, mention
from ..operators.extract import extract_docs
from .lineage import LineageLog, fingerprint

# Bucket-layout identity of a base_dir.  pbucket was crc32(url) % n in
# round 2 and pmod(murmur3(url), n) since round 3 — a silent layout change
# would make per-bucket incremental resume re-process urls whose OLD
# bucket completed and skip urls that moved into completed buckets
# (duplicated/missing rows).  A marker file pins the layout at first
# write; a mismatched resume fails fast instead of mis-bucketing.
LAYOUT_ID = "pbucket=pmod(murmur3_hash(url),n_buckets)"

# Schema of a partitioned stage table that was written with zero rows
# (``Pipeline._keep_schema_if_empty``); readers skip '_' files.
EMPTY_SCHEMA = "_schema.json"


class Pipeline:
    def __init__(self, spark: SparkSession,
                 layer_map: dict[str, list[dict]],
                 base_dir: str | Path,
                 n_buckets: int = 32,
                 fuse_extract: bool = False,
                 catalog: str | None = None) -> None:
        """``fuse_extract=True`` runs E1 inside the mention UDF and skips
        materializing the docs table (half the stage-table IO; the same
        byte-identical extractor).  The unfused default keeps the extract
        checkpoint for stage-level resume granularity.

        ``catalog``: the Iceberg one-line swap (S7/S8 proper).  When set
        (e.g. ``"ice.db"``), every stage table becomes the Iceberg table
        ``<catalog>.<name>`` written via ``writeTo(...).partitionedBy(
        bucket(n_buckets, url))`` — the real partition transform the
        parquet ``pbucket`` column emulates.  Tables written by incremental
        chunks are instead partitioned by identity(pbucket), the chunk
        key: a stage's first chunk replaces the table, and each later
        chunk uses ``overwritePartitions()`` (Iceberg's native dynamic
        overwrite, same exactly-once semantics as the parquet path).
        Requires an
        Iceberg runtime on the session (tests/test_iceberg_optional.py
        runs the full pipeline this way when ``SPARK_ICEBERG_JAR`` is
        set; the sandbox has no jars, so it skips explicitly)."""
        self.spark = spark
        self.layer_map = layer_map
        self.base = Path(base_dir)
        self.n_buckets = n_buckets
        self.fuse_extract = fuse_extract
        self.catalog = catalog
        self.log = LineageLog(spark, base_dir)
        self._catalog_fp = fingerprint(layer_map)
        self._record_threads: list = []   # deferred lineage-record scans
        if not catalog:
            self._check_layout()

    def _check_layout(self) -> None:
        """Pin the base_dir's bucket layout (LAYOUT_ID + n_buckets): a
        resume against a base_dir written under a different layout fails
        fast instead of silently mixing bucket assignments.  Iceberg-mode
        skips this — the bucket transform lives in table metadata."""
        marker = self.base / "_layout.json"
        want = {"layout": LAYOUT_ID, "n_buckets": self.n_buckets}
        if marker.exists():
            got = json.loads(marker.read_text())
            if got != want:
                raise RuntimeError(
                    f"base_dir {self.base} was written with layout {got}, "
                    f"this build uses {want}; use a fresh base_dir (or "
                    "matching n_buckets) — resuming would mis-bucket")
        else:
            # A base_dir that already holds stage output but NO marker
            # predates the marker scheme (pre-round-3 crc32 pbuckets) or
            # lost it — stamping the CURRENT layout would silently
            # grandfather unknown-layout data and a resume could
            # mis-bucket, the exact failure this guard exists to prevent.
            existing = ([] if not self.base.exists() else
                        [p.name for p in self.base.iterdir()
                         if p.name != marker.name])
            if existing:
                raise RuntimeError(
                    f"base_dir {self.base} contains stage output "
                    f"({sorted(existing)[:5]}...) but no _layout.json — "
                    "its bucket layout is unknown; use a fresh base_dir "
                    "(resuming unmarked data could mis-bucket)")
            self.base.mkdir(parents=True, exist_ok=True)
            marker.write_text(json.dumps(want))

    def _canon_stage(self, resume: bool = True) -> DataFrame:
        """Stage 4: the catalog-derived canonical map."""
        return self._run_stage(
            "canonicalize", self._fps()[3],
            lambda: canonicalize.canonical_map(self.spark, self.layer_map),
            "canon", resume=resume)

    # -- helpers ----------------------------------------------------------
    def _path(self, name: str) -> str:
        return str(self.base / name)

    def _bucketed(self, df: DataFrame) -> DataFrame:
        # "pbucket" (partition bucket) — distinct from the NER residue
        # "bucket" column of the mention stage table.  Defined as
        # pmod(murmur3(url), n) — EXACTLY Spark's HashPartitioning(url, n)
        # partition-id expression (same hash, same seed 42) — so a plan
        # that is repartition(n, url)-partitioned has pbucket-PURE
        # partitions and can be written partitionBy("pbucket") with no
        # further shuffle (one file per bucket dir per branch).
        return df.withColumn(
            "pbucket", F.pmod(F.hash(F.col("url")), F.lit(self.n_buckets)).cast("int"))

    def _iceberg_writer(self, df: DataFrame, name: str,
                        partition_by: list[str] | None):
        w = df.writeTo(f"{self.catalog}.{name}").using("iceberg")
        if partition_by == ["pbucket"]:
            # the REAL bucket transform the parquet pbucket emulates
            return w.partitionedBy(bucket(self.n_buckets, F.col("url")))
        if partition_by:
            return w.partitionedBy(*[F.col(c) for c in partition_by])
        return w

    def _write(self, df: DataFrame, name: str,
               partition_by: list[str] | None = None) -> None:
        if self.catalog:
            self._iceberg_writer(df, name, partition_by).createOrReplace()
            return
        # pbucket tables are written here only by the batch link stage,
        # whose plans are HashPartitioning(url, n_buckets) partitions
        # coalesced without a shuffle: every pbucket value (see _bucketed)
        # lies in one task, so partitionBy writes one file per dir with NO
        # write-side shuffle.
        if partition_by and partition_by != ["pbucket"]:
            # low-cardinality partition columns (pred): pinned.  A
            # rebalance hint was tried here and AQE's 64MB advisory
            # re-serialized the triples encode into 1 task on most runs
            # (materialize stage 31 s <-> 132 s across identical reps);
            # hashing the ~11 preds into n_buckets partitions gives ~8-10
            # stable write tasks (measured: materialize 66.8 -> 36.2 s at
            # 256k pages, local[4]).
            df = df.repartition(self.n_buckets, *[F.col(c) for c in partition_by])
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self._path(name))
        if partition_by:
            self._keep_schema_if_empty(df, name, partition_by)

    def _keep_schema_if_empty(self, df: DataFrame, name: str,
                              partition_by: list[str]) -> None:
        """A partitioned parquet write of zero rows leaves no data file, so
        a read could not infer the schema.  Keep it beside the table
        (partition columns last, as a read infers them) for ``_read``."""
        path = Path(self._path(name))
        if next(path.rglob("*.parquet"), None) is None:
            fields = sorted(df.schema.fields,
                            key=lambda f: f.name in partition_by)
            (path / EMPTY_SCHEMA).write_text(T.StructType(fields).json())

    def _read(self, name: str) -> DataFrame:
        if self.catalog:
            return self.spark.table(f"{self.catalog}.{name}")
        path = Path(self._path(name))
        schema = path / EMPTY_SCHEMA
        if schema.exists() and next(path.rglob("*.parquet"), None) is None:
            return (self.spark.read
                    .schema(T.StructType.fromJson(json.loads(schema.read_text())))
                    .parquet(str(path)))
        return self.spark.read.parquet(str(path))

    def _run_stage(self, stage: str, fp: str, build, name: str,
                   partition_by: list[str] | None = None,
                   resume: bool = True,
                   record_async: bool = False) -> DataFrame:
        """``record_async=True`` moves the lineage record's per-bucket
        count scan (a full extra pass over the just-written table) off
        the serial path onto a background thread, so the NEXT stage
        starts immediately — the data write is already committed, which
        is the only ordering the resume invariant needs (a crash before
        the deferred append just re-runs the stage idempotently on
        resume).  Appends are lock-serialized in LineageLog; the thread
        is joined in _join_records() before run() returns."""
        if resume and self.log.is_complete(stage, fp):
            return self._read(name)
        t0 = time.time()
        df = build()
        self._write(df, name, partition_by)
        out = self._read(name)
        wall = time.time() - t0
        if record_async:
            self._spawn_record(stage, lambda: self.log.record(
                stage, fp, out, wall))
        else:
            self.log.record(stage, fp, out, wall)
        return out

    def _spawn_record(self, stage: str, fn) -> None:
        """Run a deferred lineage record on a background thread, capturing
        any exception so _join_records can surface it (ADVICE r6: a
        silently-failed record leaves the stage's summary row missing —
        run() would report success while the next resume re-runs the
        stage and bench stage-wall attribution comes up short)."""
        import threading
        box: list[BaseException] = []

        def _run() -> None:
            try:
                fn()
            except BaseException as exc:
                box.append(exc)

        th = threading.Thread(target=_run, name=f"lineage-record-{stage}")
        th.start()
        self._record_threads.append((th, box))

    def _join_records(self) -> None:
        import warnings
        while self._record_threads:
            th, box = self._record_threads.pop()
            th.join()
            if box:
                warnings.warn(
                    f"deferred lineage record {th.name!r} failed: "
                    f"{box[0]!r} — the stage's summary row is missing, so "
                    "the next resume will re-run that stage (idempotent) "
                    "and its per-stage wall is absent from metrics()")

    def _run_link_stage(self, fp: str, stage2: DataFrame,
                        resume: bool = True) -> DataFrame:
        """Link stage runner: writes the linked table, then the residual
        side table, both from the persisted kernel output (``_link_plan``),
        so the Python kernel runs once; it is unpersisted once both writes
        are done.  The lineage row is recorded only after BOTH writes
        commit, preserving resume atomicity."""
        if resume and self.log.is_complete("link", fp):
            return self._read("linked")
        t0 = time.time()
        merged, residual, rows = self._link_plan(stage2)
        try:
            self._write(merged, "linked", partition_by=["pbucket"])
            self._write(residual, "links_residual", partition_by=["pbucket"])
        finally:
            rows.unpersist()
        out = self._read("linked")
        wall = time.time() - t0
        # deferred like the mention record (_run_stage record_async):
        # both writes are committed; the count scan overlaps materialize
        self._spawn_record("link", lambda: self.log.record(
            "link", fp, out, wall))
        return out

    def _link_plan(self, stage2: DataFrame
                   ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """The batch link plan: ``linking.link_stage`` over the mention
        stage table, which the kernel repartitions by url ONCE, the
        stage's only exchange of the wide rows, with the BM25 globals
        computed inline.  Returns
        the kernel's (merged, residual, rows), bucketed, with ``rows``
        persisted for the two writes.

        The kernel coalesces the url hash partitions without a shuffle, so
        every pbucket (== the HashPartitioning partition id, _bucketed)
        lies in one task and both stage writes need no further
        repartition.  Inline stats come from the un-repartitioned
        ``stage2``: their aggregations shuffle narrow projections of their
        own, and df is catalog-bounded (its keys are catalog entity
        names), so it broadcasts.  The chunked path (run_link_incremental)
        freezes them to parquet instead, where cross-session exactness
        requires it."""
        stats, df_ = bm25.bm25_global_stats(mention.mentions_view(stage2),
                                            mention.doc_lengths_view(stage2))
        merged, residual, rows = linking.link_stage(
            stage2, stats, df_, self.layer_map, self.n_buckets)
        return (self._bucketed(merged), self._bucketed(residual),
                rows.persist())

    def _fps(self) -> tuple[str, str, str, str, str]:
        """The stage fingerprint chain (fp0..fp4) for the current config."""
        fp0 = fingerprint(self._catalog_fp, LANG, "extract")
        if self.fuse_extract:
            fp1 = fingerprint(fp0, NER_MATCH_SCORE, "mention", "fused")
        else:
            fp1 = fingerprint(fp0, NER_MATCH_SCORE, "mention")
        # (True, SIM_THRESHOLD): semantic linking is always on; the pair
        # stays in the hash so existing base_dirs still resume
        fp2 = fingerprint(fp1, True, SIM_THRESHOLD, "link")
        # canonicalize depends on the catalog only; CANON_ALGO_VERSION
        # folds in the code changes the catalog fingerprint cannot see
        fp3 = fingerprint(self._catalog_fp, "canonicalize",
                          canonicalize.CANON_ALGO_VERSION)
        fp4 = fingerprint(fp2, fp3, "materialize")
        return fp0, fp1, fp2, fp3, fp4

    def _write_buckets(self, df: DataFrame, name: str,
                       partition_col: str = "pbucket") -> None:
        """Exactly-once per-partition write for incremental chunks: dynamic
        partition overwrite replaces exactly the chunk's partitions, so a
        retry after a kill between data-commit and lineage-append rewrites
        the same partitions instead of appending duplicates.  The table
        exists: the stage's first chunk wrote it (``_replace_table``)."""
        if self.catalog:
            # Iceberg's native dynamic overwrite
            df.writeTo(f"{self.catalog}.{name}").overwritePartitions()
            return
        self._chunk_writer(df, partition_col, "dynamic").parquet(
            self._path(name))

    def _replace_table(self, df: DataFrame, name: str,
                       partition_col: str) -> None:
        """The first chunk of a stage with no completed buckets replaces
        the whole table.  A chunk overwrite replaces only the partitions
        its output touches, so otherwise a bucket that comes out empty
        would keep the rows an earlier fingerprint (or a batch run) wrote."""
        if self.catalog:
            # identity(partition_col), NOT bucket(n, url): Iceberg's
            # bucket hash (murmur3_32, seed 0) is not Spark's
            # pmod(hash(url), n) (seed 42) that picks the chunk, so a
            # chunk's rows would touch most Iceberg buckets and
            # overwritePartitions would delete earlier chunks' rows.
            (df.writeTo(f"{self.catalog}.{name}").using("iceberg")
             .partitionedBy(F.col(partition_col)).createOrReplace())
            return
        self._chunk_writer(df, partition_col, "static").parquet(
            self._path(name))
        self._keep_schema_if_empty(df, name, [partition_col])

    def _chunk_writer(self, df: DataFrame, partition_col: str,
                      overwrite_mode: str):
        return (df.repartition(self.n_buckets, F.col(partition_col))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", overwrite_mode)
                .partitionBy(partition_col))

    # -- stages -----------------------------------------------------------
    def run(self, pages: DataFrame, resume: bool = True) -> DataFrame:
        # Batch stage-1/2 writes keep the pbucket COLUMN but skip the
        # bucketing repartition + partitionBy dirs: the mention UDF output
        # streams straight from the scan-aligned tasks into parquet — no
        # wide shuffle of sentence-bearing rows just to lay out dirs the
        # batch path never prunes on.  (The link stage establishes its own
        # url partitioning from the scan.)  The per-bucket layout matters
        # only for chunked-incremental resume, whose own writers
        # (run_mention_incremental/_write_buckets) still produce it; reads
        # work identically on either layout because pbucket is a column
        # filter there, with dir pruning as a bonus when dirs exist.
        #
        # Canon overlap: stage 4 is CATALOG-derived (canonical_map never
        # reads the corpus), yet ran serially between link and
        # materialize — several seconds of catalog-sized pointer-jumping
        # job latency in the timed span of every fresh run.  Build it on
        # a background thread under the CPU-bound mention/link stages
        # (the reference's thread-parallel driver, L7/E3): its tiny jobs
        # interleave with the mention UDF tasks at near-zero wall cost.
        # Lineage appends are lock-serialized (LineageLog._append), and the
        # canon stage writes only its own paths, so the overlap is
        # race-free.
        import threading

        canon_box: dict[str, object] = {}

        def _canon_bg() -> None:
            try:
                canon_box["df"] = self._canon_stage(resume)
            except BaseException as exc:
                canon_box["err"] = exc

        canon_th = threading.Thread(target=_canon_bg, name="canon-stage")
        canon_th.start()
        try:
            return self._run_body(pages, resume, canon_th, canon_box)
        finally:
            # join canon + deferred records on EVERY exit path (ADVICE
            # r6): a mention-stage failure must not leave the canon
            # thread racing a caller's spark.stop(), and a canon failure
            # that loses to another exception should still be visible.
            canon_th.join()
            self._join_records()
            if "err" in canon_box:
                import sys
                import warnings
                exc = sys.exc_info()[1]
                if exc is not None and exc is not canon_box["err"]:
                    warnings.warn(
                        "canon stage ALSO failed (suppressed in favor of "
                        f"the propagating error): {canon_box['err']!r}")

    def _run_body(self, pages: DataFrame, resume: bool,
                  canon_th, canon_box: dict) -> DataFrame:
        fp0, fp1, fp2, _fp3, fp4 = self._fps()
        if self.fuse_extract:
            stage2 = self._run_stage(
                "mention", fp1,
                lambda: self._bucketed(mention.detect_mentions(
                    pages.filter(F.col("lang") == LANG).select("url", "html"),
                    self.layer_map, from_html=True)),
                "mentions", resume=resume, record_async=True)
        else:
            docs = self._run_stage(
                "extract", fp0,
                lambda: self._bucketed(extract_docs(pages)),
                "docs", resume=resume)
            stage2 = self._run_stage(
                "mention", fp1,
                lambda: self._bucketed(
                    mention.detect_mentions(docs.drop("pbucket"), self.layer_map)),
                "mentions", resume=resume, record_async=True)

        try:
            linked = self._run_link_stage(fp2, stage2, resume=resume)
        finally:
            # join before materialize (and on a link failure, before the
            # exception propagates); a mention-stage failure lets the
            # canon thread finish on its own — it writes only its own
            # stage paths, idempotently, and is joined at interpreter
            # shutdown (non-daemon)
            canon_th.join()
        residual = self._read("links_residual")

        if "err" in canon_box:
            raise canon_box["err"]  # noqa: B904 — original stage error
        canon = canon_box["df"]

        triples = self._run_stage(
            "materialize", fp4,
            lambda: materialize.materialize_triples(
                materialize.evidence_rows(linked, residual, canon),
                partitions=self.n_buckets),
            "triples", partition_by=["pred"], resume=resume)
        self._join_records()
        return triples

    def triples(self) -> DataFrame:
        return self._read("triples")

    # -- per-partition incremental execution --------------------------------
    def _run_chunks(self, stage: str, fp: str, n_chunks: int,
                    max_chunks: int | None, build, result: str,
                    partition_col: str = "pbucket", finish=None) -> bool:
        """The chunk loop of the ``run_*_incremental`` stages.  For each
        chunk of pending pbuckets, ``build(chunk)`` returns ``{table: df}``
        and each table is written with ``_write_buckets`` (the first chunk
        of a stage with no completed buckets: ``_replace_table``).  The chunk's
        per-bucket lineage is appended only after its writes commit, so a kill in between re-runs the chunk on resume, which
        rewrites the same partitions.  Row counts come from the first
        table.  After the last chunk, ``finish()`` (if given) runs and the
        stage summary row records the ``result`` table's row count.
        ``max_chunks`` processes at most that many chunks (test hook to
        simulate interruption).  Returns True when the stage is done."""
        done = self.log.completed_buckets(stage, fp)
        pending = [b for b in range(self.n_buckets) if b not in done]
        size = max(1, (self.n_buckets + n_chunks - 1) // n_chunks)
        chunks = [pending[i:i + size] for i in range(0, len(pending), size)]
        for i, chunk in enumerate(chunks):
            if max_chunks is not None and i >= max_chunks:
                return False
            t0 = time.time()
            tables = build(chunk)
            write = (self._replace_table if i == 0 and not done
                     else self._write_buckets)
            for name, df in tables.items():
                write(df, name, partition_col)
            written = self._read(next(iter(tables)))
            if partition_col == "pbucket":
                counts = dict.fromkeys(chunk, 0)
                counts.update(
                    (r["pbucket"], r["n"]) for r in
                    written.filter(F.col("pbucket").isin(chunk))
                    .groupBy("pbucket").agg(F.count("*").alias("n"))
                    .collect())
            else:
                counts = dict.fromkeys(chunk, written.filter(
                    F.col(partition_col) == min(chunk)).count())
            self.log.record_buckets(stage, fp, counts, time.time() - t0)
        if finish is not None:
            finish()
        self.log.record_summary(stage, fp, self._read(result).count(), 0.0)
        return True

    def run_mention_incremental(self, pages: DataFrame,
                                n_chunks: int = 4,
                                max_chunks: int | None = None) -> bool:
        """Execute the (fused) mention stage in bucket-group chunks with a
        per-bucket lineage checkpoint after each chunk — the north-star
        resume mechanism: kill the job between chunks and a re-run
        processes only the buckets without a lineage row (_run_chunks).
        Returns True when the stage is complete (summary lineage row
        written)."""
        fp1 = fingerprint(self._fps()[0], NER_MATCH_SCORE, "mention", "fused")
        if self.log.is_complete("mention", fp1):
            return True
        filtered = self._bucketed(pages.filter(F.col("lang") == LANG))

        def build(chunk):
            part = filtered.filter(F.col("pbucket").isin(chunk))
            return {"mentions": self._bucketed(mention.detect_mentions(
                part.select("url", "html"), self.layer_map,
                from_html=True))}

        return self._run_chunks("mention", fp1, n_chunks, max_chunks, build,
                                "mentions")

    def run_link_incremental(self, n_chunks: int = 4,
                             max_chunks: int | None = None) -> bool:
        """Bucket-chunked link stage with per-bucket lineage resume: one
        ``linking.link_stage`` call per chunk, over the chunk's rows.  The
        kernel needs corpus-GLOBAL BM25 statistics, so they are
        materialized ONCE from the complete mention table
        (link_aux_stats/link_aux_df, guarded by a lineage row) and every
        chunk scores against the frozen tables; everything else in the
        stage is url-local, so chunking by url-bucket is exact.  Each
        chunk's kernel output is persisted for its two writes and
        unpersisted before the next chunk."""
        _fp0, _fp1, fp2, _fp3, _fp4 = self._fps()
        if self.log.is_complete("link", fp2):
            return True
        stage2 = self._read("mentions")

        aux_fp = fingerprint(fp2, "link_aux")
        if not self.log.is_complete("link_aux", aux_fp):
            stats, df_ = bm25.bm25_global_stats(
                mention.mentions_view(stage2),
                mention.doc_lengths_view(stage2))
            self._write(stats, "link_aux_stats")
            self._write(df_, "link_aux_df")
            self.log.record_summary("link_aux", aux_fp, 1, 0.0)
        stats = self._read("link_aux_stats")
        df_ = self._read("link_aux_df")
        cached: list[DataFrame] = []

        def build(chunk):
            while cached:  # the previous chunk's writes have committed
                cached.pop().unpersist()
            merged, residual, rows = linking.link_stage(
                stage2.filter(F.col("pbucket").isin(chunk)), stats, df_,
                self.layer_map, self.n_buckets)
            cached.append(rows.persist())
            return {"linked": self._bucketed(merged),
                    "links_residual": self._bucketed(residual)}

        try:
            return self._run_chunks("link", fp2, n_chunks, max_chunks, build,
                                    "linked")
        finally:
            for rows in cached:
                rows.unpersist()

    def run_materialize_incremental(self, n_chunks: int = 4,
                                    max_chunks: int | None = None) -> bool:
        """Bucket-chunked materialize with merge-on-append: each chunk
        writes an exact PARTIAL triple aggregate (k-smallest sources,
        distinct-source count, best justification, max score — all
        mergeable because chunks partition the corpus by url), and the
        final merge reduces the partials into the triples table.  Identical
        output to single-shot materialize_triples (tested)."""
        _fp0, _fp1, _fp2, _fp3, fp4 = self._fps()
        if self.log.is_complete("materialize", fp4):
            return True
        linked = self._read("linked")
        residual = self._read("links_residual")
        canon = self._canon_stage(resume=True)

        def build(chunk):
            ev = materialize.evidence_rows(
                linked.filter(F.col("pbucket").isin(chunk)),
                residual.filter(F.col("pbucket").isin(chunk)),
                canon)
            part = (materialize.partial_triples(ev, partitions=self.n_buckets)
                    .withColumn("chunk_key", F.lit(min(chunk))))
            return {"triples_partial": part}

        def merge() -> None:
            self._write(materialize.merge_partial_triples(
                self._read("triples_partial").drop("chunk_key")),
                "triples", partition_by=["pred"])

        return self._run_chunks("materialize", fp4, n_chunks, max_chunks,
                                build, "triples", partition_col="chunk_key",
                                finish=merge)
