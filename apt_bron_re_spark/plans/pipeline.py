"""The 5-stage KG-construction pipeline over staged parquet tables.

    pages -> extract+mention -> link -> canonicalize -> materialize

Each stage writes an idempotent table under ``base_dir`` (parquet, or
Iceberg with ``catalog``) and appends a lineage summary row whose row
count the write itself observed (``_observed``: no scan recounts a
table).  ``run(resume=True)`` skips stages whose fingerprint already
completed — kill the job at any stage boundary and re-running continues
where it stopped.  The stages run in this order on the calling thread:
a run starts no thread.

Stage-table layout (versioned stage tables replace the reference's
in-place file rewrites — SURVEY.md §3).  One rule: batch tables are flat,
with a ``pbucket = pmod(murmur3(url), n_buckets)`` column (``_bucketed``);
triples are partitioned by pred (S10); only the chunk writes of the
``run_*_incremental`` stages lay out partition dirs, by their chunk key.
A batch table streams from its stage's own tasks into parquet, with no
shuffle or sort to lay out dirs no batch read prunes on; per-bucket dirs
serve only the chunked resume.  Reads select buckets by filtering the
``pbucket`` column, which works on either layout.
    mentions/        doc/mention/residue/error rows; extraction runs
                     inside the mention UDF, so no text table is written
    linked/          mention rows + bm25 + link annotations
    links_residual/  residual links (best-link keys with no mention row)
    canon/           (label, original_id, canon_id)
    triples/         subj, pred, obj, sources[], justification, score

Every stage table is written by one writer, ``_write``, which keeps a
parquet table's schema beside it (``_schema.json``): ``_read`` reads the
table back with that schema and starts no schema-inference job.  With the
ledger also read on the driver (``LineageLog``), a resumed run over a
completed base_dir starts one Spark job, the canon collect.

Every batch stage, the chunked link stage's frozen BM25 globals included,
is written by one runner, ``_run_stage``.  The link stage (L2-L5 links ->
L6 merge, then BM25) is ONE kernel, ``operators.linking.link_stage``: a
url-local ``mapInPandas`` pass over the mention stage table repartitioned
by url, folding each url with ``linking._link_urls``.
``_link_tables`` builds its two tables from the persisted kernel output
for ``run`` (the whole table, BM25 globals inline) and for
``run_link_incremental`` (one call per bucket chunk).  The kernel scores
against the global BM25 (stats, df) it is handed, so the chunked wrapper
freezes those once from the whole corpus; per-chunk stats would give
wrong idf.
Materialize is one pair kernel over link rows,
``operators.materialize.link_pairs`` (evidence against the canon map the
canon stage collects, then the per-url pairing), and only its plan
varies.  When ``run`` has just run the link stage, the kernel rows stay
cached until the triples write commits, and materialize folds them in
place: they are already clustered and sorted by url, so the stage reads
no table back, joins nothing and adds no url exchange.  When the link
stage was skipped (a resumed run), and per chunk in
``run_materialize_incremental``, it reads ``linked`` and
``links_residual`` back under one url exchange (``linking.url_local``).
(The streaming micro-batch step, ``streaming.kg_stream.kg_batch_step``,
runs the same mention, link and pair folds one after another inside ONE
url-local pass over the micro-batch's pages, under the same
``linking.url_local`` plan.)  The ``run_*_incremental`` stages share one
chunk loop (``_run_chunks``): exactly-once per-partition writes plus
per-bucket lineage, counted by each chunk's write.
"""

from __future__ import annotations

import json
import time
from contextlib import ExitStack, contextmanager, nullcontext
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import LANG, NER_MATCH_SCORE, SIM_THRESHOLD
from ..operators import bm25, canonicalize, linking, materialize, mention
from .lineage import LineageLog, fingerprint

# Bucket-layout identity of a base_dir.  pbucket was crc32(url) % n in
# round 2 and pmod(murmur3(url), n) since round 3 — a silent layout change
# would make per-bucket incremental resume re-process urls whose OLD
# bucket completed and skip urls that moved into completed buckets
# (duplicated/missing rows).  A marker file pins the layout at first
# write; a mismatched resume fails fast instead of mis-bucketing.
LAYOUT_ID = "pbucket=pmod(murmur3_hash(url),n_buckets)"

# The schema a parquet stage table was written with, kept beside it by
# ``Pipeline._write`` (partition columns last, as a read orders them) so
# ``Pipeline._read`` infers nothing; readers skip '_' files.
SCHEMA_FILE = "_schema.json"


def _observed(df: DataFrame, buckets=()):
    """-> (``df`` observed, ``counts``): once a write has run the observed
    plan, ``counts()`` is its row count ``n`` plus one count per pbucket
    in ``buckets`` (keyed ``str(b)``), so no second scan counts the table.
    AQE drops a stage it finds empty together with the metrics observed
    in it, so under an exchange (a producer's repartition, an Iceberg
    write distribution) an empty observation means zero rows."""
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("n"), *[
        F.count_if(F.col("pbucket") == b).alias(str(b)) for b in buckets])

    def counts() -> dict[str, int]:
        # Observation.get cannot convert the empty row: test it first
        if obs._jo.getRow().length():
            return obs.get
        return dict.fromkeys(["n", *map(str, buckets)], 0)

    return df, counts


def _check_chunks(n_chunks: int) -> None:
    """A ``run_*_incremental`` stage needs at least one chunk; checked
    before the stage writes any table or lineage row."""
    if n_chunks < 1:
        raise ValueError(f"n_chunks must be at least 1, got {n_chunks}")


def _bm25_globals(stage_rows: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The corpus-global BM25 (stats, df) of a mention stage table."""
    return bm25.bm25_global_stats(mention.mentions_view(stage_rows),
                                  mention.doc_lengths_view(stage_rows))


class Pipeline:
    def __init__(self, spark: SparkSession,
                 layer_map: dict[str, list[dict]],
                 base_dir: str | Path,
                 n_buckets: int = 32,
                 fuse_extract: bool = True,
                 catalog: str | None = None) -> None:
        """Extraction (E1) always runs inside the mention UDF: the batch
        plan has no extract stage and writes no text table.
        ``fuse_extract`` stays only because ``bench.py`` and
        ``perfbench/workloads.py`` pass ``fuse_extract=True``; ``False``
        asked for the removed extract stage and raises ``ValueError``.

        ``catalog``: the Iceberg one-line swap (S7/S8 proper).  When set
        (e.g. ``"ice.db"``), every stage table becomes the Iceberg table
        ``<catalog>.<name>``, laid out as its parquet twin: batch tables
        unpartitioned, triples partitioned by pred, and tables written by
        incremental chunks partitioned by identity of the chunk key.  A
        stage's first chunk replaces the table, and each later chunk uses
        ``overwritePartitions()`` (Iceberg's native dynamic overwrite,
        same exactly-once semantics as the parquet path).
        Requires an
        Iceberg runtime on the session (tests/test_iceberg_optional.py
        runs the full pipeline this way when ``SPARK_ICEBERG_JAR`` is
        set; the sandbox has no jars, so it skips explicitly)."""
        if not fuse_extract:
            raise ValueError(
                "fuse_extract=False: there is no separate extract stage; "
                "extraction runs inside the mention stage")
        self.spark = spark
        self.layer_map = layer_map
        self.base = Path(base_dir)
        self.n_buckets = n_buckets
        self.catalog = catalog
        self.log = LineageLog(spark, base_dir)
        self._catalog_fp = fingerprint(layer_map)
        if not catalog:
            self._check_layout()

    def _check_layout(self) -> None:
        """Pin the base_dir's bucket layout (LAYOUT_ID + n_buckets): a
        resume against a base_dir written under a different layout fails
        fast instead of silently mixing bucket assignments.  Iceberg-mode
        skips this: its tables live in the catalog, not under base_dir."""
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

    def _canon_stage(self, resume: bool = True) -> dict:
        """Stage 4: the catalog-derived canonical map, collected to the
        driver (``canonicalize.collect_canon``).  A fresh stage writes the
        ``canonical_map`` frame and collects that same frame: every real
        catalog resolves on the driver into a local relation, which
        collects with no Spark job.  A completed stage, and the frame of
        the distributed CC (which a second action would re-run), are read
        back from the table."""
        fp = self._fps()[3]
        if resume and self.log.is_complete("canonicalize", fp):
            return canonicalize.collect_canon(self._read("canon"))
        canon = canonicalize.canonical_map(self.spark, self.layer_map)
        self._run_stage("canonicalize", fp, lambda: {"canon": canon},
                        resume=False)
        return canonicalize.collect_canon(
            canon if canon.isLocal() else self._read("canon"))

    # -- helpers ----------------------------------------------------------
    def _path(self, name: str) -> str:
        return str(self.base / name)

    def _bucketed(self, df: DataFrame) -> DataFrame:
        # "pbucket" (partition bucket) — distinct from the NER residue
        # "bucket" column of the mention stage table.  Defined as
        # pmod(murmur3(url), n) — EXACTLY Spark's HashPartitioning(url, n)
        # partition-id expression (same hash, same seed 42).  Batch tables
        # keep it as a column with no partition dirs; the chunked stages
        # pick their chunks by it, and the chunked mention and link
        # tables lay out one dir per value.
        return df.withColumn(
            "pbucket", F.pmod(F.hash(F.col("url")), F.lit(self.n_buckets)).cast("int"))

    def _by_pred(self, triples: DataFrame) -> DataFrame:
        """Triples hashed by pred into ``n_buckets`` write tasks, for the
        pred-partitioned triples writes.  A rebalance hint was tried
        instead and AQE's 64MB advisory re-serialized the triples encode
        into 1 task on most runs (materialize stage 31 s <-> 132 s across
        identical reps); hashing the ~11 preds into n_buckets partitions
        gives ~8-10 stable write tasks (measured: materialize 66.8 -> 36.2
        s at 256k pages, local[4]).  Writing from the triple aggregate's
        own partitioning instead was measured at 10,000 pages (local[4],
        8 shuffle partitions, n_buckets=32): AQE coalesced the write to 4
        tasks, each spraying every pred (4 files per pred dir), against 9
        writing tasks (one file per pred dir) here; the stage was 2.33 s
        vs 2.66 s (median of 3), but the write lost task parallelism, so
        this stays."""
        return triples.repartition(self.n_buckets, F.col("pred"))

    def _write(self, df: DataFrame, name: str,
               partition_by: list[str] | None = None,
               dynamic: bool = False) -> None:
        """Write a stage table as it is given: flat, or split into dirs
        by ``partition_by`` (triples by pred, chunk tables by their chunk
        key).  A producer whose rows are not already clustered by the
        partition columns clusters them itself (``_by_pred``, the mention
        chunks), so a write adds no exchange.  The write replaces the
        whole table, or with ``dynamic`` only the partitions ``df``
        touches: a chunk after a stage's first replaces its own
        partitions, and a retry after a kill between its data commit and
        its lineage row rewrites the same partitions instead of appending
        duplicates.  The overwrite mode is set on every write, so a
        session default cannot keep stale partitions."""
        if self.catalog:
            w = df.writeTo(f"{self.catalog}.{name}")
            if dynamic:
                # Iceberg's native dynamic overwrite
                w.overwritePartitions()
                return
            w = w.using("iceberg")
            if partition_by:
                # identity(partition_by), NOT bucket(n, url): Iceberg's
                # bucket hash (murmur3_32, seed 0) is not Spark's
                # pmod(hash(url), n) (seed 42) that picks a chunk, so a
                # chunk's rows would touch most Iceberg buckets and
                # overwritePartitions would delete earlier chunks' rows.
                w = w.partitionedBy(*map(F.col, partition_by))
            w.createOrReplace()
            return
        partition_by = partition_by or []
        path = Path(self._path(name))
        (df.write.option("partitionOverwriteMode",
                         "dynamic" if dynamic else "static")
         .parquet(str(path), mode="overwrite",
                  partitionBy=partition_by or None))
        schema = df.schema.toNullable()  # as parquet stores it
        fields = ([f for f in schema if f.name not in partition_by]
                  + [schema[c] for c in partition_by])
        (path / SCHEMA_FILE).write_text(T.StructType(fields).json())

    def _read(self, name: str) -> DataFrame:
        """A stage table, read with the schema ``_write`` kept beside it.
        A parquet table with no such file (written before tables kept
        one) is read with an inferred schema."""
        if self.catalog:
            return self.spark.table(f"{self.catalog}.{name}")
        path = Path(self._path(name))
        reader = self.spark.read
        if (path / SCHEMA_FILE).exists():
            reader = reader.schema(T.StructType.fromJson(
                json.loads((path / SCHEMA_FILE).read_text())))
        return reader.parquet(str(path))

    def _run_stage(self, stage: str, fp: str, tables,
                   partition_by: list[str] | None = None,
                   resume: bool = True) -> None:
        """Build and write one batch stage unless its fingerprint already
        completed.  ``tables()`` returns the stage's ``{table: df}``; each
        table is written in order, and only after every write has
        committed is the summary lineage row (the first table's count,
        observed by its write: ``_observed``) appended, so a kill in
        between re-runs the whole stage.  Callers ``_read`` the tables
        they need."""
        if resume and self.log.is_complete(stage, fp):
            return
        t0 = time.time()
        out = tables()
        first = next(iter(out))
        out[first], counts = _observed(out[first])
        for name, df in out.items():
            self._write(df, name, partition_by)
        self.log.record(stage, fp, counts()["n"], time.time() - t0)

    def _join_records(self) -> None:
        """No-op: lineage records are synchronous and start no thread.
        Kept only because ``perfbench/spans.py`` wraps this name."""

    @contextmanager
    def _link_tables(self, stage_rows: DataFrame, stats: DataFrame,
                     df_: DataFrame):
        """-> (tables, rows): the link stage's ``{linked,
        links_residual}``, flat with a ``pbucket`` column (``_bucketed``),
        and the kernel output ``rows`` both read:
        ``linking.link_stage`` over mention stage rows, scored against the
        BM25 globals ``(stats, df_)``.  ``rows`` is persisted while the
        context is open (the Python kernel runs once) and unpersisted when
        it exits, a failed write included.  ``run`` keeps the context open
        until the triples write has committed, so materialize folds the
        cached rows; a ``run_link_incremental`` chunk exits it once its
        two writes commit.  ``run`` writes the tables flat, adding no
        exchange to the kernel's; only the chunk writers lay out pbucket
        dirs.  ``run`` passes globals computed inline from the
        un-repartitioned mention table (narrow aggregations; df is
        catalog-bounded, so it broadcasts);
        ``run_link_incremental`` passes frozen parquet copies, which
        cross-session exactness requires."""
        merged, residual, rows = linking.link_stage(
            stage_rows, stats, df_, self.layer_map, self.n_buckets)
        rows.persist()
        try:
            yield ({"linked": self._bucketed(merged),
                    "links_residual": self._bucketed(residual)}, rows)
        finally:
            rows.unpersist()

    def _materialize(self, links: DataFrame, canon_map: dict,
                     clustered: bool, resume: bool = True) -> None:
        """Stage 5: the triples of link rows (``materialize.link_pairs``:
        ``clustered`` for the link kernel's cached rows, else one url
        exchange), written partitioned by pred."""
        self._run_stage(
            "materialize", self._fps()[4],
            lambda: {"triples": self._by_pred(materialize.triples_of_pairs(
                materialize.link_pairs(links, canon_map, self.n_buckets,
                                       clustered)))},
            partition_by=["pred"], resume=resume)

    def _mentions(self, pages: DataFrame) -> DataFrame:
        """Stages 1-2: the ``LANG`` pages of ``pages`` -> the bucketed
        mention stage rows, with E1 run inside the mention UDF.  The
        language filter sits before the UDF, so Catalyst pushes it into
        the scan and other pages never reach Python (S4)."""
        return self._bucketed(mention.detect_mentions(
            pages.filter(F.col("lang") == LANG).select("url", "html"),
            self.layer_map, from_html=True))

    def _fps(self) -> tuple[str, str, str, str, str]:
        """The stage fingerprint chain (fp0..fp4) for the current config.
        fp0 (the extraction config) is no stage of its own; it stays in
        the chain, and ``"fused"`` in fp1, so existing base_dirs resume."""
        fp0 = fingerprint(self._catalog_fp, LANG, "extract")
        fp1 = fingerprint(fp0, NER_MATCH_SCORE, "mention", "fused")
        # (True, SIM_THRESHOLD): semantic linking is always on; the pair
        # stays in the hash so existing base_dirs still resume
        fp2 = fingerprint(fp1, True, SIM_THRESHOLD, "link")
        # canonicalize depends on the catalog only; CANON_ALGO_VERSION
        # folds in the code changes the catalog fingerprint cannot see
        fp3 = fingerprint(self._catalog_fp, "canonicalize",
                          canonicalize.CANON_ALGO_VERSION)
        fp4 = fingerprint(fp2, fp3, "materialize")
        return fp0, fp1, fp2, fp3, fp4

    # -- stages -----------------------------------------------------------
    def run(self, pages: DataFrame, resume: bool = True) -> DataFrame:
        # The stages run in order on the calling thread.  Canonicalize
        # runs after the link stage has committed, while the link
        # kernel's rows are still cached, so materialize folds them.
        _fp0, fp1, fp2, _fp3, _fp4 = self._fps()
        self._run_stage(
            "mention", fp1,
            lambda: {"mentions": self._mentions(pages)},
            resume=resume)
        stage2 = self._read("mentions")

        with ExitStack() as cache:
            if resume and self.log.is_complete("link", fp2):
                # link completed in an earlier run: its tables are read
                # back and exchanged by url once
                links = materialize.links_of_tables(
                    self._read("linked"), self._read("links_residual"))
                clustered = False
            else:
                # the kernel rows stay cached until the triples write
                # commits: materialize folds them in place
                tables, links = cache.enter_context(self._link_tables(
                    stage2, *_bm25_globals(stage2)))
                self._run_stage("link", fp2, lambda: tables, resume=False)
                clustered = True
            self._materialize(links, self._canon_stage(resume), clustered,
                              resume)
        return self._read("triples")

    def triples(self) -> DataFrame:
        return self._read("triples")

    # -- per-partition incremental execution --------------------------------
    def _run_chunks(self, stage: str, fp: str, n_chunks: int,
                    max_chunks: int | None, build,
                    partition_col: str = "pbucket", finish=None) -> bool:
        """The chunk loop of the ``run_*_incremental`` stages.  For each
        chunk of pending pbuckets, ``build(chunk)`` is a context manager
        yielding ``{table: df}`` (the chunked link stage persists its
        kernel rows only while the chunk's tables are written), and
        each table is written partitioned by ``partition_col``.  The first
        chunk of a stage with no completed buckets replaces the whole
        table, so a bucket that comes out empty keeps no rows an earlier
        fingerprint (or a batch run) wrote; every later chunk replaces
        only its own partitions (``_write``'s ``dynamic``).  The
        first table's write counts the chunk's rows per bucket (the chunk's
        total for each bucket when not chunked by pbucket); those lineage
        rows are appended only after the chunk's writes commit, so a kill in
        between re-runs the chunk on resume, which rewrites the same
        partitions.  The summary row records the count ``finish()`` returns
        if given, else the sum of the stage's per-bucket rows.
        ``max_chunks`` processes at most that many chunks (test hook to
        simulate interruption).  Returns True when the stage is done.
        The public callers have checked ``n_chunks`` (``_check_chunks``)."""
        counts = self.log.bucket_counts(stage, fp)
        fresh = not counts
        pending = [b for b in range(self.n_buckets) if b not in counts]
        size = max(1, (self.n_buckets + n_chunks - 1) // n_chunks)
        chunks = [pending[i:i + size] for i in range(0, len(pending), size)]
        per_bucket = partition_col == "pbucket"
        for i, chunk in enumerate(chunks):
            if max_chunks is not None and i >= max_chunks:
                return False
            t0 = time.time()
            with build(chunk) as tables:
                first = next(iter(tables))
                tables[first], observed = _observed(
                    tables[first], chunk if per_bucket else ())
                for name, df in tables.items():
                    self._write(df, name, [partition_col],
                                dynamic=i > 0 or not fresh)
            n = observed()
            chunk_counts = ({b: n[str(b)] for b in chunk} if per_bucket
                            else dict.fromkeys(chunk, n["n"]))
            self.log.record_buckets(stage, fp, chunk_counts, time.time() - t0)
            counts.update(chunk_counts)
        n_rows = finish() if finish is not None else sum(counts.values())
        self.log.record(stage, fp, n_rows, 0.0)
        return True

    def run_mention_incremental(self, pages: DataFrame,
                                n_chunks: int = 4,
                                max_chunks: int | None = None) -> bool:
        """Execute the mention stage in bucket-group chunks with a
        per-bucket lineage checkpoint after each chunk — the north-star
        resume mechanism: kill the job between chunks and a re-run
        processes only the buckets without a lineage row (_run_chunks).
        Returns True when the stage is complete (summary lineage row
        written)."""
        _check_chunks(n_chunks)
        fp1 = self._fps()[1]
        if self.log.is_complete("mention", fp1):
            return True
        bucketed = self._bucketed(pages)

        def build(chunk):
            # pbucket-clustered, so each write task fills few bucket dirs
            return nullcontext({"mentions": self._mentions(
                bucketed.filter(F.col("pbucket").isin(chunk)))
                .repartition(self.n_buckets, F.col("pbucket"))})

        return self._run_chunks("mention", fp1, n_chunks, max_chunks, build)

    def run_link_incremental(self, n_chunks: int = 4,
                             max_chunks: int | None = None) -> bool:
        """Bucket-chunked link stage with per-bucket lineage resume: one
        ``linking.link_stage`` call per chunk, over the chunk's rows.  The
        kernel needs corpus-GLOBAL BM25 statistics, so they are
        materialized ONCE from the complete mention table
        (link_aux_stats/link_aux_df, guarded by a lineage row) and every
        chunk scores against the frozen tables; everything else in the
        stage is url-local, so chunking by url-bucket is exact.  Each
        chunk's tables come from ``_link_tables``, as in ``run``."""
        _check_chunks(n_chunks)
        _fp0, _fp1, fp2, _fp3, _fp4 = self._fps()
        if self.log.is_complete("link", fp2):
            return True
        stage2 = self._read("mentions")

        def frozen():
            stats, df_ = _bm25_globals(stage2)
            return {"link_aux_stats": stats, "link_aux_df": df_}

        self._run_stage("link_aux", fingerprint(fp2, "link_aux"), frozen)
        stats = self._read("link_aux_stats")
        df_ = self._read("link_aux_df")

        @contextmanager
        def build(chunk):
            chunk_rows = stage2.filter(F.col("pbucket").isin(chunk))
            with self._link_tables(chunk_rows, stats, df_) as (tables, _):
                yield tables

        return self._run_chunks("link", fp2, n_chunks, max_chunks, build)

    def run_materialize_incremental(self, n_chunks: int = 4,
                                    max_chunks: int | None = None) -> bool:
        """Bucket-chunked materialize with merge-on-append: each chunk
        pairs its read-back link rows (``materialize.link_pairs``, one url
        exchange) and writes an exact PARTIAL triple aggregate (k-smallest
        sources, distinct-source count, best justification, max score —
        all mergeable because chunks partition the corpus by url), and the
        final merge reduces the partials into the triples table.  Identical
        output to a single-shot ``run`` (tested)."""
        _check_chunks(n_chunks)
        _fp0, _fp1, _fp2, _fp3, fp4 = self._fps()
        if self.log.is_complete("materialize", fp4):
            return True
        linked = self._read("linked")
        residual = self._read("links_residual")
        canon_map = self._canon_stage(resume=True)

        def build(chunk):
            links = materialize.links_of_tables(
                linked.filter(F.col("pbucket").isin(chunk)),
                residual.filter(F.col("pbucket").isin(chunk)))
            part = (materialize.partial_triples_of_pairs(
                materialize.link_pairs(links, canon_map, self.n_buckets))
                    .withColumn("chunk_key", F.lit(min(chunk))))
            return nullcontext({"triples_partial": part})

        def merge() -> int:
            triples, counts = _observed(materialize.merge_partial_triples(
                self._read("triples_partial").drop("chunk_key")))
            self._write(self._by_pred(triples), "triples", ["pred"])
            return counts()["n"]

        return self._run_chunks("materialize", fp4, n_chunks, max_chunks,
                                build, partition_col="chunk_key",
                                finish=merge)
