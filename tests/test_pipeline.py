"""End-to-end 5-stage pipeline: structural checks, determinism, lineage,
and idempotent resume (SURVEY.md §5 resume/idempotency tests)."""

import pytest
from pyspark.sql import functions as F

from apt_bron_re_spark.plans.pipeline import Pipeline
from apt_bron_re_spark.sources.pages import pages_df

N_PAGES = 40


@pytest.fixture(scope="module")
def base_dir(tmp_path_factory):
    return tmp_path_factory.mktemp("stages")


@pytest.fixture(scope="module")
def pipeline(spark, layer_map, base_dir):
    return Pipeline(spark, layer_map, base_dir, n_buckets=8)


@pytest.fixture(scope="module")
def triples(spark, pipeline):
    pages = pages_df(spark, N_PAGES)
    return pipeline.run(pages).cache()


def test_triples_shape(triples):
    assert triples.count() > 0
    assert set(triples.columns) == {
        "subj", "pred", "obj", "sources", "n_sources", "justification",
        "score"}
    preds = {r.pred for r in triples.select("pred").distinct().collect()}
    assert "uses" in preds and "exploits" in preds


def test_hub_entity_has_edges(triples):
    hub = triples.filter("subj = 'G0106'")
    assert hub.count() > 0
    # hub appears in ~30% of pages -> multi-source edges exist
    assert hub.filter(F.size("sources") >= 2).count() > 0


def test_canonical_ids_in_triples(triples):
    # G0104 merged into G0102 (shared alias) -> never appears as subject
    assert triples.filter("subj = 'G0104'").count() == 0


def test_lineage_recorded(spark, layer_map, pipeline, triples, base_dir,
                          tmp_path_factory):
    """Four stages are recorded: extraction runs inside the mention
    stage, which writes no text table, and asking for the removed
    separate extract stage raises."""
    import os

    lin = pipeline.log.metrics()
    stages = {r.stage for r in lin.select("stage").distinct().collect()}
    assert stages == {"mention", "link", "canonicalize", "materialize"}
    # batch stages record only the summary row
    assert lin.filter("stage = 'mention' AND bucket = -1").count() == 1
    assert lin.filter("bucket >= 0").count() == 0
    assert not os.path.exists(str(base_dir / "docs"))
    with pytest.raises(ValueError, match="extract stage"):
        Pipeline(spark, layer_map, tmp_path_factory.mktemp("unfused"),
                 n_buckets=8, fuse_extract=False)


def test_resume_skips_and_is_identical(spark, pipeline, triples, base_dir):
    lin_before = pipeline.log.metrics().count()
    pages = pages_df(spark, N_PAGES)
    again = pipeline.run(pages, resume=True)
    # resumed run appended no lineage rows (all stages skipped)
    assert pipeline.log.metrics().count() == lin_before

    t1 = {(r.subj, r.pred, r.obj, tuple(r.sources)) for r in triples.collect()}
    t2 = {(r.subj, r.pred, r.obj, tuple(r.sources)) for r in again.collect()}
    assert t1 == t2


def test_rerun_without_resume_is_deterministic(spark, layer_map, triples,
                                               tmp_path_factory):
    base2 = tmp_path_factory.mktemp("stages2")
    p2 = Pipeline(spark, layer_map, base2, n_buckets=8)
    t2 = p2.run(pages_df(spark, N_PAGES), resume=False)
    a = {(r.subj, r.pred, r.obj, tuple(r.sources), r.score)
         for r in triples.collect()}
    b = {(r.subj, r.pred, r.obj, tuple(r.sources), r.score)
         for r in t2.collect()}
    assert a == b


def test_batch_tables_are_flat(spark, pipeline, triples, base_dir):
    """``run`` writes its mention and link tables flat, with a
    ``pbucket`` column and no partition dirs; triples stay split by pred.
    The ``linked`` frame holds exactly one url exchange, the link
    kernel's, so its write adds no shuffle."""
    import io
    import re
    from contextlib import redirect_stdout

    from apt_bron_re_spark.plans.pipeline import _bm25_globals

    assert not list(base_dir.rglob("pbucket=*"))
    for name in ("mentions", "linked", "links_residual"):
        assert pipeline._read(name).columns[-1] == "pbucket", name
    assert list((base_dir / "triples").glob("pred=*"))

    stage2 = pipeline._read("mentions")
    with pipeline._link_tables(stage2, *_bm25_globals(stage2)) as (tables,
                                                                   _rows):
        with redirect_stdout(io.StringIO()) as plan:
            tables["linked"].explain("formatted")
    # the regex of scripts/explain_audit.py::one_url_exchange
    assert len(re.findall(
        r"hashpartitioning\(url#\d+, \d+\), REPARTITION_BY_NUM",
        plan.getvalue())) == 1


def test_layout_marker_fails_fast_on_mismatch(spark, layer_map,
                                              tmp_path_factory):
    """A base_dir written under a different bucket layout (or n_buckets)
    must fail fast at construction — silent resume would mis-bucket
    (round-4 advice: the crc32 -> murmur3 pbucket change)."""
    import json

    base = tmp_path_factory.mktemp("layout_base")
    Pipeline(spark, layer_map, base, n_buckets=8)
    # same layout + same n: fine
    Pipeline(spark, layer_map, base, n_buckets=8)
    with pytest.raises(RuntimeError, match="mis-bucket"):
        Pipeline(spark, layer_map, base, n_buckets=16)
    # simulate a pre-round-3 crc32 base_dir
    (base / "_layout.json").write_text(json.dumps(
        {"layout": "pbucket=crc32(url)%n_buckets", "n_buckets": 8}))
    with pytest.raises(RuntimeError, match="mis-bucket"):
        Pipeline(spark, layer_map, base, n_buckets=8)


def test_runs_release_their_cache(spark, layer_map, tmp_path_factory):
    """Everything a run persists (the link kernel's output, shared by
    the linked and residual writes) is unpersisted once its writes
    commit: repeated runs in one session must not pile up cached data."""
    def n_persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = n_persisted()
    pipe = Pipeline(spark, layer_map, tmp_path_factory.mktemp("no_leak"),
                    n_buckets=8)
    pages = pages_df(spark, N_PAGES)
    for _ in range(2):
        pipe.run(pages, resume=False)
    assert n_persisted() == before


def test_unmarked_base_dir_with_data_refused(spark, layer_map,
                                             tmp_path_factory):
    """A base_dir that already contains stage output but NO _layout.json
    (pre-marker-scheme data, unknown bucket layout) must be refused, not
    silently stamped with the current layout (round-5 advice)."""
    base = tmp_path_factory.mktemp("unmarked_base")
    (base / "mentions").mkdir()
    with pytest.raises(RuntimeError, match="_layout.json"):
        Pipeline(spark, layer_map, base, n_buckets=8)


def test_link_stage_runs_few_jobs(spark, layer_map, tmp_path_factory):
    """The link stage is one url exchange, the BM25 globals and one
    url-local kernel, persisted for its two writes: at most 12 Spark jobs
    (under AQE one per exchange and broadcast, plus the writes and the
    read-back)."""
    from apt_bron_re_spark.plans.pipeline import _bm25_globals

    pipe = Pipeline(spark, layer_map, tmp_path_factory.mktemp("link_jobs"),
                    n_buckets=8)
    pipe._write(pipe._mentions(pages_df(spark, N_PAGES)), "mentions")
    stage2 = pipe._read("mentions")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "link_stage_jobs"
    sc.setJobGroup(group, "job count of one link stage")
    try:
        # the stage exactly as Pipeline.run builds it
        with pipe._link_tables(stage2, *_bm25_globals(stage2)) as (tables,
                                                                   _rows):
            pipe._run_stage("link", pipe._fps()[2], lambda: tables,
                            resume=False)
        pipe._read("linked")
        started = set(tracker.getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert 0 < len(started) <= 12, sorted(started)


def test_materialize_runs_few_jobs(spark, layer_map, tmp_path_factory):
    """A fresh run's materialize stage folds the link kernel's cached rows
    in place, with no url exchange: under AQE one Spark job per exchange
    (the two phases of the salted aggregate and the write's pred
    repartition), the write and the read-back, at most 5 jobs.  The canon
    stage collects the canon map, and the lineage record starts none."""
    from apt_bron_re_spark.plans.pipeline import _bm25_globals

    pipe = Pipeline(spark, layer_map, tmp_path_factory.mktemp("mat_jobs"),
                    n_buckets=8)
    pipe.run(pages_df(spark, N_PAGES), resume=False)
    stage2 = pipe._read("mentions")
    canon_map = pipe._canon_stage()
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "materialize_stage_jobs"
    # the link stage as Pipeline.run runs it, which caches the kernel rows
    with pipe._link_tables(stage2, *_bm25_globals(stage2)) as (tables, rows):
        pipe._run_stage("link", pipe._fps()[2], lambda: tables,
                        resume=False)
        sc.setJobGroup(group, "job count of one materialize stage")
        try:
            pipe._materialize(rows, canon_map, clustered=True, resume=False)
            pipe._read("triples")
            started = set(tracker.getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    assert 0 < len(started) <= 5, sorted(started)


STAGE_TABLES = {"mention": "mentions", "link": "linked",
                "canonicalize": "canon", "materialize": "triples"}


def _summaries(pipe):
    return {r.stage: r.n_rows
            for r in pipe.log.metrics().filter("bucket = -1").collect()}


def test_lineage_counts_match_tables(spark, layer_map, pipeline, triples,
                                     tmp_path_factory):
    """Every lineage count is observed by the write that produced the
    table, and equals a recount of that table: batch summaries, chunked
    per-bucket rows (a bucket with no rows recorded as 0) and chunked
    summaries, materialize's included."""
    got = _summaries(pipeline)
    assert set(got) == set(STAGE_TABLES)
    for stage, table in STAGE_TABLES.items():
        assert got[stage] == pipeline._read(table).count(), stage

    # chunked, with bucket 0 left empty
    pages = pages_df(spark, N_PAGES).filter(
        F.pmod(F.hash("url"), F.lit(8)) != 0)
    pipe = Pipeline(spark, layer_map, tmp_path_factory.mktemp("cnt_chunks"),
                    n_buckets=8)
    assert pipe.run_mention_incremental(pages, n_chunks=2) is True
    assert pipe.run_link_incremental(n_chunks=2) is True
    assert pipe.run_materialize_incremental(n_chunks=2) is True
    lin = pipe.log.metrics()
    for stage in ("mention", "link"):
        want = dict.fromkeys(range(8), 0)
        want.update((r.pbucket, r["count"]) for r in
                    pipe._read(STAGE_TABLES[stage])
                    .groupBy("pbucket").count().collect())
        assert want[0] == 0
        rows = lin.filter((F.col("stage") == stage)
                          & (F.col("bucket") >= 0)).collect()
        assert sorted((r.bucket, r.n_rows) for r in rows) == \
            sorted(want.items()), stage
    got = _summaries(pipe)
    for stage in ("mention", "link", "materialize"):
        assert got[stage] == pipe._read(STAGE_TABLES[stage]).count(), stage
    assert got["materialize"] == pipe.triples().count() > 0


def test_observed_counts_of_an_empty_write(spark, tmp_path):
    """Under an exchange, AQE drops an empty stage together with the
    metrics observed in it; the counts are then zeros, not an error."""
    from apt_bron_re_spark.plans.pipeline import _observed

    df, counts = _observed(
        spark.createDataFrame([], "url string, pbucket int"), [0, 1])
    (df.repartition(8, "pbucket").write.partitionBy("pbucket")
     .parquet(str(tmp_path / "t")))
    assert counts() == {"n": 0, "0": 0, "1": 0}
    df, counts = _observed(spark.createDataFrame(
        [("a", 0), ("b", 0), ("c", 2)], "url string, pbucket int"), [0, 1])
    (df.repartition(8, "pbucket").write.partitionBy("pbucket")
     .parquet(str(tmp_path / "u")))
    assert counts() == {"n": 3, "0": 2, "1": 0}


def _triple_rows(df):
    return sorted(
        (r.subj, r.pred, r.obj, tuple(r.sources), r.n_sources,
         r.justification, r.score) for r in df.collect())


def test_null_html_page_is_one_error_row(spark, layer_map, tmp_path_factory):
    """A page whose html is null becomes one ``rec_type='error'`` row of
    the mention stage (the reference's per-document catch-and-log); the
    run completes with the triples of the corpus without it."""
    pages = pages_df(spark, 20)
    bad_url = "http://example.invalid/null-html"
    with_null = pages.unionByName(spark.createDataFrame(
        [(bad_url, None, None, None, "en")], pages.schema))
    want = Pipeline(spark, layer_map, tmp_path_factory.mktemp("null_want"),
                    n_buckets=8).run(pages, resume=False)
    pipe = Pipeline(spark, layer_map, tmp_path_factory.mktemp("null_html"),
                    n_buckets=8)
    got = pipe.run(with_null, resume=False)
    rows = pipe._read("mentions").filter(F.col("url") == bad_url).collect()
    assert [r.rec_type for r in rows] == ["error"]
    assert _triple_rows(got) == _triple_rows(want)


def test_canon_failure_propagates(spark, layer_map, tmp_path_factory,
                                  monkeypatch):
    """Canonicalize runs after the link stage has committed: a canon
    stage error propagates from ``run`` with the link row recorded and
    no materialize row."""
    from apt_bron_re_spark.operators import canonicalize

    def canon_fails(*args, **kwargs):
        raise RuntimeError("canon failed")

    monkeypatch.setattr(canonicalize, "canonical_map", canon_fails)
    pipe = Pipeline(spark, layer_map, tmp_path_factory.mktemp("canon_err"),
                    n_buckets=8)
    with pytest.raises(RuntimeError, match="canon failed"):
        pipe.run(pages_df(spark, 10), resume=False)
    lineage = pipe.log.metrics()
    assert lineage.filter(F.col("stage") == "link").count() == 1
    assert lineage.filter(F.col("stage") == "materialize").count() == 0


def test_canon_stage_runs_one_job(spark, layer_map, tmp_path_factory,
                                  monkeypatch):
    """A fresh canon stage writes the driver-resolved canonical map and
    collects that same local frame: one Spark job, the write, and no
    table read back.  Its map equals the table read back, which is what
    a resumed stage returns."""
    from apt_bron_re_spark.operators import canonicalize

    reads = []
    read = Pipeline._read

    def spy(self, name):
        reads.append(name)
        return read(self, name)

    monkeypatch.setattr(Pipeline, "_read", spy)
    pipe = Pipeline(spark, layer_map, tmp_path_factory.mktemp("canon_jobs"),
                    n_buckets=8)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "canon_stage_jobs"
    sc.setJobGroup(group, "job count of one canon stage")
    try:
        canon_map = pipe._canon_stage(resume=False)
        started = set(tracker.getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(started) == 1, sorted(started)
    assert reads == []
    assert canon_map
    assert pipe._canon_stage(resume=True) == canon_map
    assert reads == ["canon"]
    assert canon_map == canonicalize.collect_canon(pipe._read("canon"))


def test_run_chunks_rejects_fewer_than_one_chunk(spark, layer_map,
                                                 tmp_path_factory):
    """``n_chunks`` below 1 raises before the stage writes anything: no
    chunk, and for the link and materialize stages neither the frozen
    BM25 globals (``link_aux_*``) nor the canon stage they run first, and
    no lineage row."""
    pipe = Pipeline(spark, layer_map, tmp_path_factory.mktemp("no_chunks"),
                    n_buckets=8)
    pages = pages_df(spark, 10)
    for n_chunks in (0, -1):
        with pytest.raises(ValueError, match="n_chunks"):
            pipe.run_mention_incremental(pages, n_chunks=n_chunks)
    assert not (pipe.base / "mentions").exists()
    assert pipe.log.bucket_counts("mention", pipe._fps()[1]) == {}

    assert pipe.run_mention_incremental(pages, n_chunks=2) is True
    n_rows = pipe.log.metrics().count()
    for n_chunks in (0, -1):
        with pytest.raises(ValueError, match="n_chunks"):
            pipe.run_link_incremental(n_chunks=n_chunks)
    assert not list(pipe.base.glob("link_aux_*"))
    assert pipe.log.metrics().count() == n_rows

    assert pipe.run_link_incremental(n_chunks=2) is True
    n_rows = pipe.log.metrics().count()
    for n_chunks in (0, -1):
        with pytest.raises(ValueError, match="n_chunks"):
            pipe.run_materialize_incremental(n_chunks=n_chunks)
    assert not (pipe.base / "canon").exists()
    assert pipe.log.metrics().count() == n_rows


def test_failed_link_write_releases_cache(spark, layer_map, tmp_path_factory,
                                         monkeypatch):
    """A ``links_residual`` write that fails, batch or chunked, leaves no
    link kernel output cached and no link lineage row."""
    def n_persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    def failing(write):
        def wrapped(self, df, name, *args, **kwargs):
            if name == "links_residual":
                raise RuntimeError("residual write failed")
            return write(self, df, name, *args, **kwargs)
        return wrapped

    pages = pages_df(spark, 10)
    before = n_persisted()
    batch = Pipeline(spark, layer_map, tmp_path_factory.mktemp("link_err"),
                     n_buckets=8)
    chunked = Pipeline(spark, layer_map,
                       tmp_path_factory.mktemp("link_err_chunks"),
                       n_buckets=8)
    assert chunked.run_mention_incremental(pages, n_chunks=2) is True
    monkeypatch.setattr(Pipeline, "_write", failing(Pipeline._write))
    with pytest.raises(RuntimeError, match="residual write failed"):
        batch.run(pages, resume=False)
    with pytest.raises(RuntimeError, match="residual write failed"):
        chunked.run_link_incremental(n_chunks=2)
    assert n_persisted() == before
    for pipe in (batch, chunked):
        assert pipe.log.metrics().filter(
            F.col("stage") == "link").count() == 0


_write = Pipeline._write


def _triples_write_fails(self, df, name, *args, **kwargs):
    """``Pipeline._write`` that fails for the ``triples`` table."""
    if name == "triples":
        raise RuntimeError("triples write failed")
    return _write(self, df, name, *args, **kwargs)


def test_failed_materialize_releases_cache(spark, layer_map,
                                           tmp_path_factory, monkeypatch):
    """A run keeps the link kernel's rows cached until the triples write
    commits.  When that write fails, or the canon stage does, the run
    raises, leaves nothing cached and records no materialize row."""
    from apt_bron_re_spark.operators import canonicalize

    def n_persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    def canon_fails(*args, **kwargs):
        raise RuntimeError("canon failed")

    pages = pages_df(spark, 10)
    before = n_persisted()
    for patch, error in [((Pipeline, "_write", _triples_write_fails),
                          "triples write failed"),
                         ((canonicalize, "canonical_map", canon_fails),
                          "canon failed")]:
        pipe = Pipeline(spark, layer_map,
                        tmp_path_factory.mktemp("mat_err"), n_buckets=8)
        with monkeypatch.context() as m:
            m.setattr(*patch)
            with pytest.raises(RuntimeError, match=error):
                pipe.run(pages, resume=False)
        assert n_persisted() == before, error
        lineage = pipe.log.metrics()
        assert lineage.filter(F.col("stage") == "link").count() == 1, error
        assert lineage.filter(
            F.col("stage") == "materialize").count() == 0, error


def test_resume_after_failed_materialize_reads_links_back(
        spark, layer_map, tmp_path_factory, monkeypatch):
    """A run that fails at the triples write has completed the link
    stage.  Its resume skips link and pairs the read-back link tables
    under one url exchange; a fresh run folds the cached kernel rows.  Both
    give the same triples on all 7 fields."""
    from apt_bron_re_spark.operators import materialize

    plans = []
    link_pairs = materialize.link_pairs

    def spy(links, canon_map, partitions=None, clustered=False):
        plans.append(clustered)
        return link_pairs(links, canon_map, partitions, clustered)

    monkeypatch.setattr(materialize, "link_pairs", spy)
    pages = pages_df(spark, N_PAGES)
    want = Pipeline(spark, layer_map, tmp_path_factory.mktemp("fresh"),
                    n_buckets=8).run(pages, resume=False)
    assert plans == [True]

    pipe = Pipeline(spark, layer_map, tmp_path_factory.mktemp("resumed"),
                    n_buckets=8)
    with monkeypatch.context() as m:
        m.setattr(Pipeline, "_write", _triples_write_fails)
        with pytest.raises(RuntimeError, match="triples write failed"):
            pipe.run(pages, resume=False)
    link_rows = pipe.log.metrics().filter(F.col("stage") == "link").count()
    assert link_rows == 1
    plans.clear()
    got = pipe.run(pages, resume=True)
    assert plans == [False]
    assert pipe.log.metrics().filter(
        F.col("stage") == "link").count() == link_rows
    assert _triple_rows(got) == _triple_rows(want)


def test_chunked_materialize_after_batch_link(spark, layer_map, triples,
                                              tmp_path_factory, monkeypatch):
    """A run that fails in materialize leaves the flat batch link tables.
    The chunked materialize then selects each chunk's buckets by the
    ``pbucket`` column (no dirs to prune), is interrupted after one
    chunk and resumed, and gives the single-shot triples on all 7
    fields."""
    def materialize_fails(self, *args, **kwargs):
        raise RuntimeError("materialize failed")

    base = tmp_path_factory.mktemp("batch_link_chunked_mat")
    pipe = Pipeline(spark, layer_map, base, n_buckets=8)
    with monkeypatch.context() as m:
        m.setattr(Pipeline, "_materialize", materialize_fails)
        with pytest.raises(RuntimeError, match="materialize failed"):
            pipe.run(pages_df(spark, N_PAGES), resume=False)
    assert pipe.log.metrics().filter(F.col("stage") == "link").count() == 1
    assert not list(base.rglob("pbucket=*"))

    assert pipe.run_materialize_incremental(n_chunks=4, max_chunks=1) is False
    assert pipe.run_materialize_incremental(n_chunks=4) is True
    assert _triple_rows(pipe.triples()) == _triple_rows(triples)


def test_chunk_writes_add_no_cluster_exchange(spark, layer_map,
                                              tmp_path_factory, monkeypatch):
    """A chunk table is written from its producer's own tasks.  The link
    chunks' ``linked`` and ``links_residual`` (clustered by the kernel's
    url exchange, whose partition id is pbucket) get no hash exchange on
    pbucket, and ``triples_partial`` (one constant chunk_key per chunk)
    none on chunk_key, which would put every row in one task.  The mention
    chunks keep their pbucket exchange and the triples their pred one."""
    import re

    from pyspark.sql import DataFrameWriter

    plans: dict[str, list[str]] = {}
    parquet = DataFrameWriter.parquet

    def capture(self, path, *args, **kwargs):
        plans.setdefault(path.rstrip("/").rsplit("/", 1)[-1], []).append(
            self._df._jdf.queryExecution().executedPlan().toString())
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", capture)
    pipe = Pipeline(spark, layer_map, tmp_path_factory.mktemp("chunk_writes"),
                    n_buckets=8)
    assert pipe.run_mention_incremental(pages_df(spark, N_PAGES), n_chunks=2)
    assert pipe.run_link_incremental(n_chunks=2)
    assert pipe.run_materialize_incremental(n_chunks=2)

    def hashed(name: str, col: str) -> list[bool]:
        return [bool(re.search(rf"hashpartitioning\({col}#", p))
                for p in plans[name]]

    assert hashed("mentions", "pbucket") == [True, True]
    assert hashed("linked", "pbucket") == [False, False]
    assert hashed("links_residual", "pbucket") == [False, False]
    assert hashed("triples_partial", "chunk_key") == [False, False]
    assert hashed("triples", "pred") == [True]


def _job_ids(spark, group: str, action) -> set:
    """The ids of the Spark jobs ``action()`` starts."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
        return set(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_resume_checks_start_no_job(spark, layer_map, pipeline, triples,
                                    tmp_path_factory):
    """The ledger is read on the driver and every stage table with the
    schema kept beside it.  A resumed run over a completed base_dir starts
    at most one Spark job (the canon collect), and a fresh run starts as
    many jobs with ``resume=True`` as with ``resume=False``."""
    pages = pages_df(spark, N_PAGES)
    done = _job_ids(spark, "resume_done",
                    lambda: pipeline.run(pages, resume=True))
    assert len(done) <= 1, sorted(done)
    fresh = {}
    for resume in (True, False):
        pipe = Pipeline(spark, layer_map,
                        tmp_path_factory.mktemp("fresh_jobs"), n_buckets=8)
        fresh[resume] = len(_job_ids(spark, f"fresh_{resume}",
                                     lambda: pipe.run(pages, resume=resume)))
    assert fresh[True] == fresh[False], fresh


def test_stage_tables_keep_their_schema(spark, layer_map, pipeline, triples,
                                        tmp_path_factory):
    """Every parquet stage table of a batch run and of a chunked run keeps
    its schema beside it, and ``_read`` gives the schema Spark infers from
    the table's files."""
    from apt_bron_re_spark.plans.pipeline import SCHEMA_FILE

    chunked = Pipeline(spark, layer_map,
                       tmp_path_factory.mktemp("chunk_schemas"), n_buckets=8)
    assert chunked.run_mention_incremental(pages_df(spark, 20), n_chunks=2)
    assert chunked.run_link_incremental(n_chunks=2)
    assert chunked.run_materialize_incremental(n_chunks=2)
    names = {}
    for pipe in (pipeline, chunked):
        names[pipe] = sorted(p.name for p in pipe.base.iterdir()
                             if not p.name.startswith("_"))
        for name in names[pipe]:
            path = pipe.base / name
            assert (path / SCHEMA_FILE).exists(), name
            assert pipe._read(name).schema == \
                spark.read.parquet(str(path)).schema, name
    assert len(names[pipeline]) + len(names[chunked]) == 13, names


def test_write_replaces_partitions_under_a_dynamic_session(
        spark, layer_map, tmp_path_factory):
    """A stage write replaces the whole table even when the session's
    default partition overwrite mode is dynamic: re-writing triples keeps
    no pred dir the new rows do not touch."""
    pipe = Pipeline(spark, layer_map, tmp_path_factory.mktemp("dyn_conf"),
                    n_buckets=8)
    conf = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "dynamic")
    try:
        for rows in ([("x", "a"), ("y", "b")], [("z", "a")]):
            pipe._write(spark.createDataFrame(rows, "subj string, pred string"),
                        "triples", ["pred"])
        got = sorted(tuple(r) for r in pipe._read("triples").collect())
    finally:
        spark.conf.set(conf, old)
    assert got == [("z", "a")]
    assert [p.name for p in (pipe.base / "triples").glob("pred=*")] == \
        ["pred=a"]


def test_base_dir_without_schema_files_resumes(spark, layer_map, pipeline,
                                               triples, tmp_path_factory):
    """A base_dir whose tables keep no schema file (written before tables
    kept one) is read with inferred schemas: its resume skips every stage
    and gives the same triples on all 7 fields."""
    import shutil

    from apt_bron_re_spark.plans.pipeline import SCHEMA_FILE

    base = tmp_path_factory.mktemp("no_schema_files") / "stages"
    shutil.copytree(pipeline.base, base)
    for kept in base.glob(f"*/{SCHEMA_FILE}"):
        kept.unlink()
    pipe = Pipeline(spark, layer_map, base, n_buckets=8)
    n_rows = pipe.log.metrics().count()
    got = pipe.run(pages_df(spark, N_PAGES), resume=True)
    assert pipe.log.metrics().count() == n_rows
    assert not list(base.glob(f"*/{SCHEMA_FILE}"))
    assert _triple_rows(got) == _triple_rows(triples)
