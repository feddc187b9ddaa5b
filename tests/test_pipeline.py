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


def test_lineage_recorded(pipeline, triples):
    lin = pipeline.log.metrics()
    stages = {r.stage for r in lin.select("stage").distinct().collect()}
    assert stages == {"extract", "mention", "link", "canonicalize",
                      "materialize"}
    # batch stages record only the summary row
    ext = lin.filter("stage = 'extract'")
    assert ext.filter("bucket = -1").count() == 1
    assert lin.filter("bucket >= 0").count() == 0


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


def test_linked_write_is_shuffle_free_aligned(pipeline, triples, base_dir):
    """The linked stage writes WITHOUT a write-side repartition; that is
    only lossless because pbucket == pmod(murmur3(url), n) == the
    HashPartitioning partition id, making every task pbucket-pure.  If
    the alignment breaks, each of the 2*n_buckets tasks sprays files
    into many dirs — so <= 2 files per dir (one per union branch) IS the
    alignment proof."""
    import glob
    import os
    dirs = glob.glob(str(base_dir / "linked" / "pbucket=*"))
    assert dirs
    for d in dirs:
        n_files = len(glob.glob(os.path.join(d, "*.parquet")))
        assert 1 <= n_files <= 2, f"{d}: {n_files} files (misaligned write)"
    # batch mention stage keeps the pbucket COLUMN but skips the bucketing
    # shuffle entirely — no partition dirs
    assert not glob.glob(str(base_dir / "mentions" / "pbucket=*"))


def test_fused_extract_mode_identical(spark, layer_map, triples,
                                      tmp_path_factory):
    # fuse_extract runs E1 inside the mention UDF; triples must be
    # identical to the staged mode.
    base3 = tmp_path_factory.mktemp("stages_fused")
    p3 = Pipeline(spark, layer_map, base3, n_buckets=8, fuse_extract=True)
    t3 = p3.run(pages_df(spark, N_PAGES), resume=False)
    a = {(r.subj, r.pred, r.obj, tuple(r.sources), r.score)
         for r in triples.collect()}
    b = {(r.subj, r.pred, r.obj, tuple(r.sources), r.score)
         for r in t3.collect()}
    assert a == b
    # and the docs table was never written
    import os
    assert not os.path.exists(str(base3 / "docs"))


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
    from apt_bron_re_spark.operators import mention

    pipe = Pipeline(spark, layer_map, tmp_path_factory.mktemp("link_jobs"),
                    n_buckets=8, fuse_extract=True)
    pipe._write(pipe._bucketed(mention.detect_mentions(
        pages_df(spark, N_PAGES).select("url", "html"), layer_map,
        from_html=True)), "mentions")
    stage2 = pipe._read("mentions")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "link_stage_jobs"
    sc.setJobGroup(group, "job count of one link stage")
    try:
        pipe._run_link_stage(pipe._fps()[2], stage2, resume=False)
        started = set(tracker.getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert 0 < len(started) <= 12, sorted(started)


def test_materialize_runs_few_jobs(spark, layer_map, tmp_path_factory):
    """The materialize stage is the canon broadcast, one url exchange
    feeding the url-local pair kernel, the two exchanges of the salted
    aggregate and the pred-partitioned write, then the read-back: at most
    7 Spark jobs (under AQE one per exchange and broadcast, plus the write
    and the read-back; the lineage record starts none)."""
    from apt_bron_re_spark.operators import materialize

    pipe = Pipeline(spark, layer_map, tmp_path_factory.mktemp("mat_jobs"),
                    n_buckets=8, fuse_extract=True)
    pipe.run(pages_df(spark, N_PAGES), resume=False)
    linked, residual, canon = (pipe._read(name) for name in
                               ("linked", "links_residual", "canon"))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "materialize_stage_jobs"
    sc.setJobGroup(group, "job count of one materialize stage")
    try:
        # the stage exactly as Pipeline.run builds it
        pipe._run_stage(
            "materialize", pipe._fps()[4],
            lambda: materialize.materialize_triples(
                materialize.evidence_rows(linked, residual, canon),
                partitions=pipe.n_buckets),
            "triples", partition_by=["pred"], resume=False)
        started = set(tracker.getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert 0 < len(started) <= 7, sorted(started)


STAGE_TABLES = {"extract": "docs", "mention": "mentions", "link": "linked",
                "canonicalize": "canon", "materialize": "triples"}


def _summaries(pipe):
    return {r.stage: r.n_rows
            for r in pipe.log.metrics().filter("bucket = -1").collect()}


def test_lineage_counts_match_tables(spark, layer_map, pipeline, triples,
                                     tmp_path_factory):
    """Every lineage count is observed by the write that produced the
    table, and equals a recount of that table: batch summaries (fused and
    unfused), chunked per-bucket rows (a bucket with no rows recorded as
    0) and chunked summaries, materialize's included."""
    fused = Pipeline(spark, layer_map, tmp_path_factory.mktemp("cnt_fused"),
                     n_buckets=8, fuse_extract=True)
    fused.run(pages_df(spark, N_PAGES), resume=False)
    for pipe, stages in [(pipeline, set(STAGE_TABLES)),
                         (fused, set(STAGE_TABLES) - {"extract"})]:
        got = _summaries(pipe)
        assert set(got) == stages
        for stage in stages:
            assert got[stage] == pipe._read(STAGE_TABLES[stage]).count(), \
                stage

    # chunked, with bucket 0 left empty
    pages = pages_df(spark, N_PAGES).filter(
        F.pmod(F.hash("url"), F.lit(8)) != 0)
    pipe = Pipeline(spark, layer_map, tmp_path_factory.mktemp("cnt_chunks"),
                    n_buckets=8, fuse_extract=True)
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
