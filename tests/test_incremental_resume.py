"""Per-partition (bucket-chunk) checkpoint/resume of the mention stage:
interrupt after one chunk, resume, and the final table must equal the
single-shot run (SURVEY.md §5 resume test; north-star per-partition
lineage)."""

import pytest

from apt_bron_re_spark.plans.pipeline import Pipeline
from apt_bron_re_spark.sources.pages import pages_df

N_PAGES = 40


def rows_of(df):
    return {(r.url, r.rec_type, r.category, r.original_id, r.value, r["index"])
            for r in df.collect()}


def test_interrupt_and_resume_equals_single_shot(spark, layer_map,
                                                 tmp_path_factory):
    pages = pages_df(spark, N_PAGES)

    # single-shot reference
    base_a = tmp_path_factory.mktemp("inc_a")
    pa = Pipeline(spark, layer_map, base_a, n_buckets=8)
    pa.run(pages)
    want = rows_of(spark.read.parquet(str(base_a / "mentions")))

    # incremental with interruption after 1 of 4 chunks
    base_b = tmp_path_factory.mktemp("inc_b")
    pb = Pipeline(spark, layer_map, base_b, n_buckets=8)
    finished = pb.run_mention_incremental(pages, n_chunks=4, max_chunks=1)
    assert finished is False

    partial = spark.read.parquet(str(base_b / "mentions"))
    assert 0 < partial.count() < len(want)
    done = set(pb.log.bucket_counts("mention", pb._fps()[1]))
    assert 0 < len(done) < 8

    # resume: completes only the missing buckets
    finished = pb.run_mention_incremental(pages, n_chunks=4)
    assert finished is True
    got = rows_of(spark.read.parquet(str(base_b / "mentions")))
    assert got == want

    # the stage is now complete: a further resume is a no-op
    lin_rows = pb.log.metrics().count()
    assert pb.run_mention_incremental(pages) is True
    assert pb.log.metrics().count() == lin_rows

    # and the full pipeline picks the stage up from the checkpoint
    triples_b = pb.run(pages, resume=True)
    pa_triples = pa.run(pages, resume=True)
    ta = {(r.subj, r.pred, r.obj) for r in pa_triples.collect()}
    tb = {(r.subj, r.pred, r.obj) for r in triples_b.collect()}
    assert ta == tb


def test_fingerprint_chain_is_pinned(spark, layer_map, tmp_path):
    """The stage fingerprints of the synthetic catalog are pinned: a
    change to any of them makes every existing base_dir re-run its stages
    instead of resuming.  They equal the chain of the earlier fused
    extract+mention plan, so base_dirs written by it still resume."""
    assert Pipeline(spark, layer_map, tmp_path)._fps() == (
        "09171dc6336fb136", "1f67a43e0c23fc5e", "aa47d54fa70dd936",
        "2a3c397b68740451", "2dd5b7ecc4d5ce07")


def test_link_and_materialize_interrupt_resume(spark, layer_map,
                                               tmp_path_factory):
    """Interrupt the link stage mid-chunk and the materialize stage
    mid-chunk; after resume, the triples table (including sources, scores
    and justifications) must equal the single-shot pipeline's output —
    chunked link scores against FROZEN global BM25 stats and chunked
    materialize merges exact partial aggregates."""
    pages = pages_df(spark, N_PAGES)

    base_a = tmp_path_factory.mktemp("lm_a")
    pa = Pipeline(spark, layer_map, base_a, n_buckets=8)
    want = {(r.subj, r.pred, r.obj):
            (tuple(sorted(r.sources)), r.n_sources, r.justification, r.score)
            for r in pa.run(pages).collect()}

    base_b = tmp_path_factory.mktemp("lm_b")
    pb = Pipeline(spark, layer_map, base_b, n_buckets=8)
    assert pb.run_mention_incremental(pages, n_chunks=2) is True

    # link: interrupt after 1 of 4 chunks, then resume
    assert pb.run_link_incremental(n_chunks=4, max_chunks=1) is False
    _fp0, _fp1, fp2, _fp3, fp4 = pb._fps()
    done = set(pb.log.bucket_counts("link", fp2))
    assert 0 < len(done) < 8
    assert pb.run_link_incremental(n_chunks=4) is True

    # materialize: interrupt after 1 of 4 chunks, then resume
    assert pb.run_materialize_incremental(n_chunks=4, max_chunks=1) is False
    assert pb.run_materialize_incremental(n_chunks=4) is True

    got = {(r.subj, r.pred, r.obj):
           (tuple(sorted(r.sources)), r.n_sources, r.justification, r.score)
           for r in pb.triples().collect()}
    assert got == want

    # the full pipeline recognizes every stage as complete (no rebuild)
    lin_rows = pb.log.metrics().count()
    pb.run(pages, resume=True)
    assert pb.log.metrics().count() == lin_rows


def _triples_of(df):
    return {(r.subj, r.pred, r.obj):
            (tuple(sorted(r.sources)), r.n_sources, r.justification, r.score)
            for r in df.collect()}


def test_mention_chunk_rerun_after_commit_is_exactly_once(spark, layer_map,
                                                          tmp_path_factory):
    """A kill after a chunk's data commit but BEFORE its lineage append
    makes the resume run that chunk again.  The rerun must replace the
    chunk's partitions, not append a second copy of its rows."""
    pages = pages_df(spark, 120)

    base_a = tmp_path_factory.mktemp("once_a")
    pa = Pipeline(spark, layer_map, base_a, n_buckets=8)
    want = _triples_of(pa.run(pages))
    want_rows = spark.read.parquet(str(base_a / "mentions"))

    base_b = tmp_path_factory.mktemp("once_b")
    pb = Pipeline(spark, layer_map, base_b, n_buckets=8)
    record = pb.log.record_buckets

    def killed(*args, **kwargs):
        raise RuntimeError("killed before the lineage append")

    pb.log.record_buckets = killed
    with pytest.raises(RuntimeError, match="killed"):
        pb.run_mention_incremental(pages, n_chunks=2)
    pb.log.record_buckets = record
    assert pb.run_mention_incremental(pages, n_chunks=2) is True

    got_rows = spark.read.parquet(str(base_b / "mentions"))
    assert got_rows.count() == want_rows.count()
    assert rows_of(got_rows) == rows_of(want_rows)
    assert _triples_of(pb.run(pages, resume=True)) == want


def _run_chunked(pipe, pages):
    assert pipe.run_mention_incremental(pages, n_chunks=2) is True
    assert pipe.run_link_incremental(n_chunks=2) is True
    assert pipe.run_materialize_incremental(n_chunks=2) is True


def _stage_rows(spark, base, name):
    return sorted(repr(tuple(r))
                  for r in spark.read.parquet(str(base / name)).collect())


def test_chunked_rerun_under_new_fingerprint_keeps_no_stale_rows(
        spark, layer_map, tmp_path_factory):
    """A chunk overwrite replaces only the partitions its output touches,
    so a bucket that comes out empty under a new fingerprint must not
    keep the rows an earlier chunked (or batch) run wrote there."""
    pages = pages_df(spark, N_PAGES)
    lm_b = {k: v for k, v in layer_map.items()
            if k not in ("technique", "software", "capec", "cwe")}

    fresh = tmp_path_factory.mktemp("fp_fresh")
    _run_chunked(Pipeline(spark, lm_b, fresh, n_buckets=32), pages)
    want = {name: _stage_rows(spark, fresh, name)
            for name in ("links_residual", "linked", "triples")}

    for first in ("chunked", "batch"):
        base = tmp_path_factory.mktemp(f"fp_{first}")
        pa = Pipeline(spark, layer_map, base, n_buckets=32)
        if first == "chunked":
            _run_chunked(pa, pages)
        else:
            pa.run(pages)
        _run_chunked(Pipeline(spark, lm_b, base, n_buckets=32), pages)
        for name, rows in want.items():
            assert _stage_rows(spark, base, name) == rows, (first, name)


def test_empty_residual_table_reads_back(spark, layer_map, tmp_path_factory):
    """A catalog whose residues link to nothing writes a zero-row
    ``links_residual``; the partitioned write leaves no data file, and the
    batch and chunked runs must still read it back and finish."""
    from apt_bron_re_spark.operators import bm25, linking, materialize, mention
    from apt_bron_re_spark.operators.canonicalize import canonical_map

    pages = pages_df(spark, N_PAGES)
    lm = {"tactic": layer_map["tactic"]}

    stage2 = Pipeline(spark, lm, tmp_path_factory.mktemp("empty_stage2"),
                      n_buckets=8)._mentions(pages)
    stats, df_ = bm25.bm25_global_stats(mention.mentions_view(stage2),
                                        mention.doc_lengths_view(stage2))
    merged, residual, _links = linking.link_stage(stage2, stats, df_, lm, 8)
    assert residual.count() == 0
    want = _triples_of(materialize.materialize_triples(
        materialize.evidence_rows(merged, residual,
                                  canonical_map(spark, lm))))

    batch = Pipeline(spark, lm, tmp_path_factory.mktemp("empty_batch"),
                     n_buckets=8)
    assert _triples_of(batch.run(pages)) == want
    assert batch._read("links_residual").count() == 0

    base = tmp_path_factory.mktemp("empty_chunked")
    chunked = Pipeline(spark, lm, base, n_buckets=8)
    _run_chunked(chunked, pages)
    assert _triples_of(chunked.triples()) == want
    # a resume skips every stage and reads the empty tables back
    lin_rows = chunked.log.metrics().count()
    assert _triples_of(chunked.run(pages, resume=True)) == want
    assert chunked.log.metrics().count() == lin_rows
