"""Streaming KG construction must equal the batch pipeline.

The foreachBatch micro-batch pipeline (stages 2-5 under the batch
url-clustered plan, merge-on-append partials) == the batch triples over
a multi-trigger stream of synthetic pages whose link pass changes the
triple set, EXACTLY.

Plus an exactly-once check: replaying a micro-batch with the same
batch_id leaves the merged result unchanged; parity on a stream whose
urls repeat within one trigger, also when a url's pages straddle Arrow
batches; parity with a null-html page, with a stream that writes no
partial and with one that runs no micro-batch; a merge through a URI
path; and the micro-batch step's job count.
"""

import pytest
from pyspark.sql import functions as F

from apt_bron_re_spark.operators import bm25, linking, materialize, mention
from apt_bron_re_spark.operators.canonicalize import (canonical_map,
                                                       collect_canon)
from apt_bron_re_spark.plans.pipeline import Pipeline
from apt_bron_re_spark.sources.pages import generate_page, pages_df
from apt_bron_re_spark.streaming.kg_stream import (
    kg_batch_step,
    merged_triples,
    run_kg_stream,
)
from apt_bron_re_spark.streaming.mention_stream import PAGE_DDL

N_PAGES = 40


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    """Pages written as 3 separate files so maxFilesPerTrigger=1 forces 3
    micro-batches (urls split across triggers)."""
    path = str(tmp_path_factory.mktemp("kg_pages"))
    pages_df(spark, N_PAGES).repartition(3).write.mode("overwrite").parquet(path)
    return path


@pytest.fixture(scope="module")
def batch_stage2(spark, layer_map, pages_path, tmp_path_factory):
    """The mention stage exactly as ``Pipeline.run`` writes it."""
    df = Pipeline(spark, layer_map, tmp_path_factory.mktemp("kg_stage2"),
                  n_buckets=8)._mentions(spark.read.parquet(pages_path))
    df.persist().count()
    return df


@pytest.fixture(scope="module")
def canon_df(spark, layer_map):
    # unpersisted at teardown: a cached copy of this plan would turn a
    # later module's canon collect into a cache scan (a Spark job)
    df = canonical_map(spark, layer_map)
    df.persist().count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def frozen_stats(batch_stage2):
    """BM25 globals frozen from the full corpus snapshot (the production
    rule: freeze once, score every increment against the frozen tables)."""
    stats, df_ = bm25.bm25_global_stats(
        mention.mentions_view(batch_stage2),
        mention.doc_lengths_view(batch_stage2))
    stats.persist().count()
    df_.persist().count()
    return stats, df_


@pytest.fixture(scope="module")
def batch_linked(layer_map, batch_stage2, frozen_stats):
    """Batch truth for the link stage: the DataFrame composition of its
    rules over the whole corpus (not the url-local kernel, which runs the
    same RowLinker as the streaming pass)."""
    m = mention.mentions_view(batch_stage2)
    return linking.merge_links(
        bm25.add_bm25_frozen(m, mention.doc_lengths_view(batch_stage2),
                             *frozen_stats),
        linking.build_links(mention.residue_view(batch_stage2), layer_map))


def _stream_pages(spark, path):
    return (spark.readStream.schema(PAGE_DDL).format("parquet")
            .option("maxFilesPerTrigger", 1).load(path))


def _canon_rows(df):
    return sorted(
        (r["subj"], r["pred"], r["obj"], tuple(r["sources"]),
         r["n_sources"], r["justification"], r["score"])
        for r in df.collect())


def test_foreachbatch_pipeline_equals_batch(spark, layer_map, pages_path,
                                            batch_stage2, frozen_stats,
                                            batch_linked, canon_df,
                                            tmp_path_factory):
    """Batch truth: triples over merged mentions + residual links, on a
    corpus where the links really change the triple set (asserted)."""
    stats, df_ = frozen_stats
    merged, residual = batch_linked
    want = materialize.materialize_triples(
        materialize.evidence_rows(merged, residual, canon_df))
    base = materialize.materialize_triples(materialize.evidence_rows(
        mention.mentions_view(batch_stage2), residual.limit(0), canon_df))
    # the corpus must exercise the link pass, else this test proves nothing
    assert _canon_rows(want) != _canon_rows(base)
    assert residual.count() > 0

    out = str(tmp_path_factory.mktemp("kg_stream_out"))
    ckpt = str(tmp_path_factory.mktemp("kg_stream_ckpt"))
    q = run_kg_stream(_stream_pages(spark, pages_path), layer_map,
                      stats, df_, canon_df, out, ckpt, available_now=True)
    q.awaitTermination(600)

    # >= 2 micro-batches actually ran (the parity claim needs a real split)
    n_batches = (spark.read.parquet(out)
                 .select("batch_id").distinct().count())
    assert n_batches >= 2

    got = merged_triples(spark, out)
    assert _canon_rows(got) == _canon_rows(want)


def test_batch_step_replay_is_idempotent(spark, layer_map, pages_path,
                                         canon_df, tmp_path_factory):
    """foreachBatch replay semantics: running the SAME micro-batch with the
    same batch_id twice rewrites its partition (dynamic partition
    overwrite) instead of appending duplicates."""
    out = str(tmp_path_factory.mktemp("kg_replay_out"))
    micro = spark.read.parquet(pages_path).filter(
        F.pmod(F.crc32("url"), F.lit(2)) == 0)
    canon_map = collect_canon(canon_df)

    kg_batch_step(micro, 7, layer_map, canon_map, out)
    once = _canon_rows(merged_triples(spark, out))
    n_once = spark.read.parquet(out).count()

    kg_batch_step(micro, 7, layer_map, canon_map, out)  # replay
    assert _canon_rows(merged_triples(spark, out)) == once
    assert spark.read.parquet(out).count() == n_once


def test_batch_step_runs_few_jobs(spark, layer_map, pages_path, canon_df,
                                  tmp_path_factory):
    """One micro-batch step is one row-local pass plus the partial
    aggregate: at most 4 Spark jobs (under AQE, one per exchange, plus
    the write; the canon map is collected once per stream query, not per
    step)."""
    out = str(tmp_path_factory.mktemp("kg_jobs_out"))
    micro = spark.read.parquet(pages_path).filter(
        F.pmod(F.crc32("url"), F.lit(3)) == 0)
    canon_map = collect_canon(canon_df)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "kg_batch_step_jobs"
    sc.setJobGroup(group, "job count of one micro-batch step")
    try:
        before = set(tracker.getJobIdsForGroup(group))
        kg_batch_step(micro, 0, layer_map, canon_map, out)
        started = set(tracker.getJobIdsForGroup(group)) - before
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert 0 < len(started) <= 4, sorted(started)


@pytest.fixture(scope="module")
def repeated_url_pages(spark, layer_map, tmp_path_factory):
    """Pages 50-59 reuse the urls of pages 0-9 with other content, and
    ``Pipeline.run``'s triples over them."""
    rows = [generate_page(i, 1) for i in range(60)]
    for i in range(50, 60):
        rows[i]["url"] = rows[i - 50]["url"]
    cols = [c.split()[0] for c in PAGE_DDL.split(", ")]
    pages = spark.createDataFrame([tuple(r[c] for c in cols) for r in rows],
                                  PAGE_DDL)
    want = _canon_rows(Pipeline(
        spark, layer_map, str(tmp_path_factory.mktemp("kg_dup_batch")),
        n_buckets=8).run(pages, resume=False))
    return rows, pages, want


def test_duplicate_urls_within_a_trigger_equal_batch(
        spark, layer_map, canon_df, repeated_url_pages, tmp_path_factory):
    """The repeated urls arrive in the same trigger.  Batch merges every
    page row of a url before linking and pairing; the micro-batch
    pipeline must too."""
    rows, pages, want = repeated_url_pages
    # two files, two triggers; every repeated url shares the first one
    path = str(tmp_path_factory.mktemp("kg_pages_dup_urls") / "p")
    first = F.col("url").isin([r["url"] for r in rows[:30]])
    pages.filter(first).coalesce(1).write.parquet(path)
    pages.filter(~first).coalesce(1).write.mode("append").parquet(path)

    out = str(tmp_path_factory.mktemp("kg_dup_out"))
    q = run_kg_stream(_stream_pages(spark, path), layer_map, None, None,
                      canon_df, out,
                      str(tmp_path_factory.mktemp("kg_dup_ckpt")),
                      available_now=True)
    q.awaitTermination(600)
    assert spark.read.parquet(out).select("batch_id").distinct().count() == 2
    assert _canon_rows(merged_triples(spark, out)) == want


def test_repeated_urls_straddling_arrow_batches_equal_batch(
        spark, layer_map, canon_df, repeated_url_pages, tmp_path_factory):
    """With 3-row Arrow batches a url's pages straddle batch boundaries
    and reach the fold only through ``linking.complete_urls``' carry: the
    merged triples of the repeated-url micro-batch still equal
    ``Pipeline.run``'s."""
    _rows, pages, want = repeated_url_pages
    out = str(tmp_path_factory.mktemp("kg_carry_out"))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prior = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        kg_batch_step(pages, 0, layer_map, collect_canon(canon_df), out)
    finally:
        spark.conf.set(key, prior)
    assert _canon_rows(merged_triples(spark, out)) == want


def test_null_html_page_in_a_micro_batch_equals_batch(
        spark, layer_map, canon_df, tmp_path_factory):
    """A micro-batch holding a lang='en' page whose html is null
    completes: the page becomes an error row, dropped before linking as
    the batch link stage drops it, and the merged triples equal
    ``Pipeline.run``'s over the same pages — the stream twin of
    test_pipeline.py::test_null_html_page_is_one_error_row."""
    pages = pages_df(spark, 20)
    with_null = pages.unionByName(spark.createDataFrame(
        [("http://example.invalid/null-html", None, None, None, "en")],
        pages.schema))
    path = str(tmp_path_factory.mktemp("kg_pages_null_html") / "p")
    with_null.coalesce(1).write.parquet(path)

    want = _canon_rows(Pipeline(
        spark, layer_map, str(tmp_path_factory.mktemp("kg_null_batch")),
        n_buckets=8).run(with_null, resume=False))

    out = str(tmp_path_factory.mktemp("kg_null_out"))
    q = run_kg_stream(_stream_pages(spark, path), layer_map, None, None,
                      canon_df, out,
                      str(tmp_path_factory.mktemp("kg_null_ckpt")),
                      available_now=True)
    q.awaitTermination(600)
    assert spark.read.parquet(out).select("batch_id").distinct().count() == 1
    assert _canon_rows(merged_triples(spark, out)) == want


def test_stream_without_partials_equals_batch(spark, layer_map, canon_df,
                                             tmp_path_factory):
    """A stream whose pages yield no evidence pair (here: no 'en' page)
    writes no partial file; its merged triples still equal
    ``Pipeline.run``'s over the same pages, which are none."""
    pages = pages_df(spark, 10).withColumn("lang", F.lit("de"))
    path = str(tmp_path_factory.mktemp("kg_pages_no_en") / "p")
    pages.coalesce(1).write.parquet(path)

    want = _canon_rows(Pipeline(
        spark, layer_map, str(tmp_path_factory.mktemp("kg_no_en_batch")),
        n_buckets=8).run(pages, resume=False))
    assert want == []

    out = str(tmp_path_factory.mktemp("kg_no_en_out") / "out")
    q = run_kg_stream(_stream_pages(spark, path), layer_map, None, None,
                      canon_df, out,
                      str(tmp_path_factory.mktemp("kg_no_en_ckpt")),
                      available_now=True)
    q.awaitTermination(600)
    assert q.exception() is None
    assert _canon_rows(merged_triples(spark, out)) == want


def test_stream_without_micro_batches_equals_batch(spark, layer_map,
                                                   canon_df,
                                                   tmp_path_factory):
    """A stream over an empty page directory runs no micro-batch, so its
    ``out_path`` is never written; its merged triples still equal
    ``Pipeline.run``'s over no pages, which are none."""
    want = _canon_rows(Pipeline(
        spark, layer_map, str(tmp_path_factory.mktemp("kg_empty_batch")),
        n_buckets=8).run(spark.createDataFrame([], PAGE_DDL), resume=False))
    assert want == []

    out = str(tmp_path_factory.mktemp("kg_empty_out") / "out")
    q = run_kg_stream(_stream_pages(spark,
                                    str(tmp_path_factory.mktemp("kg_empty"))),
                      layer_map, None, None, canon_df, out,
                      str(tmp_path_factory.mktemp("kg_empty_ckpt")),
                      available_now=True)
    q.awaitTermination(600)
    assert q.exception() is None
    assert _canon_rows(merged_triples(spark, out)) == want


def test_merge_through_a_uri_equals_plain_path(spark, layer_map, pages_path,
                                               canon_df, tmp_path_factory):
    """``merged_triples`` finds the partials through the filesystem Spark
    writes with: the ``file://`` URI of an output path merges the same
    triples as the plain path, on all 7 fields."""
    out = tmp_path_factory.mktemp("kg_uri_out") / "out"
    kg_batch_step(spark.read.parquet(pages_path), 0, layer_map,
                  collect_canon(canon_df), str(out))
    want = _canon_rows(merged_triples(spark, str(out)))
    assert want
    assert _canon_rows(merged_triples(spark, out.as_uri())) == want


def test_row_linker_score_is_max_over_candidates(spark, layer_map):
    """RowLinker must report max(link_ner_score) over ALL of a key's
    candidates — mirroring batch best_links' SEPARATE F.max aggregate —
    not the struct-max winner's own score.  Planted shape (round-4 advice):
    residue {'tactic': ['initial_access'], 'others': ['Initial Access']}
    for TA0001 — the bucket-matching variant candidate scores 1.0 while a
    cross-bucket semantic candidate can win the struct with s=0.5."""
    from apt_bron_re_spark.operators.linking import RowLinker

    residue = {"tactic": ["initial_access"], "others": ["Initial Access"]}
    url = "https://example.test/p1"
    residues = spark.createDataFrame(
        [(url, b, v) for b, vs in residue.items() for v in vs],
        "url string, bucket string, value string")

    links = linking.build_links(residues, layer_map)
    best = linking.best_links(links)
    empty_keys = spark.createDataFrame(
        [], "url string, category string, oid_l string")
    batch_residuals = {
        (r["category"], r["original_id"]): r["ner_score"]
        for r in linking._residuals(best, empty_keys).collect()}

    linker = RowLinker(layer_map)
    _annotated, residual = linker.merge(residue, [])
    stream_residuals = {(label, winner[7]): max_s
                        for (label, winner, max_s) in residual}
    assert stream_residuals == batch_residuals

    # the planted shape must actually exercise the divergence: some key's
    # struct winner carries a lower s than the key's max(s)
    diverging = [key for key, (winner, max_s) in
                 linker._links_for(residue).items() if winner[1] < max_s]
    assert diverging, "corpus no longer exercises winner-s < max-s"

    # mention-fold side: a mention on a diverging key takes max(s), the
    # batch _annotate rule
    label, oid_l = diverging[0]
    winner, max_s = linker._links_for(residue)[(label, oid_l)]
    [(score, _winner)], _residual = linker.merge(
        residue, [(label, winner[7], 0.1)])
    assert score == max_s
    assert max_s > winner[1]


def test_doc_pairs_pure_function(layer_map):
    """doc_pairs folds per-url maxima associatively: planted two-entry
    case with a tie on score resolved by sentence order (Spark struct-max
    tie-break)."""
    import pandas as pd

    from apt_bron_re_spark.operators.materialize import (doc_pairs,
                                                         link_evidence)
    links = pd.DataFrame(
        [("u", "group", "G1", None, 0.5, "abc"),
         ("u", "group", "G1", None, 0.5, "abd"),
         ("u", "technique", "T1", None, 0.9, "t")],
        columns=["url", "category", "original_id", "value", "ner_score",
                 "sentence"])
    ev = link_evidence(links, {})
    pairs = doc_pairs(zip(ev["label"], ev["canon_id"], ev["score"],
                          ev["sentence"]),
                      {("group", "technique"): "uses"})
    assert pairs == {("G1", "uses", "T1"): (0.5, "abd", "group")}
