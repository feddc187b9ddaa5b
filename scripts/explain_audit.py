"""Physical-plan audit -> PLANS.md.

Captures .explain("formatted") for the headline queries and pipeline
stages and checks the plan properties the 100 TB design relies on:

  * column pruning / predicate pushdown reach the parquet scan
    (ReadSchema excludes unused columns; PushedFilters non-empty);
  * small dimension joins are BroadcastHashJoin, fact-fact joins are
    shuffle joins (SortMergeJoin/ShuffledHashJoin);
  * relational expressions sit inside WholeStageCodegen spans;
  * the extract+mention UDF stage is a single narrow projection
    (no shuffle before the stage write).

Writes PLANS.md with the verdicts + plan excerpts.
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# joins no url-local kernel plan may contain
NO_SHUFFLE_JOINS = ["ShuffledHashJoin", "SortMergeJoin",
                    "BroadcastNestedLoopJoin", "CartesianProduct"]


def one_url_exchange(stage: str, plan: str) -> tuple:
    """A derived check: ``plan`` holds exactly one
    ``hashpartitioning(url, n), REPARTITION_BY_NUM`` exchange."""
    n = len(re.findall(
        r"hashpartitioning\(url#\d+, \d+\), REPARTITION_BY_NUM", plan))
    return (
        f"{stage}: exactly one url exchange (found {n})",
        f"(derived from the plan above: {n} hashpartitioning(url, n), "
        f"REPARTITION_BY_NUM exchange(s))"
        + (" ONE_URL_EXCHANGE_OK" if n == 1 else ""),
        ["ONE_URL_EXCHANGE_OK"],
        [],
    )


def fold_over_cache(stage: str, plan: str) -> tuple:
    """A derived check: in ``plan``'s operator tree the pair kernel's
    ``MapInPandas`` reads an ``InMemoryTableScan`` whose cached plan is
    the link kernel's ``MapInPandas``, with no operator, hence no
    ``Exchange``, between them."""
    ok = re.search(
        r"MapInPandas \(\d+\)\n\s*\+- InMemoryTableScan \(\d+\)\n"
        r"\s*\+- InMemoryRelation \(\d+\)\n"
        r"\s*\+- AdaptiveSparkPlan \(\d+\)\n\s*\+- MapInPandas", plan)
    return (
        f"{stage}: the pair kernel reads the cached link kernel rows",
        "(derived from the plan above: MapInPandas <- InMemoryTableScan <- "
        "InMemoryRelation <- MapInPandas, no Exchange between)"
        + (" FOLD_OVER_CACHE_OK" if ok else ""),
        ["FOLD_OVER_CACHE_OK"],
        [],
    )


def main() -> None:
    import shutil
    import tempfile

    from apt_bron_re_spark.catalog.synthetic import build_layer_map
    from apt_bron_re_spark.operators import bm25 as bm25_mod
    from apt_bron_re_spark.plans.pipeline import Pipeline
    from apt_bron_re_spark.queries import SPARK_QUERIES
    from apt_bron_re_spark.session import get_spark
    from apt_bron_re_spark.sources.pages import pages_df

    # a pinned master: the url-local kernels coalesce to the core count,
    # so a host-sized session would print a host-dependent plan
    spark = get_spark("explain_audit", master="local[4]",
                      shuffle_partitions=8)
    layers = build_layer_map()
    checks: list[tuple[str, str, list[str], list[str]]] = []

    # 1. extract+mention stage, as Pipeline.run writes it: lang filter
    # pushed to the scan, then one narrow mapInPandas with extraction
    # inside it, no shuffle
    pages = pages_df(spark, 50)
    pages_path = "/tmp/_audit_pages"
    pages.write.mode("overwrite").parquet(pages_path)
    pages_pq = spark.read.parquet(pages_path)
    td = tempfile.mkdtemp(prefix="_audit_stage_")
    pipe = Pipeline(spark, layers, td, n_buckets=8)
    p = plan_of(pipe._mentions(pages_pq))
    checks.append((
        "extract+mention stage (pages parquet -> mentions)", p,
        # ReadSchema pruned to url+html+lang (never reads the gold text
        # or warc_ts columns)
        ["PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]",
         "ReadSchema: struct<url:string,html:binary,lang:string>",
         "MapInPandas"],
        ["Exchange"],
    ))

    # 3. BM25: expect shuffle aggs + a broadcast of the 1-row stats
    li_m = SPARK_QUERIES["bm25_terms"](spark, SF_DIR)
    p = plan_of(li_m)
    checks.append((
        "bm25_terms", p,
        ["BroadcastHashJoin", "HashAggregate"],
        [],
    ))

    # 4. tpch_q1: pruned scan + partial/final agg in codegen
    p = plan_of(SPARK_QUERIES["tpch_q1"](spark, SF_DIR))
    checks.append((
        "tpch_q1", p,
        # AQE plans print codegen ids only after execution, so the
        # codegen check is done on the non-AQE doc_lengths plan below
        ["PushedFilters", "HashAggregate"],
        ["l_comment"],
    ))

    # 5. orders_by_nation: broadcast dim join
    p = plan_of(SPARK_QUERIES["orders_by_nation"](spark, SF_DIR))
    checks.append((
        "orders_by_nation", p,
        ["BroadcastHashJoin"],
        [],
    ))

    # 6. anti join
    p = plan_of(SPARK_QUERIES["anti_join_customers"](spark, SF_DIR))
    checks.append((
        "anti_join_customers", p,
        ["LeftAnti"],
        [],
    ))

    # 7. theta join (round 7): the broadcast-nested-loop SHAPE survives —
    # b-side driver-collected, a-side streamed — but the per-pair cosine
    # folds run as numpy batch kernels in ONE MapInPandas node
    # (bit-identical accumulation order; similarity.cosine_cross_pairs),
    # so the plan must carry MapInPandas and neither a JVM BNLJ nor a
    # cartesian product
    p = plan_of(SPARK_QUERIES["theta_join_sim"](spark, SF_DIR))
    checks.append((
        "theta_join_sim", p,
        ["MapInPandas"],
        ["BroadcastNestedLoopJoin", "CartesianProduct", "BatchEvalPython"],
    ))

    # 8. doc_lengths: regexp_count stays in codegen, no array blowup
    docs_df = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .selectExpr("cast(doc_id as string) as url", "text")
    p = plan_of(bm25_mod.doc_lengths(docs_df))
    checks.append((
        "bm25 doc_lengths", p,
        # token counting must not materialize token arrays
        ["regexp_replace", "codegen id"],
        ["regexp_extract_all"],
    ))

    # 9. minhash: pure JVM (no Python eval nodes), partial+final agg over
    # the exploded shingles, candidate equi-join on (band, bucket)
    p = plan_of(SPARK_QUERIES["minhash_dedup"](spark, SF_DIR))
    checks.append((
        "minhash_dedup (LSH candidates)", p,
        ["HashAggregate", "Generate"],
        ["ArrowEvalPython", "BatchEvalPython", "CartesianProduct"],
    ))

    # 10. simhash: pure JVM bit-count aggregation
    p = plan_of(SPARK_QUERIES["simhash_docs"](spark, SF_DIR))
    checks.append((
        "simhash_docs", p,
        ["HashAggregate"],
        ["ArrowEvalPython", "BatchEvalPython"],
    ))

    # 11. near-dup pipeline: LSH candidates then exact verify — still no
    # Python and no cartesian blowup anywhere
    p = plan_of(SPARK_QUERIES["near_dup_pipeline"](spark, SF_DIR))
    checks.append((
        "near_dup_pipeline (LSH -> Jaccard verify)", p,
        ["HashAggregate"],
        ["ArrowEvalPython", "BatchEvalPython", "CartesianProduct"],
    ))

    # 11b. near_dup_clusters: the iterative CC truncates its lineage per
    # round (localCheckpoint), so the FINAL plan must be a flat
    # checkpoint scan + projection — a growing per-round lineage (the
    # failure mode checkpointing prevents) would show the whole join
    # pyramid here.  A graph small enough for the driver-side union-find
    # (sf0.001's) comes back as a local table instead: a LocalTableScan
    # the projection folds into.  Round-internal caching of the
    # verified-pair graph (the edge persist) is pinned by the wall-clock
    # regression test in the bench record instead (20 s -> 12.7 s at
    # sf0.1, NOTES_r4).
    p = plan_of(SPARK_QUERIES["near_dup_clusters"](spark, SF_DIR))
    flat = (("Scan ExistingRDD" in p or "LocalTableScan" in p)
            and "Join" not in p and "Exchange" not in p)
    checks.append((
        "near_dup_clusters (LSH -> verify -> CC -> representative)",
        p + (" FLAT_FINAL_PLAN" if flat else ""),
        ["FLAT_FINAL_PLAN"],
        ["ArrowEvalPython", "BatchEvalPython", "CartesianProduct",
         "SortMergeJoin"],
    ))

    # 11b. alias_coverage (round-5 multi-word shape): both match stages
    # join the catalog BROADCAST (first-token prefilter, then the sparse
    # multi-word candidates rejoin the doc text for the consecutive-token
    # verify) — never a docs x catalog cross/cartesian scan
    p = plan_of(SPARK_QUERIES["alias_coverage"](spark, SF_DIR))
    checks.append((
        "alias_coverage (first-token prefilter + phrase verify)", p,
        ["BroadcastHashJoin", "Generate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ))

    # 12. ANN multi-table LSH: the signature UDF is the one intended
    # Arrow-batched Python node; candidates join on (table, bucket) with a
    # broadcast of the (tiny) query side — never a cross join
    p = plan_of(SPARK_QUERIES["ann_lsh_topk"](spark, SF_DIR))
    checks.append((
        "ann_lsh_topk (multi-table LSH ANN)", p,
        ["ArrowEvalPython", "BroadcastHashJoin"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ))

    # 13. shared_passages: Arrow-batched fingerprint UDF + anchor equi-join
    # + count agg; no cross join
    p = plan_of(SPARK_QUERIES["shared_passages"](spark, SF_DIR))
    checks.append((
        "shared_passages (fingerprint anchors)", p,
        ["ArrowEvalPython", "HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ))

    # 14. evidence pairing over tables read back: one url exchange feeding
    # the url-local pair kernel (materialize.link_pairs) — no join of any
    # kind pairs the evidence, and the url exchange is the only one before
    # the salted triple aggregate
    from apt_bron_re_spark.operators.materialize import materialize_triples
    ev = docs_df.selectExpr(
        "url",
        "CASE WHEN length(url) % 2 = 0 THEN 'group' ELSE 'technique' END"
        " as label",
        "substr(url, 1, 2) as canon_id",
        "0.5 as score", "text as sentence")
    p = plan_of(materialize_triples(ev, partitions=8))
    checks.append((
        "materialize pairing (one url exchange, url-local pair kernel)", p,
        ["MapInPandas", "REPARTITION_BY_NUM"], NO_SHUFFLE_JOINS,
    ))
    checks.append(one_url_exchange("materialize pairing", p))

    # 15. IVF ANN (round 7): centroid assignment is ONE ArrowEvalPython
    # projection (integer-exact numpy matmul argmax per Arrow batch —
    # similarity.ivf_assign; replaces the n x k BNLJ + max(struct)
    # aggregation that was 120 of ann_ivf_topk's 120 s at sf1.0); the
    # query-probe crossJoin keeps its tiny broadcast BNLJ.  No cartesian
    # product, no row-at-a-time Python.
    p = plan_of(SPARK_QUERIES["ann_ivf_topk"](spark, SF_DIR))
    checks.append((
        "ann_ivf_topk (sampled-centroid IVF)", p,
        ["ArrowEvalPython", "BroadcastNestedLoopJoin"],
        ["CartesianProduct", "BatchEvalPython"],
    ))

    # 16. embedding near-dup (round 7): the registry row runs the
    # WIDE-bucket regime (20x4 — candidates ~ all pairs), which now takes
    # the dense MapInPandas candidate kernel + the unchanged exact JVM
    # verify joins; the narrow-bucket LSH equi-join path (the 100 TB
    # regime) is pinned separately by the dense-vs-join parity test in
    # tests/test_r07_vectorized.py.  Never a cartesian product or BNLJ.
    p = plan_of(SPARK_QUERIES["embedding_near_dups"](spark, SF_DIR))
    checks.append((
        "embedding_near_dups (sign-LSH + exact verify)", p,
        ["MapInPandas"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ))

    # 17/18. link + materialize stage plans over REAL stage tables: the
    # link stage is one url hash-partitioning feeding one url-local
    # MapInPandas kernel; a fresh run's materialize folds that kernel's
    # cached rows with no further exchange, and a resumed run's reads the
    # link tables back under one url exchange.  A regression that brings
    # back a DataFrame composition plans more url exchanges and joins.
    # Built on a tiny run's stage tables in the temp dir.
    from apt_bron_re_spark.operators import materialize as _mat
    from apt_bron_re_spark.plans.pipeline import _bm25_globals

    pipe.run(pages_df(spark, 80), resume=False)
    # the linked write plan exactly as Pipeline.run builds it (one
    # linking.link_stage call over the url-repartitioned stage table)
    stage2 = spark.read.parquet(f"{td}/mentions")
    canon_map = pipe._canon_stage()
    with pipe._link_tables(stage2, *_bm25_globals(stage2)) as (tables, rows):
        p = plan_of(tables["linked"])
        fresh = plan_of(_mat.triples_of_pairs(
            _mat.link_pairs(rows, canon_map, 8, clustered=True)))
    checks.append((
        "link stage (one url exchange, one url-local MapInPandas kernel)", p,
        ["MapInPandas", "REPARTITION_BY_NUM"],
        ["ShuffledHashJoin", "SortMergeJoin", "BroadcastNestedLoopJoin"],
    ))
    checks.append(one_url_exchange("link stage", p))

    # a fresh run's materialize stage folds the link kernel's rows where
    # the link stage cached them: the pair kernel reads the cache with no
    # exchange after the link kernel and no canon join (the canon map is a
    # collected dict); the only url exchange is the link kernel's own
    checks.append((
        "materialize stage, fresh run (pair kernel over the cached link "
        "kernel rows)", fresh,
        ["MapInPandas", "InMemoryTableScan"],
        NO_SHUFFLE_JOINS + ["BroadcastHashJoin"],
    ))
    checks.append(fold_over_cache("materialize stage, fresh run", fresh))
    checks.append(one_url_exchange("materialize stage, fresh run", fresh))

    # a resumed run (link skipped) reads the link tables back: one url
    # exchange feeds the same pair kernel
    linked = spark.read.parquet(f"{td}/linked")
    residual = spark.read.parquet(f"{td}/links_residual")
    p = plan_of(_mat.triples_of_pairs(_mat.link_pairs(
        _mat.links_of_tables(linked, residual), canon_map, 8)))
    checks.append((
        "materialize stage, resumed run (one url exchange, url-local pair "
        "kernel)", p,
        ["MapInPandas", "REPARTITION_BY_NUM"],
        NO_SHUFFLE_JOINS + ["BroadcastHashJoin"],
    ))
    checks.append(one_url_exchange("materialize stage, resumed run", p))

    # 22b. streaming micro-batch step: the partial aggregate kg_batch_step
    # writes.  Stages 2-5 are ONE url-clustered MapInPandas (extract,
    # mentions, links, canon lookup, pairing) under linking.url_local: the
    # url exchange, then a Sort ahead of the kernel (complete_urls needs
    # url order) — no cached mention table, no join of any kind before the
    # salted aggregate
    from apt_bron_re_spark.streaming.kg_stream import batch_partials
    p = plan_of(batch_partials(pages_pq, layers, canon_map))
    checks.append((
        "kg_batch_step (one url-clustered row-local pass + salted partial "
        "aggregate)", p,
        ["MapInPandas", "REPARTITION_BY_COL", "Sort ("],
        ["InMemoryTableScan", "BroadcastNestedLoopJoin", "ShuffledHashJoin"],
    ))
    shutil.rmtree(td, ignore_errors=True)

    # 23. stratified_sample: scan-local hash-threshold filter — the whole
    # query must be one codegen span with the schema pruned to the two
    # consumed columns (the text column never read) and zero exchanges
    p = plan_of(SPARK_QUERIES["stratified_sample"](spark, SF_DIR))
    checks.append((
        "stratified_sample (deterministic hash-threshold sampling)", p,
        ["ReadSchema: struct<doc_id:bigint,lang:string>", "Filter"],
        ["Exchange", "text#"],
    ))

    lines = ["# PLANS — physical-plan audit (explain(\"formatted\"))", "",
             "Generated by scripts/explain_audit.py; each section lists the "
             "properties the plan MUST have for the 100 TB design point, "
             "the verdict, and the plan.", ""]
    ok_all = True
    for name, plan, must, must_not in checks:
        missing = [m for m in must if m not in plan]
        present = [m for m in must_not if m in plan]
        ok = not missing and not present
        ok_all &= ok
        lines.append(f"## {name} — {'OK' if ok else 'VIOLATION'}")
        lines.append("")
        lines.append(f"- required markers: {must} -> "
                     f"{'all present' if not missing else f'MISSING {missing}'}")
        if must_not:
            lines.append(f"- forbidden markers: {must_not} -> "
                         f"{'none present' if not present else f'PRESENT {present}'}")
        lines.append("")
        lines.append("```")
        lines.append(plan.strip()[:4000])
        lines.append("```")
        lines.append("")

    (REPO / "PLANS.md").write_text("\n".join(lines))
    print(f"PLANS.md written; all checks {'OK' if ok_all else 'FAILED'}")
    if not ok_all:
        sys.exit(1)


if __name__ == "__main__":
    main()
