"""Profile the link stage's scaling components (round-4/5: the ~24 s
local[4] floor — NOTES_r4 'Round-5 candidates' #2).

Phase A (once, local[32]): build the 256k-page corpus and run the full
pipeline once into a shared base_dir (the mentions stage table is the
only input phase B needs).

Phase B (per level, fresh JVM): read the mentions stage table and time
the link stage's components separately:

    scan_repart  mentions_view -> repartition(n, url) -> noop
                 (the wide exchange alone: shuffle write + read of the
                 sentence-bearing table)
    aux_aggs     bm25_global_stats (1-row stats + df table) forced to
                 noop — the broadcast-build subtrees
    links_build  residue_view -> build_links (L2-L4) -> noop
    full_noop    the whole build_linked composition (scored split,
                 merge_links_split, union) -> noop for merged AND
                 residual (serial forces)
    full_write   pipeline-shape writes: merged + residual to parquet
                 partitionBy(pbucket), concurrent jobs like
                 _run_link_stage

Deltas separate exchange-bound, aux-agg-bound and write-bound wall so
the flat (non-scaling) terms can be attributed.

Usage: python scripts/profile_link.py [n_pages] [levels...]
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
BASE = os.environ.get("LINK_PROF_BASE", "/tmp/link_prof")

PHASE_A = r"""
import os, sys, time
sys.path.insert(0, {repo!r})
os.environ["SPARK_GRAFT_CPUS"] = "32"
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
from apt_bron_re_spark.session import get_spark
from apt_bron_re_spark.catalog.synthetic import build_layer_map
from apt_bron_re_spark.plans.pipeline import Pipeline
from apt_bron_re_spark.sources.pages import pages_df

spark = get_spark("linkprofA", master="local[32]", shuffle_partitions=32)
base = {base!r}
pp = os.path.join(base, "pages")
pages_df(spark, {n_pages}, partitions=32).write.mode("overwrite").parquet(pp)
pages = spark.read.parquet(pp)
pipe = Pipeline(spark, build_layer_map(), os.path.join(base, "st"),
                n_buckets=32, fuse_extract=True)
pipe._canon_stage()
t0 = time.time()
pipe.run(pages)
print("PHASE_A done", round(time.time() - t0, 1))
"""

PHASE_B = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
os.environ["SPARK_GRAFT_CPUS"] = str({cpus})
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
from apt_bron_re_spark.session import get_spark
from apt_bron_re_spark.catalog.synthetic import build_layer_map
from apt_bron_re_spark.config import BM25_LABELS, SIM_THRESHOLD
from apt_bron_re_spark.operators import bm25, linking, mention
from apt_bron_re_spark.operators.linking import LINKED_LABELS_EXCLUDE
from pyspark.sql import functions as F

spark = get_spark("linkprofB", master="local[{cpus}]", shuffle_partitions=32)
base = {base!r}
st = os.path.join(base, "st")
stage2 = spark.read.parquet(os.path.join(st, "mentions"))
layer_map = build_layer_map()
N = 32

def steal():
    try:
        return int(open("/proc/stat").readline().split()[8]) / os.sysconf(
            "SC_CLK_TCK")
    except Exception:
        return 0.0

def force(df):
    df.write.format("noop").mode("overwrite").save()

def timed(fn):
    s0, t0 = steal(), time.time()
    fn()
    return round(time.time() - t0, 2), round(steal() - s0, 1)

def views():
    m = mention.mentions_view(stage2).repartition(N, F.col("url"))
    r = mention.residue_view(stage2).repartition(N, F.col("url"))
    dls = mention.doc_lengths_view(stage2)
    return m, r, dls

res = {{"cpus": {cpus}}}

m, r, dls = views()
res["scan_repart"] = timed(lambda: force(m))

stats, df_ = bm25.bm25_global_stats(m, dls)
res["aux_aggs"] = timed(lambda: (force(stats), force(df_)))

res["links_build"] = timed(lambda: force(linking.build_links(
    r, layer_map, semantic=True, threshold=SIM_THRESHOLD)))

def build_linked():
    m, r, dls = views()
    stats, df_ = bm25.bm25_global_stats(m, dls)
    scored, passthrough = bm25.add_bm25_frozen_split(m, dls, stats, df_)
    links = linking.build_links(
        r, layer_map, semantic=True, threshold=SIM_THRESHOLD).persist()
    keys = (m.select("url", "category",
                     F.lower(F.coalesce("original_id", F.lit("")))
                     .alias("oid_l")).distinct())
    may_link = bool((set(layer_map) - LINKED_LABELS_EXCLUDE)
                    - set(BM25_LABELS))
    merged_s, merged_p, residual = linking.merge_links_split(
        scored, passthrough, links, mention_keys=keys,
        passthrough_may_link=may_link)
    pb = lambda df: df.withColumn(
        "pbucket", F.pmod(F.hash(F.col("url")), F.lit(N)).cast("int"))
    return pb(merged_s).unionByName(pb(merged_p)), pb(residual)

def full_noop():
    merged, residual = build_linked()
    force(merged)
    force(residual)

res["full_noop"] = timed(full_noop)

def full_write():
    import threading
    merged, residual = build_linked()
    def _w(df, name):
        (df.write.mode("overwrite").partitionBy("pbucket")
         .parquet(os.path.join(base, name + "_prof_{cpus}")))
    th = threading.Thread(target=_w, args=(residual, "residual"))
    th.start()
    _w(merged, "linked")
    th.join()

res["full_write"] = timed(full_write)
print("RESULT " + json.dumps(res))
"""


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 256_000
    levels = [int(x) for x in sys.argv[2:]] or [1, 4]

    os.makedirs(BASE, exist_ok=True)
    if not os.path.exists(os.path.join(BASE, "st", "mentions")):
        print(f"[prof] phase A: corpus {n_pages} + pipeline...", flush=True)
        out = subprocess.run(
            [sys.executable, "-c",
             PHASE_A.format(repo=str(REPO), base=BASE, n_pages=n_pages)],
            capture_output=True, text=True, timeout=3600)
        print(out.stdout[-500:], out.stderr[-500:] if out.returncode else "")
        if out.returncode:
            sys.exit(1)

    for cpus in levels:
        code = PHASE_B.format(repo=str(REPO), base=BASE, cpus=cpus)
        out = subprocess.run([sys.executable, "-c", code],
                             capture_output=True, text=True, timeout=3600)
        for line in out.stdout.splitlines():
            if line.startswith("RESULT "):
                print(line, flush=True)
                break
        else:
            print(f"[prof] local[{cpus}] FAILED: {out.stderr[-1500:]}")


if __name__ == "__main__":
    main()
