"""Profile the materialize stage's scaling components (round-4 verdict #2).

Phase A (once, local[32]): build the 256k-page corpus and run the
pipeline through the link stage into a shared base_dir.

Phase B (per level, fresh JVM): read linked/residual/canon and time the
stage's components separately:

    scan_narrow   narrow pairing branch only (scan + repartition + aggs,
                  noop sink)
    scan_sent     best-sentence branch only (scan + groupBy agg, noop)
    full_noop     materialize_triples forced with noop (no parquet write)
    full_write    materialize_triples + the pred-partitioned write
                  (repartition(n_buckets, pred) — the pipeline behavior)

The deltas separate scan-bound, shuffle-bound and write-bound wall.

Usage: python scripts/profile_materialize.py [n_pages] [levels...]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
BASE = os.environ.get("MAT_PROF_BASE", "/tmp/mat_prof")

PHASE_A = r"""
import os, sys, time
sys.path.insert(0, {repo!r})
os.environ["SPARK_GRAFT_CPUS"] = "32"
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
from apt_bron_re_spark.session import get_spark
from apt_bron_re_spark.catalog.synthetic import build_layer_map
from apt_bron_re_spark.plans.pipeline import Pipeline
from apt_bron_re_spark.sources.pages import pages_df

spark = get_spark("matprofA", master="local[32]", shuffle_partitions=32)
base = {base!r}
pp = os.path.join(base, "pages")
pages_df(spark, {n_pages}, partitions=32).write.mode("overwrite").parquet(pp)
pages = spark.read.parquet(pp)
pipe = Pipeline(spark, build_layer_map(), os.path.join(base, "st"),
                n_buckets=32, fuse_extract=True)
pipe._canon_stage()
t0 = time.time()
pipe.run(pages)          # resume=True: runs all stages once
print("PHASE_A done", round(time.time() - t0, 1))
"""

PHASE_B = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
os.environ["SPARK_GRAFT_CPUS"] = str({cpus})
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
from apt_bron_re_spark.session import get_spark
from apt_bron_re_spark.operators import materialize
from pyspark.sql import functions as F

spark = get_spark("matprofB", master="local[{cpus}]", shuffle_partitions=32)
base = {base!r}
st = os.path.join(base, "st")
linked = spark.read.parquet(os.path.join(st, "linked"))
residual = spark.read.parquet(os.path.join(st, "links_residual"))
canon = spark.read.parquet(os.path.join(st, "canon"))

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

ev = materialize.evidence_rows(linked, residual, canon)
res = {{"cpus": {cpus}}}

from apt_bron_re_spark.config import PREDICATE_MAP
res["scan_narrow"] = timed(lambda: force(
    materialize._pairs(materialize._narrow_evidence(ev, 32), PREDICATE_MAP)))
res["scan_sent"] = timed(lambda: force(materialize._evidence_sentences(ev)))
res["full_noop"] = timed(lambda: force(
    materialize.materialize_triples(ev, partitions=32)))

def full_write():
    out = materialize.materialize_triples(ev, partitions=32)
    (out.repartition(32, F.col("pred")).write.mode("overwrite")
     .partitionBy("pred")
     .parquet(os.path.join(base, "triples_prof_{cpus}")))

res["full_write"] = timed(full_write)
print("RESULT " + json.dumps(res))
"""


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 256_000
    levels = [int(x) for x in sys.argv[2:]] or [1, 4]

    os.makedirs(BASE, exist_ok=True)
    if not os.path.exists(os.path.join(BASE, "st", "triples")):
        print(f"[prof] phase A: corpus {n_pages} + pipeline to link...",
              flush=True)
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
