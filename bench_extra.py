"""Round-7 optimization measurement harness (bench.py is FROZEN — this
file exists so the per-query isolation runs required by the optimization
guide §1.4 don't touch the driver contract).

Usage:
    python bench_extra.py [--sf-dir DIR] [--reps N] [--plans-out DIR]
                          [--tag TAG] [query ...]

Times each named query (default: the full HEADLINE list) with the noop
sink on local[$SPARK_GRAFT_CPUS], records per-rep walls + steal brackets,
and (with --plans-out) writes the `.explain("formatted")` output for each
query to <plans-out>/<query>_<tag>.txt.  Prints one JSON line per query
and a final summary JSON line.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from apt_bron_re_spark.queries import SPARK_QUERIES  # noqa: E402
from bench import HEADLINE  # noqa: E402


def _steal_s() -> float | None:
    try:
        return int(open("/proc/stat").readline().split()[8]) / os.sysconf(
            "SC_CLK_TCK")
    except Exception:
        return None


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", default=None)
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf1.0"))
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--plans-out", default=None)
    ap.add_argument("--tag", default="before")
    args = ap.parse_args()
    names = args.queries or HEADLINE

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    from apt_bron_re_spark.session import get_spark
    spark = get_spark("bench_extra", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8))

    # warmup (session/codegen spin-up off the first measured query)
    SPARK_QUERIES["lang_stats"](spark, args.sf_dir).write.format(
        "noop").mode("overwrite").save()

    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        if args.plans_out:
            plan_dir = Path(args.plans_out)
            plan_dir.mkdir(parents=True, exist_ok=True)
            buf = io.StringIO()
            with redirect_stdout(buf):
                SPARK_QUERIES[name](spark, args.sf_dir).explain("formatted")
            (plan_dir / f"{name}_{args.tag}.txt").write_text(buf.getvalue())
        reps = []
        for _ in range(args.reps):
            s0 = _steal_s()
            t0 = time.time()
            SPARK_QUERIES[name](spark, args.sf_dir).write.format(
                "noop").mode("overwrite").save()
            wall = time.time() - t0
            s1 = _steal_s()
            steal = (round(s1 - s0, 1)
                     if s0 is not None and s1 is not None else None)
            reps.append({"wall_s": round(wall, 3), "steal_s": steal})
        best = min(r["wall_s"] for r in reps)
        out[name] = best
        print(json.dumps({"query": name, "best_s": best, "reps": reps}),
              flush=True)
    print(json.dumps({"summary": out, "sf_dir": args.sf_dir, "cpus": cpus}))


if __name__ == "__main__":
    main()
