"""KG construction benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics (spans joined to Spark's
event log) with ``--trace 1``.  Every operation's triples are compared
with the independent interpreter on all seven fields.  perfbench/README.md
defines each metric.  Scratch files live under ``.perfbench/`` in the
checkout and are removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RUN_LIMIT_S = 110  # start no new operation after this; the run must end <180 s

END_TO_END_UNITS = {"setup_s": "s", "cold_wall_s": "s", "warm_wall_s": "s",
                    "batch_p50_s": "s", "triples_per_s": "1/s"}


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _check_checkout() -> None:
    need = [ROOT / "apt_bron_re_spark" / "plans" / "pipeline.py",
            ROOT / "scripts" / "ref_interpreter.py"]
    missing = [str(p.relative_to(ROOT)) for p in need if not p.is_file()]
    if missing:
        sys.exit(f"perfbench: not a checkout of the program, missing "
                 f"{missing}")


def _environment(work: Path) -> None:
    """Keep Spark's and Python's scratch files inside the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ.setdefault("SPARK_GRAFT_CPUS",
                          str(min(4, os.cpu_count() or 4)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, str(ROOT))


def main() -> int:
    args = _parse()
    _check_checkout()
    work_root = ROOT / ".perfbench"
    work = work_root / f"{args.workload}-{os.getpid()}"
    _environment(work)

    from gold import canonical, gold_triples
    import procs
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        sys.exit(f"perfbench: unknown workload {args.workload!r}; "
                 f"choose from {sorted(WORKLOADS)}")
    started = time.time()
    context = procs.host_context()
    print("# context " + json.dumps(context), flush=True)

    tracer = None
    # -XX:-UsePerfData: the JVM's perf-data file goes to /tmp whatever
    # java.io.tmpdir says
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"}
    if args.trace:
        import spans as tr
        tracer = tr.Tracer()
        tr.install(tracer)
        conf.update(tr.event_log_conf(work / "events"))

    wl = WORKLOADS[args.workload](work, args.seed, tracer)
    spark = sampler = None
    phases = {}
    try:
        wl.land()
        gold = {n: gold_triples(ROOT, n, args.seed) for n in wl.gold_pages}
        phases["inputs_s"] = time.time() - started
        sampler = procs.RssSampler()

        from apt_bron_re_spark.session import get_spark
        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=conf)
        session_s = time.perf_counter() - t0
        if tracer is not None:
            tracer.sc = spark.sparkContext
        wl.spark = spark
        t0 = time.perf_counter()
        wl.setup()
        setup_step_s = time.perf_counter() - t0
        warm_up_s = wl.warm_up()
        setup_s = session_s + setup_step_s + warm_up_s
        phases.update(session_s=session_s, setup_step_s=setup_step_s,
                      warm_up_s=warm_up_s)

        t0 = time.time()
        wl.run(args.seconds, started + RUN_LIMIT_S, sampler)
        phases["timed_s"] = time.time() - t0
        metrics = dict(wl.result(), setup_s=setup_s)

        failed = 0
        for op in wl.ops:
            want = gold[op["pages"]]
            if canonical(op["rows"]) != want:
                failed += len(op.get("batches") or [None])
                print(f"# mismatch in {op['kind']}: {len(op['rows'])} rows "
                      f"vs {len(want)} gold", file=sys.stderr)
        attempted = wl.attempted()

        procs.stop_spark(spark)
        spark = None
        if tracer is not None:
            layer = tr.layer_metrics(
                tracer, work / "events",
                work_root / f"trace-{args.workload}-seed{args.seed}.json")
            layer["process.peak_rss_mb"] = sampler.peak / 2**20
            units = {n: u for n, u, _ in tr.metric_specs()}
            out = {k: {"value": v, "unit": units[k]}
                   for k, v in layer.items()}
        else:
            out = {k: {"value": metrics[k], "unit": u}
                   for k, u in END_TO_END_UNITS.items()}
        phases["total_s"] = time.time() - started
        print("# context " + json.dumps(dict(
            context, steal_s_end=procs.steal_s(),
            ops=[(o["kind"], o["wall_s"]) for o in wl.ops],
            rss_at_peak_mb=[round(b / 2**20) for b in sampler.at_peak],
            phases=phases)), flush=True)
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": out}), flush=True)
        return 0
    finally:
        if sampler is not None:
            sampler.close()
        if spark is not None:
            procs.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
