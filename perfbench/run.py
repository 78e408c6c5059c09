"""Seeded end-to-end benchmark of the search engine.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Workloads (perfbench/workloads.py):
  search  search_service/statistics_service traffic on a fresh store
          built in set-up: open loop, one-client CPU cost, closed-loop
          capacity (serving tier, zero Spark jobs); then an edit phase
          on the same store: a streaming micro-batch and searches
          around a reindex_page/delete_page write (incremental,
          streaming.ingest, wand)
  clean   clean_corpus with the default stages on documents with
          planted duplicates (pipeline, dedup, textstats)

Every workload reports the same end-to-end metrics (BENCHMARK.json):
  setup_s           process start to the end of set-up
  p50_ms, tail_ms   median and the highest percentile with 10 samples
                    beyond it (the maximum when there are too few) of
                    the CPU time (driver, JVM less its JIT compiler
                    threads, Python workers) of a serving request
                    (search) or a pass (clean)
  throughput_per_s  requests per CPU second (search), documents per
                    CPU second (clean)
  peak_rss_mb       the driver process's peak resident memory
The workload's own named metrics are printed above the result line.
With --trace 1 the run wraps the engine's public functions, switches
on Spark's event log, writes its spans to
.perfbench/spans-<workload>-<seed>.jsonl and reports the per-layer
metrics instead, each with the end-to-end metric it should move.
The benchmark's helpers have tests: python3 -m pytest perfbench

The last line of stdout is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = os.path.join(ROOT, "search_engine_skillbox_spark")
# JVM heap (the engine's 16g default does not fit a 15 GB box), also
# its initial size so that heap growth is the same in every run
DRIVER_MEM = "2g"
E2E_UNITS = {"setup_s": "s", "p50_ms": "ms", "tail_ms": "ms",
             "throughput_per_s": "1/s", "peak_rss_mb": "MB"}


def _stop(spark) -> None:
    """Stop Spark, the JVM and the Python workers, and wait for them."""
    from pyspark import SparkContext

    from perfbench import procs as P
    kids = P.descendants(os.getpid())
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        try:
            gw.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}")
                                         and P.status_kb(p, "VmRSS")
                                         for p in kids):
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_begin = time.time()
    if not os.path.isdir(ENGINE):
        print(f"engine package not found at {ENGINE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import layers as L
    from perfbench import procs as P
    from perfbench import spans as T
    from perfbench import workloads as W
    if args.workload not in W.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = len(os.sched_getaffinity(0))
    # existing engine settings only; PYTHONPATH lets the Python workers
    # import the engine and this package
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # keep every scratch file inside the work dir, JVM's included
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    event_dir = os.path.join(work, "eventlog")
    # every JVM (spark-submit's launcher too): no perf-data file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = [f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            # keep the JIT compiler threads alive, so that their CPU
            # time stays apart from the work's (procs.work_cpu_s)
            f"spark.driver.extraJavaOptions=-Xms{DRIVER_MEM} "
            "-XX:-UseDynamicNumberOfCompilerThreads"]
    if args.trace:
        os.makedirs(event_dir)
        conf += ["spark.eventLog.enabled=true",
                 f"spark.eventLog.dir=file://{event_dir}",
                 "spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}" for c in conf) + " pyspark-shell"

    tracer = T.Tracer()
    if args.trace:
        L.install(tracer)
    from search_engine_skillbox_spark import session
    t0 = time.time()
    spark = session.get_spark("perfbench", master=f"local[{cpus}]",
                              shuffle_partitions=cpus)
    session_s = time.time() - t0
    try:
        ctx = W.Ctx(spark=spark, seed=args.seed, seconds=args.seconds,
                    work=work, cpus=cpus, tracer=tracer, t_begin=t_begin)
        res = W.WORKLOADS[args.workload](ctx)
        rss_py, rss_jvm = P.peak_rss_mb()
    finally:
        t_stop = time.time()
        _stop(spark)
        tracer.restore()
    stop_s = time.time() - t_stop

    res.layers["session.start_s"] = session_s
    print(f"workload {args.workload} seed {args.seed}: "
          f"{res.attempted} attempted, {res.failed} failed, "
          f"checks {'passed' if res.checks_ok else 'FAILED'}")
    for name, (value, unit) in res.detail.items():
        print(f"  {name} = {value:.6g} {unit}")
    print(f"  failed_frac = {res.failed / max(1, res.attempted):.6g}")
    # the JVM's share is mostly its fixed heap, filled as far as GC
    # timing lets it get, so only the driver's peak is the metric
    print(f"  peak_rss_mb = {rss_py:.6g} MB (driver; JVM {rss_jvm:.6g} MB)")
    print(f"  setup_s = {res.e2e['setup_s']:.6g} s")
    print(f"  run_wall_s = {time.time() - t_begin:.1f} s (set-up "
          f"{res.e2e['setup_s']:.1f} s, session {session_s:.1f} s, "
          f"stop {stop_s:.1f} s)")
    if args.trace:
        spans_path = os.path.join(
            ROOT, ".perfbench", f"spans-{args.workload}-{args.seed}.jsonl")
        tracer.write(spans_path)
        metrics_raw = L.derive(res, tracer.spans,
                               T.read_event_log(event_dir), T.span_cost_s())
        print(f"spans: {spans_path}")
        for name, value in metrics_raw.items():
            unit, e2e, where = L.LAYER_MAP[name]
            print(f"  {name} = {value:.6g} {unit} -> {e2e} [{where}]")
        metrics = {k: {"value": float(v), "unit": L.LAYER_MAP[k][0]}
                   for k, v in metrics_raw.items()}
    else:
        vals = {**res.e2e, "peak_rss_mb": rss_py}
        metrics = {k: {"value": float(vals[k]), "unit": u}
                   for k, u in E2E_UNITS.items()}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": bool(res.checks_ok and res.failed == 0),
                      "attempted": int(res.attempted),
                      "failed": int(res.failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
