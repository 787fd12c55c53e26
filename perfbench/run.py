#!/usr/bin/env python3
"""Seeded end-to-end and per-layer benchmark of the medallion engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload medallion_etl --seed 1 \
        --seconds 1 --trace 0

One process, one SparkSession from the program's own ``get_spark()``
on ``local[<cores>]``, one closed-loop client. Set-up builds the
workload's inputs from the seed. Then passes (the workload's job, then
its queries) run back to back: the first always, a further one only
while it is expected to end inside ``--seconds``. Each operation's
outputs are checked, untimed, and every cached block is released
before the next operation starts.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: str, cores: int) -> None:
    """Point every scratch location at the work directory. Spark gets
    only the two settings the repository's test command sets; all other
    configuration is the program's own get_spark() defaults."""
    for sub in ("spark-local", "tmp", "jtmp"):
        os.makedirs(os.path.join(work, sub))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cores))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    jtmp = os.path.join(work, "jtmp")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={jtmp} -XX:-UsePerfData" '
        "pyspark-shell")


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def measure(args, work: str, cores: int) -> dict:
    t0 = time.time()
    from medallion_data_pipeline_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    try:
        return _measure(spark, args, work, cores, t0)
    finally:
        _stop(spark)


def _measure(spark, args, work: str, cores: int, t0: float) -> dict:
    import rules
    from spans import SparkProbe, Tracer, batch_listener
    from workloads import LAYERS, WORKLOADS

    session_s = time.time() - t0
    probe = SparkProbe(spark)
    w = WORKLOADS[args.workload](spark, work, args.seed, cores)
    w.setup()
    probe.release_blocks()
    setup_s = time.time() - t0

    tracer = Tracer(probe, bool(args.trace))
    batches: list[float] = []
    if args.trace:
        batch_listener(spark, batches)
    jobs: list[float] = []
    queries: list[float] = []
    steps: dict[str, list[float]] = {}
    attempted = failed = passes = 0
    start, last_pass = time.time(), 0.0
    while not passes or time.time() - start + last_pass <= args.seconds:
        p0 = time.time()
        # query latency is a per-layer metric, so only traced runs spend
        # the run's time budget on the queries
        for key in w.pass_ops(with_queries=bool(args.trace)):
            w.prepare(key)
            attempted += 1
            ok = False
            try:
                t = time.time()
                with tracer.operation(attempted):
                    out, step_walls = w.run(key, tracer)
                (jobs if key == "job" else queries).append(time.time() - t)
                for k, v in step_walls.items():
                    steps.setdefault(k, []).append(v)
                ok = w.check(key, out)
            except Exception:
                traceback.print_exc()
            failed += not ok
            probe.release_blocks()
            w.finish(key)
        passes += 1
        last_pass = time.time() - p0
    w.close()

    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "job_s": (_median(jobs), "s"),
        }
    else:
        probe.stages_since(0)  # let the listener bus deliver the last batch
        metrics = {k: (v, _unit(k)) for k, v in
                   tracer.layer_metrics(LAYERS, passes).items()}
        tail = rules.tail(tracer.stage_walls)
        own = {
            "session.start_s": session_s,
            "session.peak_rss_mb": probe.peak_rss_mb(),
            "session.failed_tasks": sum(s.counters.get("failed_tasks", 0)
                                        for s in tracer.spans),
            "streaming.ingest.batch_p50_s": _median(batches),
            "trace.overhead_s": tracer.overhead_s / passes,
            "trace.job_s": _median(jobs),
            "trace.query_p50_s": _median(queries),
            "session.stage_tail_s": tail[1] if tail else 0.0,
        }
        for k in ("etl_s", "api_s", "corpus_s", "crawl_increment_s", "stream_ingest_s"):
            own[f"job.{k}"] = _median(steps.get(k, []))
        metrics.update({k: (v, _unit(k)) for k, v in own.items()})
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def _stop(spark) -> None:
    """Stop Spark, then close the driver JVM's stdin, which makes it exit
    with the Python workers it started, and wait until it has."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def _unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[1]
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_bytes"):
        return "bytes"
    if leaf.endswith("_mb"):
        return "MB"
    return "count"


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "medallion_data_pipeline_spark")):
        print("perfbench: medallion_data_pipeline_spark/ is not in this "
              "checkout; nothing to measure", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        _environment(work, cores)
        result = measure(args, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
