"""Run one benchmark workload against the engine and print its metrics.

    python3 ragbench/run.py --workload chat --seed 1 --seconds 10 --trace 0

Run from the repository root. The workloads are ``chat`` and ``retrieval``
(see ``ragbench/spec.json`` for what each one does and why; ``chat`` also
drains the streaming corpus backlog in its set-up). Inputs are generated
from ``--seed`` into a scratch directory under ``.ragbench_work/`` and
removed afterwards. With ``--trace 0`` the last line holds the end-to-end
metrics; with ``--trace 1`` it holds the per-layer metrics of
``ragbench/layers.py`` and the spans are written to ``.ragbench_out/``.
Every line before the last is a human-readable ``name value unit`` report,
including the workload-specific names (``chat_turn_p50_s``,
``search_p50_s``, ``upsert_visible_p50_s``, ``ingest_docs_per_s``,
``stream_rows_per_s``, ...).
Progress goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("chat", "retrieval")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _environment(work: str) -> None:
    """Keep every file Spark and Python write inside ``work`` and put the
    package on the Python workers' path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "--conf spark.ui.showConsoleProgress=false",
            "--conf spark.ui.retainedJobs=1000000",
            "--conf spark.ui.retainedStages=1000000",
            "--conf spark.sql.ui.retainedExecutions=100",
            "--conf spark.sql.streaming.ui.retainedQueries=10",
            "pyspark-shell",
        ]
    )
    import tempfile

    tempfile.tempdir = tmp


def _stop(spark, tracked: list[int]) -> None:
    """Stop Spark, then the JVM, and wait until every process this run
    started (JVM, Python worker daemon and workers) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 60
    alive = [p for p in tracked if p != os.getpid()]
    while alive and time.time() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _warm_workers(spark) -> None:
    """Start the Python worker daemon before any timed region: the first
    Arrow UDF of a session pays for forking it."""
    from vector_search_ai_assistant_mongodbvcore_spark.functions.embedder import HashNgramEmbedder

    emb = HashNgramEmbedder(dims=8)
    spark.range(8).selectExpr("cast(id as string) t").select(emb.udf()("t")).collect()


def main(argv=None) -> int:
    args = _parse(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    # fails (non-zero exit, no result) where the engine is not checked out
    from vector_search_ai_assistant_mongodbvcore_spark import get_spark

    work = os.path.join(ROOT, ".ragbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work)

    from ragbench import layers, stats, trace
    from ragbench import chat, retrieval

    with open(os.path.join(HERE, "spec.json"), encoding="utf-8") as f:
        spec = json.load(f)
    module = {"chat": chat, "retrieval": retrieval}[args.workload]

    try:
        with trace.RssSampler() as rss:
            spark = get_spark(app_name=f"ragbench-{args.workload}", cpus=_cpus())
            try:
                spark.sparkContext.setLogLevel("ERROR")
                trace.log("spark started")
                _warm_workers(spark)
                trace.log("python workers started")
                tracer = trace.Tracer(spark, enabled=bool(args.trace))
                ctx = {
                    "spark": spark,
                    "tracer": tracer,
                    "spec": spec,
                    "seed": args.seed,
                    "seconds": args.seconds,
                    "work": work,
                }
                res = module.run(ctx)
                trace.log("workload done")
                if args.trace:
                    tracer.dump(os.path.join(ROOT, ".ragbench_out", f"spans-{args.workload}-seed{args.seed}.jsonl"))
            finally:
                tracked = trace.process_tree(os.getpid())
                _stop(spark, tracked)
                trace.log("spark stopped")
        res["report"]["peak_rss_mb"] = (rss.peak_mb("driver"), "MB")
        res["report"]["workers_peak_rss_mb"] = (rss.peak_mb("workers"), "MB")
        for name, (value, unit) in res["report"].items():
            print(f"{name} {value} {unit}")
        print(f"failed_ops_frac {res['failed'] / max(res['attempted'], 1)} ratio")
        if args.trace:
            names = {m["name"]: m["unit"] for m in layers.catalogue()}
            metrics = {n: (float(res["layers"].get(n, 0.0)), u) for n, u in names.items()}
        else:
            metrics = {m["name"]: (float(res["report"][m["name"]][0]), m["unit"]) for m in layers.END_TO_END}
        print(stats.result_line(res["correct"], res["attempted"], res["failed"], metrics), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's scratch directory is still there
    return 0


if __name__ == "__main__":
    sys.exit(main())
