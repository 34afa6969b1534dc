"""Benchmark of the TPDM ingestion engine: one command, two workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json for why each exists):

* ``ingest_sync``: the reference's batch job (``app.run``) against an
  embedded Derby SIS and the benchmark's own REST server;
* ``query_mix``: a fixed mix of registered queries, each run once, with
  the artifacts they need built on the way.

Both workloads run as the one-shot batch job the system is: a fresh Spark
process does the work once. End-to-end metrics, the same on both:

* ``setup_s``: process start until the job starts, without the time
  spent making inputs (tables, oracle digests, Derby, the REST server);
* ``job_s``: the job: one full sync, or one pass over the query mix with
  every artifact it needs built on the way;
* ``throughput_per_s``: documents written (upserts + deletes), or queries
  answered, per second of ``job_s``.

Peak RSS (driver, JVM and Python workers) is reported in the env block and
as the per-layer ``process.peak_rss_mb``: it follows the JVM heap's
high-water mark, which moves with GC timing too much to carry a bound.

Every input is generated from ``--seed``; outputs are checked (API state
for the sync, DuckDB oracle digests for the queries) and any mismatch
makes ``correct`` false and the exit code 1. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced run.
``--smoke`` shrinks every input so that both workloads finish quickly.
The last line of standard output is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_sync", "query_mix")

# Input sizes: (teacher candidates, table scale factor). The full sizes
# keep one run, set-up included, under a minute on a 4-core box; the smoke
# sizes (and querymix.SMOKE_QUERIES) only exercise every path quickly.
SIZES = {False: (500, 0.01), True: (100, 0.001)}


def prepare_environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -Dderby.stream.error.file={work}/derby.log"
        " -XX:-UsePerfData")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def new_session():
    """The engine's own session factory (the ``session`` layer)."""
    from ed_fi_x_tpdm_data_ingestion_poc_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session() -> None:
    """Stop Spark and wait for its JVM to exit, so no process outlives the
    run (Python workers are the JVM's children)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def env_block(spark=None) -> dict:
    """The box and engine settings a result was measured under."""
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, _, rest = line.partition(":")
            if key in ("MemTotal", "MemAvailable"):
                mem[key] = round(int(rest.split()[0]) / 1024 / 1024, 2)
    try:
        rev = subprocess.run(
            ["git", "--git-dir", os.path.join(ROOT, ".git"), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10).stdout.strip() or None
    except OSError:
        rev = None
    import pyspark

    out = {
        "cpus": os.cpu_count(),
        "mem_total_gb": mem.get("MemTotal"),
        "mem_available_gb": mem.get("MemAvailable"),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "git_rev": rev,
    }
    if spark is not None:
        out["driver_heap"] = spark.conf.get("spark.driver.memory", None)
        out["shuffle_partitions"] = spark.conf.get("spark.sql.shuffle.partitions")
        out["default_parallelism"] = spark.sparkContext.defaultParallelism
    return out


def run_workload(name: str, seed: int, trace: bool, smoke: bool,
                 process_start: float) -> tuple[dict, dict]:
    """Run one workload; returns (result line, env block)."""
    from tracing import Tracer, RssSampler

    candidates, sf = SIZES[smoke]
    work = os.path.join(ROOT, ".perfbench_work", name)
    shutil.rmtree(work, ignore_errors=True)  # inputs of earlier runs
    prepare_environment(work)
    tracer = Tracer(trace)
    with RssSampler() as rss:
        if name == "ingest_sync":
            import ingest

            r = ingest.run(work, seed, tracer, new_session, candidates)
        else:
            import querymix

            queries = querymix.SMOKE_QUERIES if smoke else querymix.QUERIES
            r = querymix.run(work, seed, tracer, new_session, sf, queries)
        from pyspark.sql import SparkSession

        env = env_block(SparkSession.getActiveSession())
    ops = r["op_s"]
    e2e = {
        "setup_s": (r["setup_end"] - process_start - r["t_inputs"], "s"),
        "job_s": (sum(ops), "s"),
        "throughput_per_s": (r["items"] / sum(ops), "1/s"),
    }
    if trace:
        from tracing import LAYER_METRICS

        with open(os.path.join(work, "spans.json"), "w") as f:
            json.dump(tracer.spans, f)
        tracer.totals["trace.overhead_s"] += tracer.overhead_s
        tracer.totals["process.peak_rss_mb"] = rss.peak_mb
        metrics = {k: (float(tracer.totals.get(k, 0.0)), u) for k, u in LAYER_METRICS.items()}
    else:
        metrics = e2e
    env["op_s"] = ops
    env["peak_rss_mb"] = rss.peak_mb
    env["end_to_end"] = {k: v for k, (v, _) in e2e.items()}
    for err in r["errors"]:
        print(f"CHECK FAILED [{name}]: {err}", file=sys.stderr)
    result = {
        "correct": not r["errors"],
        "attempted": int(r["attempted"]),
        "failed": int(r["failed"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, env


def main(argv: list[str] | None = None) -> int:
    from tracing import process_age_s

    process_start = time.perf_counter() - process_age_s()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # Each job is one fixed unit of work (a sync, a pass over the mix) that
    # a fresh process runs once, so there is nothing to stretch or cut to
    # a run length; the option is accepted and the job measured whole.
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs: exercise every path in seconds")
    args = ap.parse_args(argv)
    try:
        result, env = run_workload(args.workload, args.seed, bool(args.trace),
                                   args.smoke, process_start)
    finally:
        stop_session()
    for k, m in result["metrics"].items():
        print(f"{args.workload:12s} {k:42s} {m['value']:>14.6g} {m['unit']}")
    print(json.dumps({"env": env}))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
