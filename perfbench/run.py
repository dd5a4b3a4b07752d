"""Benchmark entry point.

    python3 perfbench/run.py --workload {sync,lake} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Each run starts a fresh Spark session,
generates the workload's inputs from the seed, runs whole rounds of the
workload for about S seconds after its first (cold) unit, checks the
outputs, and prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, and the spans are written to
``perfbench/_work/trace-<workload>-<seed>.jsonl``.

Everything the run writes (inputs, Spark scratch, Derby log, spans)
stays under ``perfbench/_work``; inputs and scratch are removed when
the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import sys
import time

import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

# Spark runs on at most this many task slots (never more than the CPUs
# this process may use) with a fixed shuffle-partition count, so two
# machines with different core counts plan the same shuffles.
MAX_SLOTS = 2
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "2g"

END_TO_END_UNITS = {"setup_s": "s", "cold_s": "s", "warm_s": "s", "rows_per_s": "rows/s"}

# Every workload reports every per-layer metric; a layer the workload
# does not call reads 0.
PER_LAYER = (
    "session.get_spark_s", "session.peak_rss_mb",
    "pipeline.cycle_self_s", "pipeline.jobs_per_cycle", "pipeline.shuffle_bytes",
    "sources.sf_datasource.rows_parsed", "sources.sf_datasource.parse_per_delta_row",
    "sources.jdbc.staging_write_s", "sources.jdbc.merge_s", "sources.jdbc.write_full_s",
    "sources.incremental.advance_watermark_s",
    *(f"queries.{q}_s" for q in workloads.MIX),
    "queries.build_s", "queries.exec_s", "sources.tables.load_s",
    "queries.shuffle_bytes", "queries.spill_bytes", "queries.stages",
    "operators.dedup.neardup_pairs_s", "operators.dedup.candidates",
    "operators.dedup.pairs", "operators.dedup.verify_yield",
    "operators.clustering.dedup_clusters_s", "operators.clustering.jobs",
    "trace.overhead_s",
)


def process_start() -> float:
    """Wall-clock time this process started (from /proc), so set-up
    time includes interpreter start and imports."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as f:
            btime = next(int(x.split()[1]) for x in f if x.startswith("btime"))
        return btime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, StopIteration):
        return T_IMPORT


T_IMPORT = time.time()


def start_session(work: str, trace: bool):
    """Fresh local session with every scratch path inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    slots = min(MAX_SLOTS, len(os.sched_getaffinity(0)))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(slots)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_UI"] = "true" if trace else "false"
    # -XX:-UsePerfData: HotSpot would otherwise keep a counters file in
    # /tmp/hsperfdata_<user>, outside the checkout; the launcher JVM that
    # spark-submit starts first takes it from SPARK_LAUNCHER_OPTS.
    jvm_tmp = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_tmp
    java_opts = f"{jvm_tmp} -Dderby.stream.error.file={work}/derby.log"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in [
        "--conf", f"spark.local.dir={os.path.join(work, 'local')}",
        "--conf", f"spark.driver.extraJavaOptions={java_opts}",
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])
    import tempfile

    tempfile.tempdir = tmp
    sys.path.insert(0, REPO)
    from salesforce_postgresql_etl_spark.session import get_spark
    from salesforce_postgresql_etl_spark.sources.sf_datasource import SalesforceModelDataSource

    t0 = time.time()
    spark = get_spark(app_name="perfbench", shuffle_partitions=SHUFFLE_PARTITIONS)
    get_spark_s = time.time() - t0
    spark.sparkContext.setLogLevel("ERROR")
    spark.dataSource.register(SalesforceModelDataSource)
    return spark, get_spark_s


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this process."""
    jvm_kb = 0
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    t_proc = process_start()

    work_root = os.path.join(HERE, "_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    trace = bool(args.trace)
    spark, get_spark_s = start_session(work, trace)
    setup_s = time.time() - t_proc

    ctx = workloads.Ctx(spark, work, args.seed, args.seconds, trace)
    try:
        out = workloads.WORKLOADS[args.workload](ctx)
        layers = out.pop("layers", {})
        rss = peak_rss_mb(spark)
    finally:
        ctx.tracer.restore()
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    for p in ctx.problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    for f in sorted(ctx.failures):
        print(f"operation failed: {f}", file=sys.stderr)
    print("units: " + " ".join(f"{k}={t:.3f}{'*' if tr else ''}" for k, t, tr in ctx.units),
          file=sys.stderr)
    if trace:
        layers.update({"session.get_spark_s": get_spark_s, "session.peak_rss_mb": rss})
        ctx.tracer.dump(os.path.join(work_root, f"trace-{args.workload}-{args.seed}.jsonl"))
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": layer_unit(k)} for k in PER_LAYER}
    else:
        out["setup_s"] = setup_s
        metrics = {k: {"value": out[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    print(json.dumps({
        "correct": not ctx.problems,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_row", "_yield")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
