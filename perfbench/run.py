"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs from the seed
under ``.bench_work/`` in the checkout, sets the session up several times,
measures complete passes of the workload until ``--seconds`` have elapsed,
checks every output outside the timed region, removes its work directory
and prints one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics of a traced run and writes its spans to
``.bench_out/spans-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_ROUNDS = 5
T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {msg}",
          file=sys.stderr, flush=True)

# name -> unit. Times are CPU seconds of the driver, its JVM and the JVM's
# Python workers: on a shared host other guests steal a varying share of the
# CPU, which moves wall time by tens of percent between runs but not CPU time.
END_TO_END = {"setup_s": "s", "rows_per_cpu_s": "1/s", "disk_bytes_per_row": "B"}
# name -> (unit, how the traced samples are reduced)
PER_LAYER_FIXED = {
    "run.op_wall_s_p50": ("s", "value"),
    "run.rows_per_wall_s": ("1/s", "value"),
    "run.peak_rss_mb": ("MB", "value"),
    "session.start_s": ("s", "value"),
    "session.warmup_s": ("s", "value"),
    "session.tasks_failed": ("count", "sum"),
    "sources.tables.scan_s": ("s", "median"),
    "sources.jdbc.metadata_s": ("s", "median"),
    "sources.jdbc.watermark_s": ("s", "median"),
    "sources.jdbc.roundtrips": ("count", "median"),
    "sources.jdbc.scan_s": ("s", "median"),
    "sources.paged.scan_s": ("s", "median"),
    "sources.rows_read": ("count", "sum"),
    "operators.snapshot.cutoff_s": ("s", "median"),
    "operators.snapshot.count_s": ("s", "median"),
    "operators.envelope.stamp_s": ("s", "median"),
    "operators.audit.check_s": ("s", "median"),
    "operators.audit.rows_scanned": ("count", "sum"),
    "functions.hashing.ns_per_row": ("ns", "value"),
    "pipeline.table_s": ("s", "median"),
    "pipeline.write_s": ("s", "median"),
    "pipeline.jobs_per_table": ("count", "median"),
    "pipeline.bytes_written": ("B", "sum"),
    "pipeline.files_written": ("count", "sum"),
    "streaming.start_s": ("s", "median"),
    "streaming.planning_ms": ("ms", "median"),
    "streaming.latest_offset_ms": ("ms", "median"),
    "streaming.wal_commit_ms": ("ms", "median"),
    "streaming.add_batch_ms": ("ms", "median"),
    "streaming.trigger_ms": ("ms", "median"),
    "streaming.epochs": ("count", "sum"),
    "streaming.target_files": ("count", "max"),
    "trace.overhead_s": ("s", "value"),
}


def per_layer_spec() -> dict[str, tuple[str, str]]:
    from workloads import QUERY_KEYS

    spec = dict(PER_LAYER_FIXED)
    for k in QUERY_KEYS:
        spec[f"queries.{k}.s"] = ("s", "median")
        spec[f"queries.{k}.jobs"] = ("count", "median")
    return spec


def driver_memory() -> str:
    """A quarter of the machine's RAM, capped at 4 GiB: the inputs are small
    and the JVM shares the machine with the Python workers."""
    with open("/proc/meminfo") as fh:
        kib = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1])
    return f"{max(1, min(4, kib // (4 * 1024 * 1024)))}g"


def export_env(work: str, trace: bool) -> None:
    """Keep every file the run writes inside ``work`` and every process on
    this run's settings; must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    java_opts = [f"-Djava.io.tmpdir={tmp}",
                 f"-Dderby.system.home={work}",
                 f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}"]
    if trace:  # Derby logs each executed statement: the JDBC round trips
        java_opts.append("-Dderby.language.logStatementText=true")
    os.environ.update({
        "TMPDIR": tmp,
        # Python workers import the program from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_DRIVER_MEM": driver_memory(),
        "SPARK_GRAFT_MEDIA_CACHE": os.path.join(work, "media"),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.local.dir={os.path.join(work, 'spark-local')}",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"--driver-java-options '{' '.join(java_opts)}'",
            "pyspark-shell"]),
    })


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, work: str, nproc: int) -> dict:
    from tracing import StreamProgress, Tracer, tree_cpu_s, vm_hwm_mb
    from workloads import WORKLOADS, Context

    from flink_job_spark.session import get_spark

    ctx = Context(work, args.seed, nproc, args.sf, args.inject_corruption)
    wl = WORKLOADS[args.workload](ctx)  # input generation: not set-up time
    log(f"inputs generated for {args.workload}, seed {args.seed}")

    setups, setup_cpu, spark, start_s = [], [], None, 0.0
    for r in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        c0 = tree_cpu_s()
        if spark is not None:
            spark.stop()
        spark = get_spark("perfbench", cpus=nproc)
        if r == 0:
            start_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        wl.setup()
        spark.range(1).count()
        setups.append(time.perf_counter() - t0)
        setup_cpu.append(tree_cpu_s() - c0)
        log(f"set-up round {r}: {setups[-1]:.3f}s")
        if r == 0:
            wl.load_sources(spark)
            log("sources loaded")
    ctx.spark = spark
    ctx.tracer = Tracer(spark, bool(args.trace))
    if args.trace:
        ctx.listener = StreamProgress()
        spark.streams.addListener(ctx.listener)

    warmup_s = setups[0] - start_s

    ops = []
    t0 = time.perf_counter()
    deadline = t0 + args.seconds
    while not ops or time.perf_counter() < deadline:
        ops.extend(wl.pass_ops())
    wall = time.perf_counter() - t0
    log(f"measured {len(ops)} operations in {wall:.3f}s")

    jvm_pid = spark.sparkContext._gateway.proc.pid
    peak_rss = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
    footprint = wl.footprint()
    stop_spark(spark)
    log("session and JVM stopped")

    failed = [o for o in ops if not o.ok]
    for o in ops:
        print(f"  {o.kind:8s} {o.name:24s} {o.seconds:8.3f}s {o.cpu_s:7.2f}cpu-s"
              f" rows={o.rows:<8d}"
              f" {'ok' if o.ok else 'FAILED ' + o.detail}", file=sys.stderr)
    times = [o.seconds for o in ops]
    busy = sum(times)  # one closed-loop client: busy time is its wall time
    rows = sum(o.rows for o in ops if o.ok)
    e2e = {
        "setup_s": statistics.median(setup_cpu),
        "rows_per_cpu_s": rows / sum(o.cpu_s for o in ops),
        "disk_bytes_per_row": footprint / wl.source_rows(),
    }
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
          f"{len(ops)} ops, {sum(o.rows for o in ops)} rows in {wall:.2f}s, "
          f"{len(failed)} failed "
          f"(failed_op_ratio {len(failed) / len(ops):.4f}); "
          + ", ".join(f"{k}={v:.6g} {END_TO_END[k]}" for k, v in e2e.items())
          + f"; wall: set-up {statistics.median(setups):.3f}s, op p50 "
          f"{statistics.median(times):.3f}s, {rows / busy:.1f} rows/s, "
          f"peak RSS {peak_rss:.0f} MB")

    if args.trace:
        hashed = ctx.layer.get("functions.hashing.rows")
        traced = {"functions.hashing.ns_per_row": (
                      sum(ctx.layer["functions.hashing.s"]) / sum(hashed) * 1e9
                      if hashed else 0),
                  "session.start_s": start_s, "session.warmup_s": warmup_s,
                  "trace.overhead_s": wall - busy - ctx.check_s,
                  "run.op_wall_s_p50": statistics.median(times),
                  "run.rows_per_wall_s": rows / busy,
                  "run.peak_rss_mb": peak_rss}
        metrics = {}
        for name, (unit, how) in per_layer_spec().items():
            xs = ctx.layer.get(name, [])
            if how == "value":
                v = traced[name]
            elif not xs:
                v = 0
            elif how == "median":
                v = statistics.median(xs)
            elif how == "sum":
                v = sum(xs)
            else:
                v = max(xs)
            metrics[name] = {"value": v, "unit": unit}
        ctx.tracer.dump(os.path.join(
            ROOT, ".bench_out", f"spans-{args.workload}-{args.seed}.jsonl"))
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    return {"correct": not failed, "attempted": len(ops),
            "failed": len(failed), "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["ingest", "query_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--sf", type=float, default=None,
                   help="self-test: scale factor in place of the workload's")
    p.add_argument("--inject-corruption", action="store_true",
                   help="self-test: stream increments stamp a wrong row_hash, "
                        "so their audits must fail")
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "flink_job_spark", "__init__.py")):
        print(f"perfbench: no flink_job_spark package in {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        export_env(work, bool(args.trace))
        result = run(args, work, nproc)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
