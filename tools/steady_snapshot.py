"""Scale guard for JVM policy changes: a steady sf 0.1 `lineitem` snapshot.

The perfbench workloads run sf 0.01-sized tables in a fresh JVM, so they
mostly measure warm-up; a JIT policy that cuts warm-up can still make
steady work slower. C1-only (`-XX:TieredStopAtLevel=1`) is the known case:
it halves set-up CPU but more than doubles this snapshot. This tool runs
the shipped `pipeline.ingest_tables` (replace mode, audit on) on the 600k-row
sf 0.1 `lineitem` N times in ONE fresh `get_spark` session, so runs 3 and
later show the steady cost with the session's own JIT policy.

Per run it prints one JSON line:
- `wall_s`: wall time of the snapshot;
- `cpu_s`: CPU seconds of the process tree (driver, JVM, Python workers)
  from /proc, counted as perfbench counts it;
- `jit_ms`: the JVM's cumulative `CompilationMXBean.getTotalCompilationTime()`
  at the end of the run;
- `ok`: the audit passed and the row counts match.

Usage:  python tools/steady_snapshot.py SF01_DIR/lineitem.parquet [N]  # N=5
Env:    STEADY_SNAPSHOT_DIR=/tmp/steady_snapshot  (target, rewritten per run)
Run in isolation, like bench.py: other JVMs on the host skew wall and CPU.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_job_spark.pipeline import IngestConfig, ingest_tables  # noqa: E402
from flink_job_spark.session import get_spark  # noqa: E402
from perfbench.tracing import tree_cpu_s  # noqa: E402

OUT = os.environ.get("STEADY_SNAPSHOT_DIR", "/tmp/steady_snapshot")


def main() -> None:
    src = sys.argv[1]
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = get_spark("steady_snapshot")
    spark.sparkContext.setLogLevel("ERROR")
    compiler = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getCompilationMXBean()
    expected = spark.read.parquet(src).count()
    target = os.path.join(OUT, "lineitem")
    for run in range(1, n + 1):
        shutil.rmtree(target, ignore_errors=True)
        t0, c0 = time.perf_counter(), tree_cpu_s()
        df = spark.read.parquet(src)
        res = ingest_tables(spark, [(df, "lineitem", target, "l_orderkey")],
                            IngestConfig(mode="replace"))[0]
        wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
        ok = (res.ok and res.report.source_count == expected
              and res.report.target_count == expected)
        print(json.dumps({"run": run, "rows": expected, "wall_s": round(wall, 3),
                          "cpu_s": round(cpu, 2),
                          "jit_ms": compiler.getTotalCompilationTime(),
                          "ok": ok}), flush=True)
    spark.stop()
    shutil.rmtree(target, ignore_errors=True)


if __name__ == "__main__":
    main()
