"""SparkSession factory tuned for the local test harness.

The engine itself never assumes local mode — all operators are plain
DataFrame lineage that scales with whatever cluster the session runs on.
This factory only encodes the local-mode knobs (shuffle partitions ≈ cores,
AQE on, UTC session timezone for oracle parity), the driver heap size and
one JIT policy.

JIT policy (`JIT_POLICY`): a snapshot job is one-shot, like the reference's
Flink job, so the driver JVM's warm-up never pays for itself. With HotSpot's
default tier-4 thresholds (5000, 600, 15000, 40000), the C2 compiler threads
used 53 of the driver JVM's 105 CPU-s in a perfbench `ingest` run on a
4-CPU host, compiling methods the run never ran hot enough to need. The
policy raises those thresholds, so methods stay in C1 code until they are
truly hot (C2 12 of 67 CPU-s in the same run). The back-edge threshold
matters most: it gates the on-stack-replacement compiles of hot loops,
which the invocation thresholds do not touch. C2 stays on, so a long run still reaches peak code: C1-only
(`-XX:TieredStopAtLevel=1`) roughly halves set-up CPU but makes a steady
600k-row snapshot more than twice as slow.

The policy travels in `spark.driver.defaultJavaOptions`, which the launcher
reads before the JVM starts and prepends to `spark.driver.extraJavaOptions`
(`--driver-java-options`), so the two compose. A `--conf
spark.driver.defaultJavaOptions=...` from the caller replaces it. It has no
effect on a JVM that is already running: a session handed in by the driver
contract (`__spark_entry__`), or `get_spark` when `getOrCreate` returns a
live session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

JIT_POLICY = ("-XX:Tier4InvocationThreshold=100000 "
              "-XX:Tier4MinInvocationThreshold=60000 "
              "-XX:Tier4CompileThreshold=110000 "
              "-XX:Tier4BackEdgeThreshold=400000")


def _default_driver_memory() -> str:
    """A quarter of MemTotal, capped at 24g: a fixed 24g heap let one long
    test session outgrow a small host and get OOM-killed."""
    try:
        with open("/proc/meminfo") as f:
            kib = int(next(ln for ln in f if ln.startswith("MemTotal:")).split()[1])
    except (OSError, StopIteration, ValueError):
        return "24g"
    return f"{min(kib // 4096, 24 * 1024)}m"


def get_spark(app_name: str = "flink_job_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local mode runs everything in the driver JVM; 8g showed multi-second
        # GC spikes on random queries at sf0.1 on a 128 GiB host
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory())
        .config("spark.driver.defaultJavaOptions", JIT_POLICY)
        .config("spark.ui.enabled", "false")
        # the driver testdata stores `events.ts` as parquet TIMESTAMP(NANOS)
        # which Spark only reads via this legacy long mapping
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_session_confs(spark: SparkSession) -> None:
    """Set runtime confs this engine relies on, on an externally created session.

    The correctness driver hands us its own SparkSession; these confs are all
    runtime-settable.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # runtime-settable AQE knobs the skew-sensitive joins rely on
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """IDs of every currently persisted RDD (catalog-cached DataFrames AND
    raw/localCheckpoint persists that `clearCache` cannot see)."""
    m = spark.sparkContext._jsc.sc().getPersistentRDDs()
    it = m.keysIterator()
    out: set[int] = set()
    while it.hasNext():
        out.add(it.next())
    return out


def unpersist_rdd_ids(spark: SparkSession, ids: set[int],
                      blocking: bool = False) -> None:
    """Unpersist specific RDD ids (no-op for ids already gone). Used by
    iterative operators to drop a superseded round's localCheckpoint —
    ContextCleaner does NOT reclaim checkpoint blocks while the session
    lives, so without this a long driver session accumulates one block set
    per iteration."""
    m = spark.sparkContext._jsc.sc().getPersistentRDDs()
    for rid in ids:
        opt = m.get(rid)
        if opt.isDefined():
            opt.get().unpersist(blocking)


def unpersist_all(spark: SparkSession, blocking: bool = False) -> None:
    """Sweep-protocol cache release: `clearCache()` plus explicit unpersist
    of RDD-level leftovers (localCheckpoint blocks of an already-consumed
    result). Call BETWEEN queries, after the previous result is fully
    materialized — a DataFrame whose plan still depends on a dropped
    checkpoint cannot be recomputed."""
    spark.catalog.clearCache()
    unpersist_rdd_ids(spark, persistent_rdd_ids(spark), blocking)
