"""SparkSession factory tuned for the local test harness.

The engine itself never assumes local mode — all operators are plain
DataFrame lineage that scales with whatever cluster the session runs on.
This factory only encodes the local-mode knobs (shuffle partitions ≈ cores,
AQE on, UTC session timezone for oracle parity), the driver heap size, the
JVM's default time zone, one JIT policy and the Python executable of Spark's
own Python processes.

Time zone (`SESSION_TIME_ZONE`): Spark reads a JDBC TIMESTAMP in the JVM's
default zone, not in `spark.sql.session.timeZone`. On a host whose zone is
Asia/Tokyo, a Derby `TIMESTAMP('2026-01-01 12:00:00')` landed as 03:00 and
hashed as the token `2026-01-01 03:00:00.0000`, whether it was read as
`timestamp` or as `timestamp_ntz`. `get_spark` therefore starts the driver
JVM with `-Duser.timezone` set to the session zone, one constant for both, so
a JDBC timestamp keeps its wall clock on any host. Like `JIT_POLICY`, it does
not reach a JVM that is already running (the driver contract's
`__spark_entry__` session keeps its host's zone).

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

The policy and the time zone travel in `spark.driver.defaultJavaOptions`,
which the launcher reads before the JVM starts and prepends to
`spark.driver.extraJavaOptions` (`--driver-java-options`), so the two
compose. A `--conf spark.driver.defaultJavaOptions=...` from the caller
replaces both. They have no effect on a JVM that is already running: a
session handed in by the driver contract (`__spark_entry__`), or `get_spark`
when `getOrCreate` returns a live session.

Worker Python (`WORKER_PYTHON`): Spark starts Python processes of its own
for this engine: the `pyspark.daemon` and its task workers, the data-source
planners (`create_data_source`, `plan_data_source_read`, ...) and one
streaming source runner per paged-stream increment. It puts
`$SPARK_HOME/python/lib/pyspark.zip` first on each one's PYTHONPATH, and
the zip holds sources only, so every process compiled pyspark again: a cold
import of `pyspark.daemon` or the source runner cost about 1.3 CPU-s from
the zip and 0.35-0.4 CPU-s from the installed, byte-compiled package
(4-CPU host). While `getOrCreate` starts the session, `get_spark` sets
PYSPARK_PYTHON, which both the PySpark driver and the JVM read at launch,
to `WORKER_PYTHON`, a launcher shipped in this package. The launcher runs
the interpreter Spark would have run (the caller's PYSPARK_PYTHON, else
`python3`) and moves Spark's two zips behind that interpreter's
site-packages when its installed pyspark has the zip's version; otherwise
it stands aside and Spark's order stays. `-m` and `-c` keep their meaning,
the cwd first on sys.path. `get_spark` also stands aside where the launcher
cannot run (not POSIX, or the file lost its executable bit). Like
`JIT_POLICY`, this does nothing to a JVM that is already running: the
driver contract's session keeps Spark's own worker Python. The caller's
environment is restored when `get_spark` returns.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

SESSION_TIME_ZONE = "UTC"

JIT_POLICY = ("-XX:Tier4InvocationThreshold=100000 "
              "-XX:Tier4MinInvocationThreshold=60000 "
              "-XX:Tier4CompileThreshold=110000 "
              "-XX:Tier4BackEdgeThreshold=400000")

WORKER_PYTHON = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "worker_python")


def _default_driver_memory() -> str:
    """A quarter of MemTotal, capped at 24g: a fixed 24g heap let one long
    test session outgrow a small host and get OOM-killed."""
    try:
        with open("/proc/meminfo") as f:
            kib = int(next(ln for ln in f if ln.startswith("MemTotal:")).split()[1])
    except (OSError, StopIteration, ValueError):
        return "24g"
    return f"{min(kib // 4096, 24 * 1024)}m"


@contextmanager
def _worker_python() -> Iterator[None]:
    """PYSPARK_PYTHON -> `WORKER_PYTHON` while a session starts; the
    launcher finds the caller's interpreter in SPARK_GRAFT_PYSPARK_PYTHON."""
    saved = {k: os.environ.get(k)
             for k in ("PYSPARK_PYTHON", "SPARK_GRAFT_PYSPARK_PYTHON")}
    if os.name == "posix" and os.access(WORKER_PYTHON, os.X_OK):
        os.environ["SPARK_GRAFT_PYSPARK_PYTHON"] = (saved["PYSPARK_PYTHON"]
                                                    or "python3")
        os.environ["PYSPARK_PYTHON"] = WORKER_PYTHON
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


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
        .config("spark.sql.session.timeZone", SESSION_TIME_ZONE)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local mode runs everything in the driver JVM; 8g showed multi-second
        # GC spikes on random queries at sf0.1 on a 128 GiB host
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory())
        .config("spark.driver.defaultJavaOptions",
                f"{JIT_POLICY} -Duser.timezone={SESSION_TIME_ZONE}")
        .config("spark.ui.enabled", "false")
        # the driver testdata stores `events.ts` as parquet TIMESTAMP(NANOS)
        # which Spark only reads via this legacy long mapping
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    with _worker_python():
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_session_confs(spark: SparkSession) -> None:
    """Set runtime confs this engine relies on, on an externally created session.

    The correctness driver hands us its own SparkSession; these confs are all
    runtime-settable.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", SESSION_TIME_ZONE)
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
