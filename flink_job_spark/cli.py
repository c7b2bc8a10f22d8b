"""CLI mirroring the reference job's arguments (mis:105-121):

  --table src[:dst]                     single-table run (mis:108)
  --tables src[:dst][,src2[:dst2]...]   table mappings (parseTableMappings mis:437-466)
  --source-dir                          parquet dir stand-in OR a live jdbc: URL
  --target-dir                          parquet target root (ignored with --catalog)
  --mode append|replace                 mis:114, 261-263
  --order-by col[,col2...]              per-table ordering/cutoff key override (mis:231-242)
  --src-system-code                     envelope stamp (mis:1115)
  --fail-on-consistency-error           mis:119-121
  --fetch-size                          JDBC cursor page size (mis:83, 116)
  --parallelism                         parallel key-range read partitions (mis:81, 115)
  --jdbc-user / --jdbc-pass             source credentials (mis:112-113)
  --catalog / --iceberg-db              Iceberg writer branch target (mis:111)
  --progress                            Spark's own per-task log line at INFO,
                                        e.g. "Finished task 1.0 in stage 0.0
                                        (TID 1) ... (2/4)" (mis:1120-1131)
  --source-format parquet|csv|json|orc  on-disk source format (engine extension;
                                        the reference reads JDBC only)

With a ``jdbc:`` source the flow is the reference's: metadata scan →
primary-key detection → frozen MAX watermark → pushed-down snapshot read
(mis:202-250), then the same envelope/write/audit pipeline. One ``MIN, MAX``
statement freezes the cutoff and the key-range bounds. All tables go through
one ``ingest_tables`` call: each table write is one Spark job, so the
reference's tables-per-job bound (``--batch-size``, mis:189-198) has no use.

Order-key fallback mirrors the reference (explicit → detected key → first
column, mis:231-242); for parquet stand-ins "detected key" is the
conventional `<t>_<prefix>key` first column of the TPC-H-ish testdata.

Run:  python -m flink_job_spark.cli --tables lineitem,orders \
        --source-dir /root/testdata/sf0.001 --target-dir /tmp/out --mode replace
"""

from __future__ import annotations

import argparse
import sys
from contextlib import contextmanager

from flink_job_spark.operators.envelope import DEFAULT_SRC_SYSTEM
from flink_job_spark.pipeline import ConsistencyError, IngestConfig, ingest_tables
from flink_job_spark.session import get_spark
from flink_job_spark.sources.jdbc import DEFAULT_FETCH_SIZE
from flink_job_spark.sources.tables import check_table_access, load_table


def parse_table_mappings(spec: str) -> list[tuple[str, str]]:
    """'a:b,c' → [(a,b),(c,c)] (mis:437-466)."""
    out = []
    for part in spec.split(","):
        part = part.strip()
        if not part:
            continue
        src, _, dst = part.partition(":")
        out.append((src.strip(), (dst or src).strip()))
    return out


def detect_order_key(columns: list[str]) -> str:
    """PK detection stand-in for parquet sources: first `*key` column, else
    first column (mis:598-626 falls back the same way)."""
    for c in columns:
        if c.lower().endswith("key"):
            return c
    return columns[0]


@contextmanager
def _task_progress_log(spark, enabled: bool):
    """Raise Spark's ``TaskSetManager`` logger to INFO while the block runs,
    then restore its level: one timestamped ``(k/n)`` line per finished task,
    the reference's progress print (mis:1120-1131) in Spark's unit of work.
    Ctrl-C needs nothing here: PySpark's SIGINT handler cancels all jobs."""
    if not enabled:
        yield
        return
    jvm = spark.sparkContext._jvm
    name = "org.apache.spark.scheduler.TaskSetManager"
    configurator = jvm.org.apache.logging.log4j.core.config.Configurator
    previous = jvm.org.apache.logging.log4j.LogManager.getLogger(name).getLevel()
    configurator.setLevel(name, jvm.org.apache.logging.log4j.Level.INFO)
    try:
        yield
    finally:
        configurator.setLevel(name, previous)


def _load_jdbc_table(spark, url, table, key_override, args, props):
    """The reference's per-table source flow (mis:202-250): metadata scan →
    PK detect → freeze MAX watermark → pushed-down parallel snapshot read.
    Returns (df, order_key, infos) or None if the access probe fails."""
    from flink_job_spark.sources.jdbc import JdbcSnapshotSource
    from flink_job_spark.sources.metadata import (
        detect_primary_key,
        read_key_bounds,
        read_table_metadata,
    )

    try:
        infos = read_table_metadata(spark, url, table, props)
    except Exception as e:  # access probe parity: skip, never crash (mis:494-525)
        print(f"SKIP  {table}: metadata scan failed: {e}", file=sys.stderr)
        return None
    if not infos:
        print(f"SKIP  {table}: no columns visible", file=sys.stderr)
        return None

    try:
        key = (key_override
               or detect_primary_key(spark, url, table, props)
               or infos[0].name)  # explicit → PK → first column (mis:231-242)
        # one MIN, MAX statement freezes the cutoff AND the partition bounds
        bounds = read_key_bounds(spark, url, table, key, properties=props)
        cutoff = None if bounds is None else bounds[1]
        by_name = {c.name: c for c in infos}
        src = JdbcSnapshotSource(
            url, table, [c.name for c in infos], key, cutoff=cutoff,
            fetch_size=args.fetch_size, num_partitions=args.parallelism,
            bounds=bounds, properties=props, infos=by_name)
        return src.reader(spark).load(), key, by_name
    except Exception as e:
        # same skip-never-crash contract as the metadata scan above: a table
        # dropped / permission revoked BETWEEN the scan and the watermark
        # read must not abort the remaining tables (mis:202-224)
        print(f"SKIP  {table}: source setup failed: {e}", file=sys.stderr)
        return None


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="flink_job_spark",
                                description="PySpark snapshot-ingest + audit engine")
    p.add_argument("--table", default=None, help="single table mapping (mis:108)")
    p.add_argument("--tables", default=None)
    p.add_argument("--source-dir", required=True,
                   help="parquet directory or jdbc: URL")
    p.add_argument("--target-dir", required=True)
    p.add_argument("--mode", choices=["append", "replace"], default="append")
    p.add_argument("--order-by", default=None,
                   help="comma list parallel to --tables; blank entries auto-detect")
    p.add_argument("--src-system-code", default=DEFAULT_SRC_SYSTEM)
    p.add_argument("--fail-on-consistency-error", action="store_true")
    p.add_argument("--fetch-size", type=int, default=DEFAULT_FETCH_SIZE)  # mis:116
    p.add_argument("--parallelism", type=int, default=2)      # mis:81, 115
    p.add_argument("--jdbc-user", default=None)               # mis:112
    p.add_argument("--jdbc-pass", default=None)               # mis:113
    p.add_argument("--catalog", default=None,
                   help="Iceberg catalog name: write via DDL+writeTo instead of parquet")
    p.add_argument("--iceberg-db", default="default")         # mis:111
    p.add_argument("--progress", action="store_true",
                   help="log each finished Spark task (TaskSetManager at INFO)")
    p.add_argument("--source-format", choices=["parquet", "csv", "json", "orc"],
                   default="parquet",
                   help="on-disk source format under --source-dir "
                        "(parquet reads <t>.parquet files; csv/json/orc read "
                        "<t>/ directories; ignored for jdbc: sources)")
    args = p.parse_args(argv)

    specs = ",".join(s for s in [args.table, args.tables] if s)
    mappings = parse_table_mappings(specs)
    if not mappings:
        print("no tables given: use --table or --tables", file=sys.stderr)
        return 2
    order_overrides = (args.order_by or "").split(",") if args.order_by else []

    spark = get_spark("flink_job_spark-cli")
    cfg = IngestConfig(mode=args.mode, src_system_code=args.src_system_code,
                       fail_on_consistency_error=args.fail_on_consistency_error,
                       catalog=args.catalog, database=args.iceberg_db)

    is_jdbc = args.source_dir.startswith("jdbc:")
    props = {}
    if args.jdbc_user:
        props["user"] = args.jdbc_user
    if args.jdbc_pass:
        props["password"] = args.jdbc_pass

    jobs = []
    skipped = 0
    for i, (src, dst) in enumerate(mappings):
        override = (order_overrides[i].strip()
                    if i < len(order_overrides) and order_overrides[i].strip()
                    else None)
        if is_jdbc:
            loaded = _load_jdbc_table(spark, args.source_dir, src, override,
                                      args, props)
            if loaded is None:
                skipped += 1
                continue
            df, key, infos = loaded
            jobs.append((df, src, f"{args.target_dir}/{dst}", key, infos))
        else:
            # access probe: skip unreadable tables, never crash the batch (mis:494-525)
            if not check_table_access(spark, args.source_dir, src, args.source_format):
                print(f"SKIP  {src}: access probe failed", file=sys.stderr)
                skipped += 1
                continue
            df = load_table(spark, args.source_dir, src, args.source_format)
            key = override or detect_order_key(df.columns)
            jobs.append((df, src, f"{args.target_dir}/{dst}", key, None))

    if not jobs:
        # every requested table was skipped: exit non-zero so schedulers see
        # a zero-rows-ingested run as a failure, not a green no-op
        print("FAIL  no tables ingestable (all skipped)", file=sys.stderr)
        return 1
    try:
        with _task_progress_log(spark, args.progress):
            results = ingest_tables(spark, jobs, cfg)
    except ConsistencyError as e:
        # --fail-on-consistency-error aborts the whole job, like the
        # reference's rethrown ConsistencyCheckException (mis:365-368)
        rep = e.report
        print(f"ABORT {e.table}: consistency check failed "
              f"read={rep.source_count} written={rep.target_count} "
              f"delta={rep.delta} hash_mismatches={rep.hash_mismatches}",
              file=sys.stderr)
        return 2
    failures = 0
    for r in results:
        if r.error:
            failures += 1
            print(f"FAIL  {r.table}: {r.error}", file=sys.stderr)
        else:
            rep = r.report
            status = "OK" if rep.ok else "INCONSISTENT"
            print(f"{status:5s} {r.table}: read={rep.source_count} "
                  f"written={rep.target_count} delta={rep.delta} "
                  f"hash_mismatches={rep.hash_mismatches} cutoff={r.cutoff}")
            if not rep.ok:
                failures += 1
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
