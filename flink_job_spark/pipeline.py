"""End-to-end snapshot-ingest pipeline: the Spark-native equivalent of the
reference's per-table flow (mis:202-297) + post-load audit (mis:1264-1331).

Per table:
1. freeze the cut: cutoff MAX(order_col) and the baseline source COUNT under
   it from ONE aggregate pass (mis:628-643 + mis:1362-1383); a resume from a
   key floor cuts, writes and audits only keys above the floor
2. snapshot scan: explicit columns, cutoff predicate  (mis:1076-1088)
3. stamp the 11-tech-column envelope; row_hash via the Column-expression
   implementation                                     (mis:1107-1119)
4. write parquet partitioned by month(load_dttm) — the local stand-in for
   the Iceberg DDL (month partitioning mis:905, 512 MB target files mis:908),
   with the codec read from the Iceberg table properties (zstd, mis:907);
   computing row_hash_iceberg DURING the write via the SQL-string builder
   (mis:918-939), which Catalyst resolves to the same expression as
   row_hash, so the hash compare fails only on an overridden row_hash
5. re-read the target and run the COUNT+mismatch audit over the range the
   scan wrote (mis:1385-1411)

Failure isolation: per-table try/except, like the reference's skip-on-failure
loop (mis:207-224, 309-359). An append whose columns or column types differ
from the existing target fails its table before any write (SchemaDriftError);
a new schema takes ``replace``, the reference's drop/replace (mis:261-263).
"""

from __future__ import annotations

import datetime as dt
import logging
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_job_spark.operators.audit import AuditReport, run_consistency_check
from flink_job_spark.operators.envelope import DEFAULT_SRC_SYSTEM, stamp, with_load_month
from flink_job_spark.operators.snapshot import freeze_cut, resume_predicate, snapshot_scan
from flink_job_spark.sinks.iceberg import TABLE_PROPERTIES, iceberg_write
from flink_job_spark.types import ColumnInfo, quote_identifier

log = logging.getLogger(__name__)


class SchemaDriftError(RuntimeError):
    """Raised when an append-mode snapshot's columns or column types no longer
    match the existing target, before anything is written. The reference
    sidesteps drift by drop/replace (mis:261-263); ``replace`` mode is the way
    to a new schema here too. ``changed`` maps a column to its (target, new)
    type strings."""

    def __init__(self, table: str, added: set[str], removed: set[str],
                 changed: dict[str, tuple[str, str]]):
        retyped = [f"{c}: {old} -> {new}" for c, (old, new) in sorted(changed.items())]
        super().__init__(
            f"schema drift for {table}: added={sorted(added)} removed={sorted(removed)} "
            f"changed={retyped}")
        self.table = table
        self.added = added
        self.removed = removed
        self.changed = changed


class ConsistencyError(RuntimeError):
    """Raised when the post-load audit fails and fail_on_consistency_error is
    set. Escapes the per-table failure isolation and aborts the whole batch,
    like the reference's rethrown ConsistencyCheckException (mis:365-368).
    Carries the failing AuditReport so the caller can print the numbers."""

    def __init__(self, table: str, report: "AuditReport | None" = None):
        if report is not None:
            msg = (f"consistency check failed for {table}: delta={report.delta} "
                   f"hash_mismatches={report.hash_mismatches}")
        else:   # message-only form (quality-gate rule failures carry no report)
            msg = f"consistency check failed: {table}"
        super().__init__(msg)
        self.table = table
        self.report = report


@dataclass
class IngestResult:
    table: str
    cutoff: Any
    report: AuditReport | None
    error: str | None = None

    @property
    def ok(self) -> bool:
        return self.error is None and self.report is not None and self.report.ok


@dataclass
class IngestConfig:
    """What a caller sets for a snapshot. The landed row count comes back in
    ``IngestResult.report.target_count``; task progress is Spark's own log
    (the CLI's ``--progress``)."""

    mode: str = "append"                 # append | replace (mis:114, 261-263)
    src_system_code: str = DEFAULT_SRC_SYSTEM
    fail_on_consistency_error: bool = False  # mis:119-121
    load_dttm: dt.datetime | None = None  # fixed for deterministic tests
    infos: dict[str, ColumnInfo] = field(default_factory=dict)
    # Iceberg writer branch (mis:886-939): when catalog is set, the target is
    # <catalog>.<database>.<table> via DDL + writeTo instead of parquet files.
    # Requires the Iceberg Spark runtime on the classpath.
    catalog: str | None = None
    database: str = "default"


def _detect_schema_drift(spark, target_path, new_schema):
    """(added, removed, changed) vs the existing target, or None when the
    target doesn't exist yet / schemas agree. ``changed`` maps each common
    column whose type differs to its (target, new) ``simpleString``, so
    nullability is ignored: a retyped column would land files that no later
    read of the target can decode. Reads footers only."""
    from pyspark.errors import AnalysisException

    try:
        existing = {f.name: f.dataType.simpleString()
                    for f in spark.read.parquet(target_path).schema.fields}
    except AnalysisException:  # first load: no target yet (PATH_NOT_FOUND)
        return None
    # any OTHER failure (transient storage/permission error) must propagate:
    # treating it as "no target" would silently skip drift detection and
    # append a drifted schema
    new = {f.name: f.dataType.simpleString() for f in new_schema.fields}
    if existing == new:
        return None
    changed = {c: (existing[c], t) for c, t in new.items()
               if c in existing and existing[c] != t}
    return new.keys() - existing.keys(), existing.keys() - new.keys(), changed


def snapshot_ingest(
    spark: SparkSession,
    source: DataFrame,
    table: str,
    target_path: str,
    order_col: str,
    config: IngestConfig | None = None,
    floor: Any = None,
) -> IngestResult:
    cfg = config or IngestConfig()
    try:
        # a resume (floor) cuts, writes and audits the same range: (floor, cutoff]
        cut_source = (source if floor is None
                      else source.filter(F.col(order_col) > F.lit(floor)))
        cutoff, src_count = freeze_cut(cut_source, order_col)

        scan = snapshot_scan(source, list(source.columns), order_col, cutoff,
                             floor=floor, ordered=False)
        hashed, names = stamp(scan, cfg.src_system_code, cfg.load_dttm, cfg.infos)

        if cfg.catalog:
            # Iceberg branch: DDL (month hidden partitioning, zstd, 512 MB,
            # v2, retention — mis:886-913) + writeTo append/overwrite
            iceberg_write(spark, hashed, cfg.catalog, cfg.database, table,
                          scan.schema, cfg.mode)
            target = spark.table(
                f"{quote_identifier(cfg.catalog)}."
                f"{quote_identifier(cfg.database)}.{quote_identifier(table)}")
        else:
            to_write = with_load_month(hashed, names)
            drift = _detect_schema_drift(spark, target_path, to_write.schema) \
                if cfg.mode == "append" else None
            if drift:
                raise SchemaDriftError(table, *drift)
            (to_write.write
                .partitionBy("load_month")
                # one codec for both writers: the Iceberg DDL's (mis:907)
                .option("compression",
                        TABLE_PROPERTIES["write.parquet.compression-codec"])
                .mode("overwrite" if cfg.mode == "replace" else "append")
                .parquet(target_path))
            # explicit schema: an empty snapshot writes no data files to
            # infer from
            target = spark.read.schema(to_write.schema).parquet(target_path)
        report = run_consistency_check(
            table, src_count, target, resume_predicate(order_col, cutoff, floor),
            h1=names["row_hash"], h2=names["row_hash_iceberg"])
        if not report.ok:
            if cfg.fail_on_consistency_error:
                # escapes the blanket isolation below and aborts the batch,
                # like the reference's rethrow (mis:365-368)
                raise ConsistencyError(table, report)
            log.error("consistency check failed for %s: delta=%d hash_mismatches=%d",
                      table, report.delta, report.hash_mismatches)
        return IngestResult(table, cutoff, report)
    except ConsistencyError:
        raise
    except Exception as e:  # per-table failure isolation (mis:207-224)
        log.exception("ingest failed for table %s", table)
        return IngestResult(table, None, None, error=str(e))


def ingest_tables(
    spark: SparkSession,
    tables: list[tuple],  # (df, name, target_path, order_col[, infos])
    config: IngestConfig | None = None,
) -> list[IngestResult]:
    """Multi-table loop with per-table failure isolation and running totals
    (the reference's batch loop, mis:189-198, 299-359). A 5th tuple element
    carries per-table ColumnInfo metadata (live JDBC sources)."""
    import dataclasses

    results = []
    for item in tables:
        df, name, path, key = item[:4]
        infos = item[4] if len(item) > 4 and item[4] else None
        cfg = (dataclasses.replace(config or IngestConfig(), infos=infos)
               if infos else config)
        results.append(snapshot_ingest(spark, df, name, path, key, cfg))
    total_read = sum(r.report.source_count for r in results if r.report)
    total_written = sum(r.report.target_count for r in results if r.report)
    log.info("ingest totals: rows_read=%d rows_written=%d delta=%d failures=%d",
             total_read, total_written, total_written - total_read,
             sum(1 for r in results if r.error))
    return results
