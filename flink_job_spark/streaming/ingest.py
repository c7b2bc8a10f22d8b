"""Structured Streaming snapshot ingest — the streaming-native recast of the
reference's exactly-once resumable source (SURVEY §2.7, milestone 3).

The reference implements exactly-once with a checkpointed row-offset
(`ListState<Long>` snapshot/restore, mis:1019-1059) and 60s EXACTLY_ONCE
checkpoints (mis:151-160). In Spark the whole mechanism IS the Structured
Streaming checkpoint: the source's offset log records what is committed;
`Trigger.AvailableNow` drains all available input then stops — a
restartable, exactly-once bounded snapshot, strictly stronger than SKIP-n
resume (offsets commit atomically with the sink epoch).

One core, :func:`stream_ingest`, takes any streaming DataFrame (a file
stream, the paged cursor), stamps it with the batch pipeline's own builder
(:func:`~flink_job_spark.operators.envelope.stamp`) and writes and audits
every epoch before its offsets commit. :func:`stream_paged_ingest_audited`
is a thin wrapper that builds the paged-cursor source and calls it.

The paged stream defaults to the reference's fetch size
(``DEFAULT_FETCH_SIZE``, mis:83): a page is one fetch and one Python task, so
a smaller page only adds fixed per-task cost.
"""

from __future__ import annotations

import datetime as dt

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from flink_job_spark.operators.audit import AuditReport, run_consistency_check
from flink_job_spark.operators.envelope import DEFAULT_SRC_SYSTEM, stamp, with_load_month
from flink_job_spark.pipeline import ConsistencyError
from flink_job_spark.sources.paged import (
    DEFAULT_FETCH_SIZE,
    check_fetch_size,
    register_paged_source,
)
from flink_job_spark.streaming import drain, write_epoch


def stream_ingest(
    stream_df: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    *,
    src_system_code: str = DEFAULT_SRC_SYSTEM,
    load_dttm: dt.datetime | None = None,
    fail_on_consistency_error: bool = True,
    row_hash: Column | None = None,
) -> list[AuditReport]:
    """availableNow ingest of ``stream_df`` with the batch pipeline's
    COUNT+mismatch gate wired into a ``foreachBatch`` sink: every micro-batch
    is stamped, written AND audited (dual-hash mismatch count, exact
    per-batch row count) before its offsets commit — the streaming twin of
    the post-load audit (mis:1264-1331). Re-running on the same checkpoint
    after new input arrives processes ONLY the new input (the resume
    semantics the reference builds by hand with SKIP-n); a rate-capped source
    drains in bounded epochs, each committing its own offsets.

    With ``fail_on_consistency_error`` a mismatching batch raises
    :class:`~flink_job_spark.pipeline.ConsistencyError` inside foreachBatch,
    which fails the streaming query BEFORE the offending batch's offsets are
    committed — on restart the batch is reprocessed, so corrupt data never
    silently advances the stream (the reference's rethrow semantics,
    mis:365-368, made exactly-once).

    ``row_hash`` overrides the source-side hash column. Without it both
    stored hashes are one expression (see
    :func:`~flink_job_spark.operators.envelope.stamp`), so the hash half of
    the audit fails only on an override. Returns the per-batch
    :class:`AuditReport` ledger."""
    stamped, names = stamp(stream_df, src_system_code, load_dttm, None, row_hash)
    reports: list[AuditReport] = []
    drain(with_load_month(stamped, names),
          _audited_batch_sink(stream_df.sparkSession, target_dir, names,
                              reports, fail_on_consistency_error),
          checkpoint_dir)
    return reports


def _audited_batch_sink(spark: SparkSession, target_dir: str, names: dict,
                        reports: list, fail_on_consistency_error: bool):
    """The write-and-audit ``foreachBatch`` body: replay-idempotent epoch
    write (a retry after the ConsistencyError path overwrites its own
    partition), then audit what actually LANDED (re-read from the sink)
    before the epoch's offsets may commit.

    The epoch is read from its source once: its row count is an
    ``Observation`` on the write itself, and the audit re-reads only the
    epoch's own ``batch_id=N`` partition, so neither cost grows with the
    number of epochs already in the target."""

    def write_and_audit(batch_df: DataFrame, batch_id: int) -> None:
        obs = Observation()
        write_epoch(batch_df.observe(obs, F.count(F.lit(1)).alias("rows")),
                    batch_id, target_dir, "load_month")
        report = run_consistency_check(
            f"batch:{batch_id}", obs.get["rows"],
            _read_epoch(spark, batch_df.schema, target_dir, batch_id), None,
            h1=names["row_hash"], h2=names["row_hash_iceberg"])
        reports.append(report)
        if not report.ok and fail_on_consistency_error:
            raise ConsistencyError(f"batch:{batch_id}", report)

    return write_and_audit


def _read_epoch(spark: SparkSession, schema: StructType, target_dir: str,
                batch_id: int) -> DataFrame:
    """Re-read what epoch ``batch_id`` landed, with the schema it was written
    with: an epoch without rows writes no data files to infer a schema from,
    and no ``batch_id=N`` directory at all, which reads as empty."""
    try:
        return spark.read.schema(schema).parquet(f"{target_dir}/batch_id={batch_id}")
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return spark.createDataFrame([], schema)


def stream_paged_ingest_audited(
    spark: SparkSession,
    cutoff: int,
    target_dir: str,
    checkpoint_dir: str,
    fetch_size: int = DEFAULT_FETCH_SIZE,
    src_system_code: str = DEFAULT_SRC_SYSTEM,
    load_dttm: dt.datetime | None = None,
    fail_on_consistency_error: bool = True,
    row_hash=None,
):
    """The FULL reference-pipeline streaming twin, end to end: the paged
    keyed-cursor SOURCE (sources/paged.py — the reference's fetch-size-paged
    JDBC read whose streaming offset log carries the last committed key)
    fed to :func:`stream_ingest` (per-epoch COUNT + dual-hash mismatch gate
    before offsets commit).

    Semantics under failure, proven in tests/test_streaming.py:
    - a restart with a HIGHER cutoff and the same checkpoint reads only
      (committed_key, new_cutoff] — nothing re-read, nothing skipped;
    - an injected hash corruption raises ConsistencyError inside
      foreachBatch BEFORE the epoch's offsets commit, so a corrected restart
      reprocesses that epoch and the sink holds each key exactly once.

    Returns the per-batch :class:`AuditReport` ledger. A ``fetch_size`` below
    1 raises ``ValueError`` before the query starts."""
    check_fetch_size(fetch_size)
    register_paged_source(spark)
    src = (
        spark.readStream.format("paged_cursor")
        .option("cutoff", cutoff)
        .option("fetch_size", fetch_size)
        .load()
    )
    return stream_ingest(
        src, target_dir, checkpoint_dir, src_system_code=src_system_code,
        load_dttm=load_dttm, fail_on_consistency_error=fail_on_consistency_error,
        row_hash=row_hash)
