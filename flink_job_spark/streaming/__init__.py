"""Streaming twins of the batch operators (see SURVEY.md §2 row 40-43).

Each twin is kept as the batch-equals-stream proof of a registry key that
stays oracle-checked (tests/test_streaming.py). All ``foreachBatch`` sinks run
on one exactly-once mechanism, offsets commit only after the epoch's effect
is durable (mis:1019-1059, 151-160), spelled out once: :func:`drain` (the
availableNow drive loop), :func:`write_epoch` (the replay-idempotent epoch
write), ``scd2.generation_sink`` (the generation-versioned state fold) and
``dedup.admission_sink`` (admission against a persistent key store).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_job_spark.sinks.iceberg import TABLE_PROPERTIES


def with_file_cap(reader, max_files_per_trigger: int | None):
    """Apply maxFilesPerTrigger only when a cap is given: None means 'no
    per-trigger limit' (one big availableNow batch), never a silent
    coercion to 1-file micro-batches."""
    if max_files_per_trigger is not None:
        return reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader


def drain(stream_df: DataFrame, sink: Callable[[DataFrame, int], None],
          checkpoint_dir: str) -> None:
    """Drain all input available now through ``sink`` (a ``foreachBatch``
    body), then stop. The checkpoint makes it resumable: a re-run processes
    only input that arrived since, and an epoch whose sink raised is
    reprocessed on restart because its offsets never committed."""
    (stream_df.writeStream
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination())


def write_epoch(df: DataFrame, batch_id: int, out_dir: str,
                *partition_cols: str) -> None:
    """Write one epoch under ``out_dir/batch_id=N[/...]`` with dynamic
    partition overwrite: a REPLAYED epoch (crash before its offsets commit)
    overwrites its own partition instead of appending a duplicate copy.
    The codec is the table snapshots' (the Iceberg DDL's zstd, mis:907)."""
    (df.withColumn("batch_id", F.lit(batch_id))
        .write
        .partitionBy("batch_id", *partition_cols)
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", TABLE_PROPERTIES["write.parquet.compression-codec"])
        .mode("overwrite")
        .parquet(out_dir))
