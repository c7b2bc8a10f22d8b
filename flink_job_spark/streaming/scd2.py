"""Streaming SCD2 upsert sink: apply each arriving snapshot micro-batch to a
generation-versioned type-2 dimension via ``foreachBatch``.

The reference only ever *replaces* the target from a snapshot; this sink is
the merge-shaped upgrade a warehouse user expects: every micro-batch is a new
full snapshot of the source table, and the dimension accumulates history
(close/reopen semantics from :func:`flink_job_spark.operators.diff.scd2_apply`).

Exactly-once without a transactional table format: each applied batch writes a
NEW generation directory ``gen=<batch_id>`` (never in-place), and the next
batch reads the latest generation strictly OLDER than itself. A retried batch
overwrites its own half-written generation — idempotent — and the offsets only
commit after the write succeeds, so a crash between write and commit replays
the batch onto the same parent generation. This is the same
commit-by-new-version discipline Iceberg/Delta formalize; at 100 TB you'd
swap the directory scheme for `MERGE INTO`/`writeTo` on a real table format
and keep the foreachBatch shape unchanged.
"""

from __future__ import annotations

import datetime as dt
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_job_spark.operators.diff import scd2_apply
from flink_job_spark.streaming import drain, with_file_cap

_GEN_RE = re.compile(r"^gen=(\d+)$")


def latest_generation(dim_root: str, before: int | None = None) -> int | None:
    """Largest committed generation id (< ``before`` if given), else None."""
    if not os.path.isdir(dim_root):
        return None
    gens = [int(m.group(1)) for d in os.listdir(dim_root)
            if (m := _GEN_RE.match(d))]
    if before is not None:
        gens = [g for g in gens if g < before]
    return max(gens, default=None)


def generation_sink(
    spark: SparkSession,
    state_root: str,
    step: Callable[[DataFrame, int, DataFrame | None], DataFrame],
) -> Callable[[DataFrame, int], None]:
    """The generation-versioned state fold as a ``foreachBatch`` body:
    ``step(batch_df, batch_id, parent)`` builds the new state from the
    micro-batch and the parent state (None for the first generation), and
    the result is written to ``gen=<batch_id>``. The parent is the newest
    generation strictly OLDER than the batch, so a replayed batch rebuilds
    its own half-written generation from the same parent instead of folding
    onto itself (which a non-idempotent merge like SCD2 would corrupt)."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        parent = latest_generation(state_root, before=batch_id)
        prev = (None if parent is None
                else spark.read.parquet(f"{state_root}/gen={parent}"))
        (step(batch_df, batch_id, prev)
            .write.mode("overwrite")  # retry-idempotent: own generation only
            .parquet(f"{state_root}/gen={batch_id}"))

    return fold


def read_latest_generation(spark: SparkSession, state_root: str) -> DataFrame:
    """The newest committed generation's state; raises ValueError if none."""
    gen = latest_generation(state_root)
    if gen is None:
        raise ValueError(f"no committed generation under {state_root}")
    return spark.read.parquet(f"{state_root}/gen={gen}")


def scd2_stream_apply(
    spark: SparkSession,
    src_dir: str,
    schema: T.StructType,
    dim_root: str,
    checkpoint_dir: str,
    key_cols: list[str],
    attr_cols: list[str],
    base_ts: dt.datetime,
) -> None:
    """Drain available snapshot files (availableNow) and fold each micro-batch
    into the SCD2 dimension under ``dim_root``.

    ``load_ts`` is ``base_ts + batch_id days`` — deterministic across retries
    (wall-clock stamps would break exactly-once replay). The first generation
    simply opens every row; later generations run the single-join-pass
    :func:`scd2_apply` against the previous generation.
    """
    # one snapshot file per micro-batch: a multi-file batch would union two
    # FULL snapshots (two rows per key) and corrupt the dimension; the option
    # must sit on the SOURCE — on writeStream it is silently ignored
    src = with_file_cap(spark.readStream.schema(schema), 1).parquet(src_dir)
    out_cols = [*key_cols, *attr_cols, "valid_from", "valid_to", "is_current"]

    def apply_batch(batch_df: DataFrame, batch_id: int,
                    prev: DataFrame | None) -> DataFrame:
        load_ts = base_ts + dt.timedelta(days=batch_id)
        snap = batch_df.select(*key_cols, *attr_cols)
        if prev is None:
            return snap.select(
                *key_cols, *attr_cols,
                F.lit(load_ts).cast("timestamp_ntz").alias("valid_from"),
                F.lit(None).cast("timestamp_ntz").alias("valid_to"),
                F.lit(True).alias("is_current"),
            )
        return scd2_apply(prev, snap, key_cols, attr_cols,
                          load_ts).select(*out_cols)

    drain(src, generation_sink(spark, dim_root, apply_batch), checkpoint_dir)
