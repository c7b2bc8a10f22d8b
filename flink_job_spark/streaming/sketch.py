"""Streaming mergeable-sketch rollup: maintain per-day Datasketches HLL
states across micro-batches via ``foreachBatch`` (the streaming twin of
queries/sketch.py::q_sketch_rollup).

The incremental-dashboard pattern at 100 TB: the raw event stream is touched
ONCE — each micro-batch reduces to |days-in-batch| HLL sketch binaries — and
every later question ("distinct users this week/month/quarter?") is answered
by unioning stored day states, never by re-scanning events. What makes HLL
(and not, say, a distinct-set) the right state is the merge algebra: the
union of two HLL states is register-wise max, which is commutative,
associative, and idempotent, so

* micro-batch boundaries don't matter (any partition of the stream merges to
  the same registers), and
* a REPLAYED batch merged twice is harmless — max(x, x) = x — which gives
  exactly-once EFFECT from at-least-once delivery for free.

Generation-versioned state (same commit-by-new-version discipline as
streaming/scd2.py): each batch writes ``gen=<batch_id>`` with the merged
day sketches; a retried batch overwrites its own half-written generation and
re-merges onto the generation strictly older than itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_job_spark.queries.sketch import HLL_LGK, iso_week_key
from flink_job_spark.streaming import drain, with_file_cap
from flink_job_spark.streaming.scd2 import generation_sink, read_latest_generation


def _day_sketches(batch: DataFrame) -> DataFrame:
    return (
        batch.select(F.col("ts").cast("date").alias("day"), "user_id")
             .groupBy("day")
             .agg(F.hll_sketch_agg("user_id", F.lit(HLL_LGK)).alias("sketch"))
    )


def stream_sketch_rollup(
    spark: SparkSession,
    src_dir: str,
    schema: T.StructType,
    state_root: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = 1,
) -> None:
    """Drain available event files (availableNow), folding each micro-batch's
    day sketches into the generation-versioned day-state store."""

    def fold(batch_df: DataFrame, batch_id: int,
             prev: DataFrame | None) -> DataFrame:
        batch_days = _day_sketches(batch_df)
        if prev is None:
            return batch_days
        return (prev.unionByName(batch_days)
                    .groupBy("day")
                    .agg(F.hll_union_agg("sketch").alias("sketch")))

    src = with_file_cap(spark.readStream.schema(schema),
                        max_files_per_trigger).parquet(src_dir)
    drain(src, generation_sink(spark, state_root, fold), checkpoint_dir)


def weekly_estimates(spark: SparkSession, state_root: str) -> DataFrame:
    """Answer 'distinct users per ISO week' from the day-sketch store alone —
    |days| input rows, zero event scans."""
    return (
        read_latest_generation(spark, state_root).groupBy(iso_week_key("day").alias("week"))
             .agg(F.hll_sketch_estimate(F.hll_union_agg("sketch"))
                   .cast("bigint").alias("approx_users"))
    )
