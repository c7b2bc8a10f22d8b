"""Streaming KMV distinct sketches: maintain per-segment k-minimum-values
state across micro-batches via ``foreachBatch`` (the streaming twin of
queries/sketch.py::q_kmv_set_ops).

Same merge algebra that makes the HLL rollup (streaming/sketch.py) replay-
safe, but with a sketch that also supports INTERSECTION downstream: the KMV
union of two states is "concat, dedup, keep the K smallest", which is
commutative, associative, and idempotent — micro-batch boundaries don't
matter and a replayed batch merged twice is a no-op, so at-least-once
delivery yields exactly-once effect. Unlike HLL the whole pipeline is
DETERMINISTIC (md5 hashes, total order on the hash value): the streamed
final state is bit-equal to the batch sketch over the same rows, which the
twin test asserts as strict equality, not approximate agreement.

Generation-versioned state, as in streaming/scd2.py: each batch writes
``gen=<batch_id>``; a retried batch overwrites its own half-written
generation and re-merges onto the generation strictly older than itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_job_spark.functions.hashing import md5_u32
from flink_job_spark.queries.sketch import KMV_K
from flink_job_spark.streaming import drain, with_file_cap
from flink_job_spark.streaming.scd2 import generation_sink, read_latest_generation


def kmv_hash(col: str) -> F.Column:
    """The same 32-bit md5 lane as the batch key (one shared helper, so
    the batch/stream pair cannot drift) — determinism is what upgrades the
    twin test to strict equality."""
    return md5_u32(F.col(col).cast("string"))


def _kmv_trim(col: F.Column) -> F.Column:
    return F.slice(F.array_sort(F.array_distinct(col)), 1, KMV_K)


def _seg_sketches(batch: DataFrame, seg_col: str, value_col: str) -> DataFrame:
    """Per-segment KMV of one micro-batch: distinct hashes first (combine-
    enabled shuffle bounded by the batch's distinct values), then the
    K-smallest kept as the sketch array."""
    return (
        batch.select(F.col(seg_col).alias("seg"),
                     kmv_hash(value_col).alias("h"))
             .distinct()
             .groupBy("seg")
             .agg(_kmv_trim(F.collect_set("h")).alias("kmv"))
    )


def stream_kmv_sketches(
    spark: SparkSession,
    src_dir: str,
    schema: T.StructType,
    state_root: str,
    checkpoint_dir: str,
    seg_col: str,
    value_col: str,
    max_files_per_trigger: int | None = 1,
) -> None:
    """Drain available files (availableNow), folding each micro-batch's
    per-segment KMV into the generation-versioned state store."""

    def fold(batch_df: DataFrame, batch_id: int,
             prev: DataFrame | None) -> DataFrame:
        batch_kmv = _seg_sketches(batch_df, seg_col, value_col)
        if prev is None:
            return batch_kmv
        return (prev.unionByName(batch_kmv)
                    .groupBy("seg")
                    .agg(_kmv_trim(F.flatten(F.collect_list("kmv")))
                          .alias("kmv")))

    src = with_file_cap(spark.readStream.schema(schema),
                        max_files_per_trigger).parquet(src_dir)
    drain(src, generation_sink(spark, state_root, fold), checkpoint_dir)


def kmv_estimates(spark: SparkSession, state_root: str) -> DataFrame:
    """Distinct-count estimates per segment from the state store alone —
    |segments| input rows, zero source scans. est = (K-1)*2^32 / h_K, or
    the exact sketch size while the sketch isn't full (n < K => the sketch
    IS the distinct set)."""
    state = read_latest_generation(spark, state_root)
    n = F.size("kmv")
    hk = F.element_at("kmv", KMV_K)
    scale = float((KMV_K - 1) * 4294967296)
    return state.select(
        "seg", F.col("kmv"),
        F.when(n < KMV_K, n.cast("double"))
         .otherwise(F.lit(scale) / hk.cast("double")).alias("est_distinct"),
    )
