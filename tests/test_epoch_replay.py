"""Replay of a crashed streaming epoch: the two replay claims of the shared
sink helpers that the end-to-end stream tests never exercise directly.

(a) the generation fold rebuilds a half-written generation from the
    generation before it, never from its own partial copy;
(b) the admission protocol, re-run for a batch whose keys landed but whose
    manifest entry did not, keeps that batch's unique verdicts unique."""

from __future__ import annotations

import datetime as dt
import os
import shutil

from pyspark.sql import functions as F

from flink_job_spark.sources.tables import load_table

OUT_COLS = ["n_nationkey", "n_name", "valid_from", "valid_to", "is_current"]


def test_generation_fold_replay_rebuilds_from_older_generation(spark, sf_dir, tmp_path):
    """SCD2's merge is not idempotent: folding batch 1 onto a partial gen=1
    would treat the missing keys as new inserts and reopen them at batch 1's
    load time. The replay must rebuild gen=1 from gen=0."""
    from flink_job_spark.operators.diff import scd2_apply
    from flink_job_spark.streaming.scd2 import latest_generation, scd2_stream_apply

    src, dim, ckpt = (str(tmp_path / p) for p in ("src", "dim", "ckpt"))
    base_ts = dt.datetime(2026, 1, 1)
    keys, attrs = ["n_nationkey"], ["n_name"]
    snap0 = load_table(spark, sf_dir, "nation").select(*keys, *attrs)
    snap1 = snap0.withColumn(
        "n_name", F.when(F.col("n_nationkey") % 5 == 0, F.lit("RENAMED"))
                   .otherwise(F.col("n_name")))

    snap0.coalesce(1).write.mode("append").parquet(src)
    scd2_stream_apply(spark, src, snap0.schema, dim, ckpt, keys, attrs, base_ts)
    assert latest_generation(dim) == 0
    gen0 = spark.read.parquet(f"{dim}/gen=0")

    # batch 1 crashed mid-write before its offsets committed: gen=1 holds
    # only part of a dimension
    gen0.filter(F.col("n_nationkey") < 10).write.parquet(f"{dim}/gen=1")
    snap1.coalesce(1).write.mode("append").parquet(src)
    scd2_stream_apply(spark, src, snap0.schema, dim, ckpt, keys, attrs, base_ts)
    assert latest_generation(dim) == 1

    expected = scd2_apply(gen0, snap1, keys, attrs, base_ts + dt.timedelta(days=1))
    got = spark.read.parquet(f"{dim}/gen=1")
    assert sorted(map(tuple, got.select(*OUT_COLS).collect())) == \
        sorted(map(tuple, expected.select(*OUT_COLS).collect()))
    # only the renamed keys opened a new version; none was re-inserted
    rows = got.collect()
    assert sum(r.valid_from != base_ts for r in rows) == \
        sum(not r.is_current for r in rows) == 5


def _verdicts(spark, out_dir: str, batch_id: int) -> list[tuple]:
    return sorted(map(tuple, spark.read.parquet(out_dir)
                      .filter(F.col("batch_id") == batch_id)
                      .select("doc_id", "content_key", "verdict").collect()))


def test_admission_replay_after_key_append_keeps_unique_verdicts(spark, sf_dir, tmp_path):
    """A crash between the key append and the manifest write leaves the
    batch's keys in the store but no manifest entry, so the batch replays.
    Its own keys must not count as historical on the replay."""
    from flink_job_spark.streaming.dedup import admission_sink

    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    admit = admission_sink(spark, state, out)

    admit(docs, 0)
    first = _verdicts(spark, out, 0)
    n_unique = sum(v == "unique" for _, _, v in first)
    assert n_unique > 0

    shutil.rmtree(os.path.join(state, "batches", "batch_id=0"))
    admit(docs, 0)
    assert _verdicts(spark, out, 0) == first

    # the keys did land: another batch of the same documents sees them all
    admit(docs, 1)
    assert {v for _, _, v in _verdicts(spark, out, 1)} == {"dup_historical"}
