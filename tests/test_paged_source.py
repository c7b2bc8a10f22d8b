"""The custom Python DataSource (sources/paged.py): page-partitioned batch
reads with floor/cutoff semantics, and exactly-once streaming resume via the
offset log — the reference's paginated-cursor contract on Spark's own source
machinery."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_job_spark.sources.paged import (
    PagedCursorReader,
    PagedCursorStreamReader,
    register_paged_source,
)
from flink_job_spark.streaming.ingest import stream_paged_ingest_audited


def _read(spark, **opts):
    register_paged_source(spark)
    r = spark.read.format("paged_cursor")
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_batch_read_full_range(spark):
    df = _read(spark, cutoff=250, fetch_size=100)
    assert df.count() == 251  # keys 0..250 inclusive (floor default -1)
    agg = df.agg(F.min("id").alias("lo"), F.max("id").alias("hi"),
                 F.count_distinct("id").alias("d")).collect()[0]
    assert (agg["lo"], agg["hi"], agg["d"]) == (0, 250, 251)
    row = df.filter(F.col("id") == 97).collect()[0]
    assert row["payload"].startswith("row-000000000097")
    assert row["bucket"] == 0


def test_batch_pages_become_partitions(spark):
    """fetch_size paging must parallelize: one Spark partition per page."""
    df = _read(spark, cutoff=999, fetch_size=100)
    assert df.rdd.getNumPartitions() == 10


def test_batch_floor_resume_skips_committed_keys(spark):
    """Key-floor resume (mis:1087): floor=599 reads exactly (599, 999]."""
    df = _read(spark, cutoff=999, fetch_size=100, floor=599)
    agg = df.agg(F.min("id").alias("lo"), F.max("id").alias("hi"),
                 F.count(F.lit(1)).alias("n")).collect()[0]
    assert (agg["lo"], agg["hi"], agg["n"]) == (600, 999, 400)


def test_batch_empty_window(spark):
    df = _read(spark, cutoff=100, floor=100)
    assert df.count() == 0


def test_stream_reads_once_and_resumes_from_checkpoint(spark, tmp_path):
    """availableNow drains all pages exactly once; a SECOND run over the
    same checkpoint admits nothing new — the offset log IS the resume
    floor, so restarts neither re-read nor skip."""
    register_paged_source(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run():
        q = (spark.readStream.format("paged_cursor")
             .option("cutoff", 500).option("fetch_size", 128).load()
             .writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run()
    first = spark.read.parquet(out)
    assert first.count() == 501
    assert first.select(F.count_distinct("id")).collect()[0][0] == 501

    run()  # same checkpoint: nothing new to admit
    again = spark.read.parquet(out)
    assert again.count() == 501, "restart re-read already-committed pages"


@pytest.mark.parametrize("reader", [PagedCursorReader, PagedCursorStreamReader])
@pytest.mark.parametrize("fetch_size", [0, -1])
def test_readers_reject_non_positive_fetch_size(reader, fetch_size):
    # a page of 0 keys never advances: the stream runner would loop forever
    with pytest.raises(ValueError, match="fetch_size"):
        reader({"cutoff": "10", "fetch_size": str(fetch_size)})


@pytest.mark.parametrize("fetch_size", [0, -1])
def test_stream_entry_rejects_non_positive_fetch_size_before_the_query(
        fetch_size, tmp_path):
    # no session: the check must come before anything touches Spark
    with pytest.raises(ValueError, match="fetch_size"):
        stream_paged_ingest_audited(None, 10, str(tmp_path / "t"),
                                    str(tmp_path / "c"), fetch_size=fetch_size)
