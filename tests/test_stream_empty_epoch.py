"""An epoch without rows writes no data files. Its audit must still read an
empty result (0/0, ok) and the stream must go on to the next epoch."""

from __future__ import annotations

import datetime as dt
import glob
import os

from pyspark.sql import functions as F

from flink_job_spark.sources.tables import load_table
from flink_job_spark.streaming.ingest import stream_ingest


def test_stream_ingest_survives_an_empty_first_epoch(spark, sf_dir, tmp_path):
    src, tgt, ckpt = (str(tmp_path / p) for p in ("src", "tgt", "ckpt"))
    nat = load_table(spark, sf_dir, "nation")
    nat.limit(0).coalesce(1).write.parquet(src)
    nat.coalesce(1).write.mode("append").parquet(src)
    # the file stream takes files oldest first: make the empty (smaller) one
    # epoch 0
    files = sorted(glob.glob(os.path.join(src, "*.parquet")), key=os.path.getsize)
    assert len(files) == 2
    os.utime(files[0], (1_000_000, 1_000_000))
    os.utime(files[1], (2_000_000, 2_000_000))

    reports = stream_ingest(
        spark.readStream.schema(nat.schema).option("maxFilesPerTrigger", 1).parquet(src),
        tgt, ckpt, load_dttm=dt.datetime(2026, 1, 1))

    n = nat.count()
    assert [(r.source_count, r.target_count, r.ok) for r in reports] == \
        [(0, 0, True), (n, n, True)]
    t = spark.read.parquet(tgt)
    assert t.count() == n
    assert t.filter(F.lower("row_hash") != F.lower("row_hash_iceberg")).count() == 0
