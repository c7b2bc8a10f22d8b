"""Structured Streaming tests: availableNow resumable ingest (exactly-once
resume semantics) and watermark-windowed aggs vs their batch twins."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from flink_job_spark.sources.tables import load_table
from flink_job_spark.streaming import with_file_cap
from flink_job_spark.streaming.ingest import stream_ingest
from flink_job_spark.streaming.windows import (
    stream_dedup,
    stream_session_agg,
    stream_sliding_agg,
    stream_tumbling_agg,
)


def _events_micro(spark, sf_dir, tmp_path):
    """Materialize events with µs timestamps (streaming reader needs a plain
    readable schema, not the nanos legacy path)."""
    path = str(tmp_path / "events_src")
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(path)
    return path


def test_stream_ingest_and_resume(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    ckpt = str(tmp_path / "ckpt")
    li = load_table(spark, sf_dir, "lineitem")
    first = li.filter(F.col("l_orderkey") <= 700)
    rest = li.filter(F.col("l_orderkey") > 700)

    first.write.mode("overwrite").parquet(src)
    stream_ingest(spark.readStream.schema(first.schema).parquet(src), tgt, ckpt,
                  load_dttm=dt.datetime(2026, 1, 1))
    t1 = spark.read.parquet(tgt)
    assert t1.count() == first.count()

    # "new data arrives" → second availableNow run processes ONLY new files
    rest.write.mode("append").parquet(src)
    stream_ingest(spark.readStream.schema(first.schema).parquet(src), tgt, ckpt,
                  load_dttm=dt.datetime(2026, 1, 1))
    t2 = spark.read.parquet(tgt)
    assert t2.count() == li.count()  # no reprocessing, no loss
    # dual hashes agree on the streamed envelope too
    assert t2.filter(F.lower("row_hash") != F.lower("row_hash_iceberg")).count() == 0
    assert t2.filter(F.col("op") != "INITIAL").count() == 0


def test_stream_audited_ingest_clean(spark, sf_dir, tmp_path):
    """foreachBatch audit: a clean stream writes + audits every micro-batch
    and the ledger shows zero mismatches."""
    src, tgt, ckpt = (str(tmp_path / p) for p in ("src", "tgt", "ckpt"))
    nat = load_table(spark, sf_dir, "nation")
    nat.write.mode("overwrite").parquet(src)
    reports = stream_ingest(
        spark.readStream.schema(nat.schema).parquet(src), tgt, ckpt,
        load_dttm=dt.datetime(2026, 1, 1))
    assert reports and all(r.ok for r in reports)
    assert sum(r.target_count for r in reports) == nat.count()
    t = spark.read.parquet(tgt)
    assert t.count() == nat.count()
    assert t.filter(F.lower("row_hash") != F.lower("row_hash_iceberg")).count() == 0


def test_stream_audited_ingest_catches_corruption(spark, sf_dir, tmp_path):
    """An injected dual-hash divergence (source-side hash computed over a
    corrupted copy, the reference's audit scenario) fails the streaming query
    before offsets commit; without the flag it is reported, not raised."""
    import pytest
    from pyspark.sql.streaming import StreamingQueryException

    from flink_job_spark.functions.hashing import TOKEN_SEP, hash_token_column

    src = str(tmp_path / "src")
    nat = load_table(spark, sf_dir, "nation")
    nat.write.mode("overwrite").parquet(src)

    # source-side hash whose n_name token reads a corrupted value for every
    # 5th key — the dual-hash divergence the audit exists to catch
    corrupted = F.when(F.col("n_nationkey") % 5 == 0,
                       F.concat(F.col("n_name"), F.lit("_X"))
                       ).otherwise(F.col("n_name"))
    dtypes = {f.name: f.dataType for f in nat.schema.fields}
    tokens = [hash_token_column(corrupted if n == "n_name" else F.col(n), dtypes[n])
              for n in nat.columns]
    bad_hash = F.md5(F.concat_ws(TOKEN_SEP, *tokens))

    with pytest.raises(StreamingQueryException, match="(?i)consistency"):
        stream_ingest(
            spark.readStream.schema(nat.schema).parquet(src),
            str(tmp_path / "tgt1"), str(tmp_path / "c1"),
            load_dttm=dt.datetime(2026, 1, 1), row_hash=bad_hash)

    # the failed batch's offsets never committed: the checkpoint has no
    # committed batch, so a clean re-run reprocesses everything
    reports = stream_ingest(
        spark.readStream.schema(nat.schema).parquet(src),
        str(tmp_path / "tgt2"), str(tmp_path / "c2"),
        load_dttm=dt.datetime(2026, 1, 1), row_hash=bad_hash,
        fail_on_consistency_error=False)
    assert reports and any(not r.ok for r in reports)
    assert sum(r.hash_mismatches for r in reports) == nat.filter(
        F.col("n_nationkey") % 5 == 0).count()


def test_stream_tumbling_matches_batch(spark, sf_dir, tmp_path):
    src = _events_micro(spark, sf_dir, tmp_path)
    events = load_table(spark, sf_dir, "events")
    schema = events.schema
    stream = spark.readStream.schema(schema).parquet(src)
    out = stream_tumbling_agg(stream)
    q = (out.writeStream.format("memory").queryName("tumb")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.sql("SELECT * FROM tumb")
    from flink_job_spark.queries.windows import q_window_tumbling
    exp = q_window_tumbling(spark, sf_dir)
    # append mode emits only watermark-closed windows; with availableNow over a
    # bounded input the final watermark closes all but the last window(s)
    assert got.count() >= exp.count() - 2
    # every emitted window must agree exactly with the batch twin
    exp2 = (exp.withColumnRenamed("n_events", "e_n")
               .withColumnRenamed("sum_value", "e_sum"))
    j = got.join(exp2, ["window_start", "window_end", "event_type"], "inner")
    assert j.count() == got.count()
    assert j.filter((F.col("n_events") != F.col("e_n"))
                    | (F.col("sum_value") != F.col("e_sum"))).count() == 0


def test_stream_sliding_matches_batch(spark, sf_dir, tmp_path):
    src = _events_micro(spark, sf_dir, tmp_path)
    events = load_table(spark, sf_dir, "events")
    stream = spark.readStream.schema(events.schema).parquet(src)
    out = stream_sliding_agg(stream)
    q = (out.writeStream.format("memory").queryName("slid")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.sql("SELECT * FROM slid")
    from flink_job_spark.queries.windows import q_window_sliding
    exp = (q_window_sliding(spark, sf_dir)
           .withColumnRenamed("n_events", "e_n")
           .withColumnRenamed("sum_value", "e_sum"))
    # complete mode emits every window; must match the batch twin exactly
    assert got.count() == exp.count()
    j = got.join(exp, ["window_start", "window_end"], "inner")
    assert j.count() == got.count()
    assert j.filter((F.col("n_events") != F.col("e_n"))
                    | (F.col("sum_value") != F.col("e_sum"))).count() == 0


def test_stateful_user_stats_matches_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState running stats: the LAST update per user on a
    bounded stream must equal the batch groupBy answer."""
    from flink_job_spark.streaming.stateful import stream_user_stats

    src = _events_micro(spark, sf_dir, tmp_path)
    events = load_table(spark, sf_dir, "events")
    stream = spark.readStream.schema(events.schema).parquet(src)
    out = stream_user_stats(stream)
    q = (out.writeStream.format("memory").queryName("ustats")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination()
    # update mode appends one row per key per micro-batch; the running counter
    # is monotone, so max(n_events) per user is the final state
    got = (spark.sql("SELECT * FROM ustats")
           .groupBy("user_id")
           .agg(F.max("n_events").alias("n_events"),
                F.max("max_value").alias("max_value")))
    exp = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("e_n"), F.max("value").alias("e_mx"))
    j = got.join(exp, "user_id", "full_outer")
    assert j.filter(F.col("n_events").isNull() | F.col("e_n").isNull()).count() == 0
    assert j.filter((F.col("n_events") != F.col("e_n"))
                    | (F.col("max_value") != F.col("e_mx"))).count() == 0


def test_stream_session_and_dedup_run(spark, sf_dir, tmp_path):
    src = _events_micro(spark, sf_dir, tmp_path)
    events = load_table(spark, sf_dir, "events")
    stream = spark.readStream.schema(events.schema).parquet(src)

    out = stream_session_agg(stream)
    q = (out.writeStream.format("memory").queryName("sess")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    sess = spark.sql("SELECT * FROM sess")
    from flink_job_spark.queries.windows import q_session_window
    exp = q_session_window(spark, sf_dir)
    assert sess.count() == exp.count()

    stream2 = spark.readStream.schema(events.schema).parquet(src)
    ded = stream_dedup(stream2)
    q2 = (ded.writeStream.format("memory").queryName("ded")
          .outputMode("append").trigger(availableNow=True).start())
    q2.awaitTermination()
    got = spark.sql("SELECT * FROM ded")
    exp_keys = events.select("user_id", "event_type").distinct().count()
    assert got.count() == exp_keys


def test_stream_static_enrich_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-static broadcast enrichment: streamed events joined to a static
    user dimension equal the batch join, and the stream side plans no
    stateful operator (no watermark needed)."""
    from flink_job_spark.streaming.windows import stream_enrich_join

    src = _events_micro(spark, sf_dir, tmp_path)
    ev_batch = spark.read.parquet(src)
    dim = (ev_batch.groupBy("user_id")
           .agg(F.min("ts").alias("first_seen")))  # static per-user attribute

    stream = spark.readStream.schema(ev_batch.schema).parquet(src)
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (stream_enrich_join(stream, dim, "user_id")
         .writeStream.format("parquet")
         .option("path", out_dir).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()

    got = spark.read.parquet(out_dir)
    want = stream_enrich_join(ev_batch, dim, "user_id")
    assert got.count() == ev_batch.count()
    # row-level equality with the batch twin
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    assert got.filter(F.col("first_seen").isNull()).count() == 0


def test_stream_interval_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-stream interval join (bounded-state): availableNow over a
    bounded input must produce exactly the batch interval-join rows."""
    from flink_job_spark.streaming.windows import stream_interval_join

    src = _events_micro(spark, sf_dir, tmp_path)
    ev = spark.read.parquet(src)
    schema = ev.schema

    sl = spark.readStream.schema(schema).parquet(src)
    sr = spark.readStream.schema(schema).parquet(src)
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (stream_interval_join(sl, sr, "user_id", upper="5 minutes", exclude_same_id=True)
         .writeStream.format("parquet")
         .option("path", out_dir).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.read.parquet(out_dir)

    want = stream_interval_join(ev, ev, "user_id", upper="5 minutes", exclude_same_id=True)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_scd2_stream_apply_two_snapshots(spark, sf_dir, tmp_path):
    """Two snapshot files → two micro-batches folded into a generation-
    versioned SCD2 dimension; the final generation must equal applying the
    second snapshot to the first with the batch operator directly."""
    from flink_job_spark.operators.diff import scd2_apply
    from flink_job_spark.streaming.scd2 import latest_generation, scd2_stream_apply

    src = str(tmp_path / "snap_src")
    dim_root = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")
    base_ts = dt.datetime(2026, 3, 1)
    keys, attrs = ["c_custkey"], ["c_acctbal", "c_mktsegment"]

    snap1 = load_table(spark, sf_dir, "customer").select(*keys, *attrs)
    snap2 = (
        snap1.filter(F.col("c_custkey") % 11 != 0)
        .withColumn("c_acctbal",
                    F.when(F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 1)
                     .otherwise(F.col("c_acctbal")))
    )

    snap1.coalesce(1).write.mode("overwrite").parquet(src)
    scd2_stream_apply(spark, src, snap1.schema, dim_root, ckpt,
                      keys, attrs, base_ts)
    assert latest_generation(dim_root) == 0
    gen0 = spark.read.parquet(f"{dim_root}/gen=0")
    assert gen0.count() == snap1.count()            # all rows open
    assert gen0.filter(~F.col("is_current")).count() == 0

    snap2.coalesce(1).write.mode("append").parquet(src)
    scd2_stream_apply(spark, src, snap1.schema, dim_root, ckpt,
                      keys, attrs, base_ts)
    assert latest_generation(dim_root) == 1

    expected = scd2_apply(gen0, snap2, keys, attrs,
                          base_ts + dt.timedelta(days=1))
    got = spark.read.parquet(f"{dim_root}/gen=1")
    cols = [*keys, *attrs, "valid_from", "valid_to", "is_current"]
    assert sorted(map(tuple, got.select(*cols).collect())) == \
           sorted(map(tuple, expected.select(*cols).collect()))


def test_stream_rate_limited_ingest_bounded_batches(spark, sf_dir, tmp_path):
    """maxFilesPerTrigger=2 over an 8-file source: availableNow drains in ≥4
    bounded micro-batches (each its own committed epoch) and the result is
    byte-identical to the unbounded drain — ingestion-rate control without
    correctness cost (the reference's backpressure analog, SURVEY §2.7 #44)."""
    import os

    src = str(tmp_path / "src")
    tgt = str(tmp_path / "tgt")
    ckpt = str(tmp_path / "ckpt")
    li = load_table(spark, sf_dir, "lineitem")
    li.repartition(8).write.mode("overwrite").parquet(src)

    stream_ingest(with_file_cap(spark.readStream.schema(li.schema), 2).parquet(src),
                  tgt, ckpt, load_dttm=dt.datetime(2026, 1, 1))
    got = spark.read.parquet(tgt)
    assert got.count() == li.count()
    assert got.filter(F.lower("row_hash") != F.lower("row_hash_iceberg")).count() == 0
    # the offset log proves the drain was split into bounded epochs
    n_epochs = len([f for f in os.listdir(os.path.join(ckpt, "offsets"))
                    if not f.startswith(".")])
    assert n_epochs >= 4, f"expected >=4 bounded micro-batches, got {n_epochs}"


def test_stream_sessionize_emits_closed_sessions(spark, sf_dir, tmp_path):
    """Closed sessions (in-data gap > 30 min) are emitted exactly once and
    match the batch gaps-and-islands twin; the final still-open session per
    user stays in state (availableNow ends before its timeout can fire) —
    so streaming emits exactly (batch_sessions - 1) rows per user."""
    from flink_job_spark.streaming.stateful import stream_sessionize

    src = _events_micro(spark, sf_dir, tmp_path)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    out = str(tmp_path / "sessions_out")
    ckpt = str(tmp_path / "sessions_ckpt")
    q = (stream_sessionize(stream).writeStream
         .format("parquet").option("path", out)
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.read.schema(
        "user_id long, session_start timestamp, session_end timestamp, n_events long"
    ).parquet(out)

    # batch twin: gaps-and-islands sessions per user
    e = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.unix_micros(F.col("ts").cast("timestamp"))
           - F.unix_micros(F.lag("ts").over(w).cast("timestamp")))
    sess = (
        e.withColumn("new_sess",
                     (gap.isNull() | (gap > 30 * 60 * 1_000_000)).cast("int"))
         .withColumn("sess_id", F.sum("new_sess").over(w))
         .groupBy("user_id", "sess_id")
         .agg(F.count(F.lit(1)).alias("n_events"))
    )
    batch_counts = {r["user_id"]: r["n"] for r in
                    sess.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    stream_counts = {r["user_id"]: r["n"] for r in
                     got.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert stream_counts, "no sessions emitted"
    # the final still-open session flushes IFF the closing watermark passed
    # its end+gap (Spark's final no-data batch fires event-time timeouts), so
    # each user emits batch or batch-1 sessions — never more, never fewer
    for uid, n_closed in stream_counts.items():
        assert batch_counts[uid] - 1 <= n_closed <= batch_counts[uid], (
            uid, n_closed, batch_counts[uid])
    # exactly-once: no duplicate session starts per user
    assert (got.groupBy("user_id", "session_start").count()
               .filter(F.col("count") > 1).count()) == 0
    # every emitted session matches a batch-twin session exactly (start + size)
    starts = (
        load_table(spark, sf_dir, "events")
        .withColumn("gap", (F.unix_micros(F.col("ts").cast("timestamp"))
                            - F.unix_micros(F.lag("ts").over(w).cast("timestamp"))))
        .withColumn("new_sess",
                    (F.col("gap").isNull() | (F.col("gap") > 30 * 60 * 1_000_000))
                    .cast("int"))
        .withColumn("sess_id", F.sum("new_sess").over(w))
        .groupBy("user_id", "sess_id")
        .agg(F.min(F.col("ts").cast("timestamp")).alias("session_start"),
             F.count(F.lit(1)).alias("n_events"))
    )
    unmatched = got.join(
        starts, ["user_id", "session_start", "n_events"], "left_anti").count()
    assert unmatched == 0, f"{unmatched} emitted sessions don't match batch twin"


def test_stream_incremental_dedup_admits_exactly_one_per_key(spark, sf_dir, tmp_path):
    """Corpus admission over three micro-batches: one 'unique' verdict per
    distinct content key across the WHOLE stream, duplicates classified by
    where the dup lives (earlier batch vs same batch); re-running the drained
    stream emits nothing new; replayed duplicates land as dup_historical."""
    from flink_job_spark.functions.text import norm_text
    from flink_job_spark.streaming.dedup import stream_incremental_dedup

    d = load_table(spark, sf_dir, "documents")
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # three arrival files by doc_id range
    for lo, hi in [(0, 170), (170, 340), (340, 10 ** 9)]:
        (d.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
          .coalesce(1).write.mode("append").parquet(src))

    stream_incremental_dedup(spark, src, d.schema, state, out, ckpt)

    v = spark.read.parquet(out)
    n_docs = d.count()
    n_keys = d.select(F.md5(norm_text("text")).alias("k")).distinct().count()
    assert v.count() == n_docs
    assert v.filter(F.col("verdict") == "unique").count() == n_keys
    uniq_keys = v.filter(F.col("verdict") == "unique").select("content_key")
    assert uniq_keys.distinct().count() == n_keys  # one winner per key
    assert v.filter(~F.col("verdict").isin(
        "unique", "dup_in_batch", "dup_historical")).count() == 0

    # drained stream: re-run is a no-op
    stream_incremental_dedup(spark, src, d.schema, state, out, ckpt)
    assert spark.read.parquet(out).count() == n_docs

    # bounded manifest (r5, VERDICT r4 #6): the replay short-circuit reads
    # ONLY its own batch partition, so the manifest must be laid out as
    # one batch_id=N partition per completed batch — never a flat append
    # the check would have to scan whole (O(n) per batch at 10k batches,
    # measured in tools/stream_admission_scale.py)
    import os
    mdirs = sorted(e for e in os.listdir(os.path.join(state, "batches"))
                   if e.startswith("batch_id="))
    assert len(mdirs) >= 3 and all("=" in e for e in mdirs), mdirs

    # a replayed file of already-admitted docs → all dup_historical
    (d.filter(F.col("doc_id") < 100).coalesce(1)
      .write.mode("append").parquet(src))
    stream_incremental_dedup(spark, src, d.schema, state, out, ckpt)
    v2 = spark.read.parquet(out)
    new_rows = v2.count() - n_docs
    assert new_rows == d.filter(F.col("doc_id") < 100).count()
    assert (v2.filter(F.col("verdict") == "unique").count() == n_keys)


def test_stream_ema_matches_batch_recurrence(spark, sf_dir, tmp_path):
    """Stream events in three time-ordered chunks: the stateful EMA must
    reproduce the batch q_ema_pandas sequence exactly (the accumulator
    crosses micro-batch boundaries losslessly)."""
    from flink_job_spark.queries import all_queries
    from flink_job_spark.streaming.stateful import stream_ema

    e = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    # three files split on event TIME so per-user arrival stays ordered
    cuts = ["2024-01-11", "2024-01-21"]
    (e.filter(F.col("ts") < cuts[0]).coalesce(1)
      .write.mode("append").parquet(src))
    (e.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])).coalesce(1)
      .write.mode("append").parquet(src))
    (e.filter(F.col("ts") >= cuts[1]).coalesce(1)
      .write.mode("append").parquet(src))

    stream = (spark.readStream.schema(
                  spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = str(tmp_path / "out")
    q = (stream_ema(stream).writeStream
         .format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()

    got = {(r["user_id"], r["event_id"]): r["ema"]
           for r in spark.read.parquet(out).collect()}
    want = {(r["user_id"], r["event_id"]): r["ema"]
            for r in all_queries()["q_ema_pandas"].fn(spark, sf_dir).collect()}
    assert got == want  # float EQUALITY: same IEEE sequence, batch == stream


def test_stream_quality_gate_blocks_corrupt_batch(spark, sf_dir, tmp_path):
    """Batch 0 (clean) passes and its report lands in the ledger; batch 1
    (injected negative price) raises before its offsets commit, so a rerun
    re-evaluates the SAME corrupt batch (offsets never advanced)."""
    import pytest

    from flink_job_spark.pipeline import ConsistencyError
    from flink_job_spark.streaming.dedup import stream_quality_gate

    o = load_table(spark, sf_dir, "orders")
    src = str(tmp_path / "src")
    ledger = str(tmp_path / "ledger")
    ckpt = str(tmp_path / "ckpt")
    clean = o.limit(300)
    corrupt = o.limit(50).select(
        *[(-F.col(c)).alias(c) if c == "o_totalprice" else F.col(c)
          for c in o.columns])
    clean.coalesce(1).write.mode("append").parquet(src)

    rules = [("totalprice_positive", F.col("o_totalprice") <= 0),
             ("custkey_not_null", F.col("o_custkey").isNull())]
    stream_quality_gate(spark, src, o.schema, rules, ledger, ckpt)
    led = spark.read.parquet(ledger)
    assert led.filter(~F.col("passed")).count() == 0

    corrupt.coalesce(1).write.mode("append").parquet(src)
    # the ConsistencyError surfaces wrapped in StreamingQueryException with
    # its message intact — a TypeError from a bad raise would NOT match
    from pyspark.sql.streaming import StreamingQueryException
    with pytest.raises(StreamingQueryException, match="(?i)consistency"):
        stream_quality_gate(spark, src, o.schema, rules, ledger, ckpt)
    # rerun still fails: the corrupt batch's offsets were never committed
    with pytest.raises(StreamingQueryException, match="(?i)consistency"):
        stream_quality_gate(spark, src, o.schema, rules, ledger, ckpt)
    led = spark.read.parquet(ledger)
    failed = led.filter(~F.col("passed"))
    assert failed.filter(F.col("rule") == "totalprice_positive").count() >= 1
    assert failed.agg(F.max("n_violations")).collect()[0][0] == 50


def test_stream_sketch_rollup_matches_batch_union(spark, sf_dir, tmp_path):
    """Day-sketch state maintained across three micro-batches answers the
    weekly-distinct question identically to a single batch pass over all
    events (HLL union is register-max: commutative, associative, idempotent
    — micro-batch boundaries must not change the merged registers), and a
    replayed drained stream changes nothing."""
    from flink_job_spark.queries.sketch import HLL_LGK, iso_week_key
    from flink_job_spark.streaming.sketch import (
        stream_sketch_rollup,
        weekly_estimates,
    )

    e = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    for lo, hi in [(0, 3000), (3000, 6000), (6000, 10 ** 12)]:
        (e.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
          .coalesce(1).write.mode("append").parquet(src))

    stream_sketch_rollup(spark, src, e.schema, state, ckpt)
    got = {r["week"]: r["approx_users"]
           for r in weekly_estimates(spark, state).collect()}

    # single-pass batch twin over the same events, same day granularity
    batch = (
        e.select(F.col("ts").cast("date").alias("day"), "user_id")
         .groupBy("day")
         .agg(F.hll_sketch_agg("user_id", F.lit(HLL_LGK)).alias("sketch"))
         .groupBy(iso_week_key("day").alias("week"))
         .agg(F.hll_sketch_estimate(F.hll_union_agg("sketch"))
               .cast("bigint").alias("approx_users"))
    )
    want = {r["week"]: r["approx_users"] for r in batch.collect()}
    assert got == want

    exact = {r["week"]: r["n"] for r in
             e.select(F.col("ts").cast("date").alias("day"), "user_id")
              .select(iso_week_key("day").alias("week"), "user_id").distinct()
              .groupBy("week").agg(F.count(F.lit(1)).alias("n")).collect()}
    for wk, est in got.items():
        assert abs(est - exact[wk]) / exact[wk] < 0.05, (wk, est, exact[wk])

    # drained stream: replay is a no-op on the estimates
    stream_sketch_rollup(spark, src, e.schema, state, ckpt)
    got2 = {r["week"]: r["approx_users"]
            for r in weekly_estimates(spark, state).collect()}
    assert got2 == got


def test_stream_cusum_equals_batch_recurrence(spark, sf_dir, tmp_path):
    """The CUSUM recurrence carried across three time-ordered micro-batches
    through GroupState must be BIT-identical per event to the batch operator
    — numeric state survives micro-batch boundaries exactly."""
    from flink_job_spark.queries import all_queries
    from flink_job_spark.streaming.stateful import stream_cusum

    e = load_table(spark, sf_dir, "events")
    # three disjoint time-ordered arrival files so every key's rows arrive
    # in event-time order across batches (the operator's stated contract)
    lo, hi = e.selectExpr(
        "percentile(unix_micros(cast(ts as timestamp_ltz)), array(0.33, 0.66))"
    ).first()[0]
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    tsd = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    for cond in [tsd < lo, (tsd >= lo) & (tsd < hi), tsd >= hi]:
        e.filter(cond).coalesce(1).write.mode("append").parquet(src)

    q = (
        stream_cusum(
            spark.readStream.schema(e.schema)
                 .option("maxFilesPerTrigger", 1).parquet(src))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {r["event_id"]: (r["cusum"], r["alarm"])
           for r in spark.read.parquet(out).collect()}
    want = {r["event_id"]: (r["cusum"], r["alarm"])
            for r in all_queries()["q_cusum"].fn(spark, sf_dir).collect()}
    assert len(got) == len(want)
    assert got == want  # bit-identical doubles, not approximate


def test_scd2_stream_multi_pending_snapshots_stay_separate(spark, sf_dir, tmp_path):
    """TWO snapshot files pending before the stream runs must become TWO
    generations (maxFilesPerTrigger on the source) — a merged batch would
    union two full snapshots and emit duplicate current rows per key."""
    import datetime as dtmod

    from flink_job_spark.streaming.scd2 import latest_generation, scd2_stream_apply

    nat = load_table(spark, sf_dir, "nation")
    src, dim, ckpt = (str(tmp_path / p) for p in ("src", "dim", "ckpt"))
    snap1 = nat.select("n_nationkey", "n_name")
    snap2 = snap1.withColumn(
        "n_name", F.when(F.col("n_nationkey") == 0,
                         F.lit("RENAMED")).otherwise(F.col("n_name")))
    snap1.coalesce(1).write.mode("append").parquet(src)
    snap2.coalesce(1).write.mode("append").parquet(src)

    scd2_stream_apply(spark, src, snap1.schema, dim, ckpt,
                      key_cols=["n_nationkey"], attr_cols=["n_name"],
                      base_ts=dtmod.datetime(2026, 1, 1))
    assert latest_generation(dim) == 1  # two batches, two generations
    cur = (spark.read.parquet(f"{dim}/gen=1")
           .filter(F.col("is_current")))
    assert cur.count() == nat.count()   # exactly ONE current row per key
    assert cur.groupBy("n_nationkey").count().filter("count > 1").count() == 0
    assert cur.filter((F.col("n_nationkey") == 0)
                      & (F.col("n_name") == "RENAMED")).count() == 1


def test_stream_audited_ingest_retry_does_not_duplicate(spark, sf_dir, tmp_path):
    """A batch that fails the audit has already written its partition; the
    retry must OVERWRITE it, not append a second copy — and the audit's
    target_count comes from what actually landed on disk."""
    import pytest
    from pyspark.sql.streaming import StreamingQueryException

    from flink_job_spark.functions.hashing import TOKEN_SEP, hash_token_column

    src, tgt, ckpt = (str(tmp_path / p) for p in ("src", "tgt", "ckpt"))
    nat = load_table(spark, sf_dir, "nation")
    nat.write.mode("overwrite").parquet(src)

    corrupted = F.when(F.col("n_nationkey") % 5 == 0,
                       F.concat(F.col("n_name"), F.lit("_X"))
                       ).otherwise(F.col("n_name"))
    dtypes = {f.name: f.dataType for f in nat.schema.fields}
    tokens = [hash_token_column(corrupted if n == "n_name" else F.col(n), dtypes[n])
              for n in nat.columns]
    bad_hash = F.md5(F.concat_ws(TOKEN_SEP, *tokens))

    import datetime as dtmod
    for _ in range(3):   # fail, retry, retry — same checkpoint, same target
        with pytest.raises(StreamingQueryException):
            stream_ingest(
                spark.readStream.schema(nat.schema).parquet(src), tgt, ckpt,
                load_dttm=dtmod.datetime(2026, 1, 1), row_hash=bad_hash)
    t = spark.read.parquet(tgt)
    assert t.count() == nat.count(), "retries appended duplicate copies"


def test_java_timestamp_conversion_keeps_microseconds(spark):
    """The watermark cutoff read over JDBC must keep µs precision — ms
    truncation excludes the MAX row from its own snapshot."""
    import datetime as dtmod

    from flink_job_spark.sources.metadata import _from_java

    jts = spark._jvm.java.sql.Timestamp.valueOf("2026-01-01 00:00:00.123456")
    assert _from_java(jts) == dtmod.datetime(2026, 1, 1, 0, 0, 0, 123456)
    jts_ns = spark._jvm.java.sql.Timestamp.valueOf("2026-01-01 00:00:00.123456789")
    assert _from_java(jts_ns) == dtmod.datetime(2026, 1, 1, 0, 0, 0, 123456)
    jts_s = spark._jvm.java.sql.Timestamp.valueOf("2026-01-01 00:00:01")
    assert _from_java(jts_s) == dtmod.datetime(2026, 1, 1, 0, 0, 1)


def test_stream_ohlc_matches_batch(spark, sf_dir, tmp_path):
    """Every watermark-closed hourly bar from the stream equals the batch
    q_ohlc_bars row exactly — open/close prove the min_by/max_by total-order
    key reproduces the batch rank endpoints."""
    from flink_job_spark.streaming.windows import stream_ohlc_agg

    src = _events_micro(spark, sf_dir, tmp_path)
    events = load_table(spark, sf_dir, "events")
    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (stream_ohlc_agg(stream).writeStream.format("memory")
         .queryName("ohlc").outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.sql("SELECT * FROM ohlc")
    from flink_job_spark.queries import all_queries
    exp = (all_queries()["q_ohlc_bars"].fn(spark, sf_dir)
           .withColumnRenamed("open", "e_open")
           .withColumnRenamed("high", "e_high")
           .withColumnRenamed("low", "e_low")
           .withColumnRenamed("close", "e_close")
           .withColumnRenamed("n_trades", "e_n")
           .withColumn("hour", F.col("hour").cast("timestamp_ntz")))
    assert got.count() >= exp.count() - 2  # append emits closed bars only
    j = got.join(exp, "hour", "inner")
    assert j.count() == got.count()
    bad = j.filter((F.col("open") != F.col("e_open"))
                   | (F.col("high") != F.col("e_high"))
                   | (F.col("low") != F.col("e_low"))
                   | (F.col("close") != F.col("e_close"))
                   | (F.col("n_trades") != F.col("e_n")))
    assert bad.count() == 0, bad.collect()[:5]


def test_stream_ohlc_non_hour_window_endpoints(spark, sf_dir, tmp_path):
    """Regression (review finding): a 2-hour bar must still order open/close
    by event time — the ordering-key modulus follows the window width, so
    an event at :59 cannot out-rank one at 1:01 of the same bar."""
    from flink_job_spark.streaming.windows import stream_ohlc_agg

    src = _events_micro(spark, sf_dir, tmp_path)
    events = load_table(spark, sf_dir, "events")
    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (stream_ohlc_agg(stream, window="2 hours").writeStream
         .format("memory").queryName("ohlc2h").outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.sql("SELECT * FROM ohlc2h")
    # batch reference computed directly with a 2h-truncated rank
    e = (load_table(spark, sf_dir, "events")
         .filter(F.col("event_type") == "purchase"))
    twoh = F.timestamp_micros(
        (F.unix_micros(F.col("ts").cast("timestamp")) / 7_200_000_000)
        .cast("bigint") * 7_200_000_000).cast("timestamp_ntz")
    from pyspark.sql import Window as W
    w = W.partitionBy("hour").orderBy("ts", "event_id")
    wc = W.partitionBy("hour")
    r = (e.select(twoh.alias("hour"), "ts", "event_id", "value")
          .withColumn("rn", F.row_number().over(w))
          .withColumn("cnt", F.count(F.lit(1)).over(wc)))
    exp = r.groupBy("hour").agg(
        F.max(F.when(F.col("rn") == 1, F.col("value"))).alias("e_open"),
        F.max(F.when(F.col("rn") == F.col("cnt"), F.col("value")))
         .alias("e_close"))
    j = got.join(exp, "hour", "inner")
    assert j.count() == got.count()
    assert j.filter((F.col("open") != F.col("e_open"))
                    | (F.col("close") != F.col("e_close"))).count() == 0


def test_stream_count_windows_equals_batch_closed_windows(spark, sf_dir, tmp_path):
    """Count windows close across micro-batch boundaries: streaming in
    three time-ordered chunks must emit exactly the batch key's FULL
    windows (the partial tail stays in state by design)."""
    from flink_job_spark.queries import all_queries
    from flink_job_spark.queries.windows import COUNT_WINDOW_N
    from flink_job_spark.streaming.stateful import stream_count_windows

    e = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    cuts = ["2024-01-11", "2024-01-21"]
    (e.filter(F.col("ts") < cuts[0]).coalesce(1)
      .write.mode("append").parquet(src))
    (e.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])).coalesce(1)
      .write.mode("append").parquet(src))
    (e.filter(F.col("ts") >= cuts[1]).coalesce(1)
      .write.mode("append").parquet(src))

    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = str(tmp_path / "out")
    q = (stream_count_windows(stream).writeStream
         .format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()

    got = {(r["user_id"], r["win_idx"]):
           (r["n_events"], r["win_start"], r["win_end"], r["value_cents"])
           for r in spark.read.parquet(out).collect()}
    want = {(r["user_id"], r["win_idx"]):
            (r["n_events"],
             r["win_start"].replace(tzinfo=None) if r["win_start"] else None,
             r["win_end"].replace(tzinfo=None) if r["win_end"] else None,
             r["value_cents"])
            for r in all_queries()["q_count_windows"].fn(spark, sf_dir)
                     .filter(F.col("n_events") == COUNT_WINDOW_N).collect()}
    got = {k: (n, s.replace(tzinfo=None) if s else None,
               e2.replace(tzinfo=None) if e2 else None, c)
           for k, (n, s, e2, c) in got.items()}
    assert got == want


def test_stream_cep_pattern_equals_batch_matches(spark, sf_dir, tmp_path):
    """The 2-event CEP buffer must find exactly the batch key's match
    instances even when a pattern straddles a micro-batch boundary."""
    from flink_job_spark.queries import all_queries
    from flink_job_spark.streaming.stateful import stream_cep_pattern

    e = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    cuts = ["2024-01-11", "2024-01-21"]
    (e.filter(F.col("ts") < cuts[0]).coalesce(1)
      .write.mode("append").parquet(src))
    (e.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])).coalesce(1)
      .write.mode("append").parquet(src))
    (e.filter(F.col("ts") >= cuts[1]).coalesce(1)
      .write.mode("append").parquet(src))

    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = str(tmp_path / "out")
    q = (stream_cep_pattern(stream).writeStream
         .format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()

    naive = lambda t: t.replace(tzinfo=None)  # noqa: E731
    got = sorted((r["user_id"], naive(r["click1_ts"]), naive(r["click2_ts"]),
                  naive(r["purchase_ts"]))
                 for r in spark.read.parquet(out).collect())
    want = sorted((r["user_id"], naive(r["click1_ts"]), naive(r["click2_ts"]),
                   naive(r["purchase_ts"]))
                  for r in all_queries()["q_cep_pattern"]
                          .fn(spark, sf_dir).collect())
    assert got == want and len(got) > 0


def test_stream_paged_audited_e2e_resume(spark, tmp_path):
    """FULL reference-pipeline streaming twin: paged keyed-cursor source →
    audited exactly-once sink. A restart with a higher cutoff and the same
    checkpoint processes ONLY the new key window — nothing re-read, nothing
    skipped, each key exactly once in the sink."""
    from flink_job_spark.streaming.ingest import stream_paged_ingest_audited

    tgt, ckpt = str(tmp_path / "tgt"), str(tmp_path / "ckpt")
    r1 = stream_paged_ingest_audited(
        spark, cutoff=500, target_dir=tgt, checkpoint_dir=ckpt,
        fetch_size=200, load_dttm=dt.datetime(2026, 1, 1))
    assert r1 and all(r.ok for r in r1)
    assert sum(r.target_count for r in r1) == 501          # keys 0..500

    r2 = stream_paged_ingest_audited(
        spark, cutoff=1000, target_dir=tgt, checkpoint_dir=ckpt,
        fetch_size=200, load_dttm=dt.datetime(2026, 1, 1))
    assert r2 and all(r.ok for r in r2)
    assert sum(r.target_count for r in r2) == 500          # ONLY (500, 1000]

    t = spark.read.parquet(tgt)
    agg = t.agg(F.count(F.lit(1)).alias("n"),
                F.count_distinct("id").alias("d"),
                F.min("id").alias("lo"), F.max("id").alias("hi")).collect()[0]
    assert (agg["n"], agg["d"], agg["lo"], agg["hi"]) == (1001, 1001, 0, 1000)
    assert t.filter(F.lower("row_hash") != F.lower("row_hash_iceberg")).count() == 0

    # epochs land with the table snapshots' codec (the Iceberg DDL's zstd)
    import pyarrow.parquet as pq
    epoch_file = next((tmp_path / "tgt").glob("batch_id=*/load_month=*/*.parquet"))
    footer = pq.ParquetFile(epoch_file).metadata
    assert {footer.row_group(0).column(i).compression
            for i in range(footer.num_columns)} == {"ZSTD"}


def test_stream_paged_audited_corruption_blocks_then_recovers(spark, tmp_path):
    """Injected dual-hash corruption on the paged pipeline fails the query
    BEFORE offsets commit; a corrected restart on the SAME checkpoint and
    target reprocesses the epoch (batch_id overwrite) — no duplicates, no
    gaps, zero surviving mismatches."""
    import pytest
    from pyspark.sql import types as T
    from pyspark.sql.streaming import StreamingQueryException

    from flink_job_spark.functions.hashing import TOKEN_SEP, hash_token_column
    from flink_job_spark.streaming.ingest import stream_paged_ingest_audited

    tgt, ckpt = str(tmp_path / "tgt"), str(tmp_path / "ckpt")
    corrupted = F.when(F.col("id") % 7 == 0,
                       F.concat(F.col("payload"), F.lit("_X"))
                       ).otherwise(F.col("payload"))
    dtypes = {"id": T.LongType(), "payload": T.StringType(),
              "bucket": T.IntegerType()}
    tokens = [hash_token_column(corrupted if n == "payload" else F.col(n),
                                dtypes[n])
              for n in ("id", "payload", "bucket")]
    bad_hash = F.md5(F.concat_ws(TOKEN_SEP, *tokens))

    with pytest.raises(StreamingQueryException, match="(?i)consistency"):
        stream_paged_ingest_audited(
            spark, cutoff=300, target_dir=tgt, checkpoint_dir=ckpt,
            fetch_size=100, load_dttm=dt.datetime(2026, 1, 1),
            row_hash=bad_hash)

    # corrected restart, SAME checkpoint + target: epoch replays and its
    # batch_id partition is overwritten, not appended
    r2 = stream_paged_ingest_audited(
        spark, cutoff=300, target_dir=tgt, checkpoint_dir=ckpt,
        fetch_size=100, load_dttm=dt.datetime(2026, 1, 1))
    assert r2 and all(r.ok for r in r2)
    t = spark.read.parquet(tgt)
    agg = t.agg(F.count(F.lit(1)).alias("n"),
                F.count_distinct("id").alias("d")).collect()[0]
    assert (agg["n"], agg["d"]) == (301, 301)
    assert t.filter(F.lower("row_hash") != F.lower("row_hash_iceberg")).count() == 0


def test_stream_kmv_matches_batch_bit_exact(spark, sf_dir, tmp_path):
    """KMV state across three micro-batches must be BIT-EQUAL to the batch
    sketch over the same rows (md5 hashing + total order on hashes make the
    sketch deterministic, unlike HLL), estimates must fall back to exact
    size while unfull, and a replayed drained stream must change nothing
    (merge is idempotent)."""
    from flink_job_spark.queries.sketch import KMV_K
    from flink_job_spark.streaming.kmv import (
        _kmv_trim,
        kmv_estimates,
        kmv_hash,
        stream_kmv_sketches,
    )

    o = load_table(spark, sf_dir, "orders")
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    for lo, hi in [(0, 2000), (2000, 4000), (4000, 10 ** 12)]:
        (o.filter((F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi))
          .coalesce(1).write.mode("append").parquet(src))

    stream_kmv_sketches(spark, src, o.schema, state, ckpt,
                        seg_col="o_orderpriority", value_col="o_custkey")
    got = {r["seg"]: (list(r["kmv"]), r["est_distinct"])
           for r in kmv_estimates(spark, state).collect()}

    batch = (
        o.select(F.col("o_orderpriority").alias("seg"),
                 kmv_hash("o_custkey").alias("h"))
         .distinct()
         .groupBy("seg")
         .agg(_kmv_trim(F.collect_set("h")).alias("kmv"))
    )
    want = {r["seg"]: list(r["kmv"]) for r in batch.collect()}
    assert set(got) == set(want)
    for seg, (kmv, est) in got.items():
        assert kmv == want[seg], f"stream/batch sketch differs for {seg}"
        assert kmv == sorted(kmv) and len(kmv) <= KMV_K
        exact = (o.filter(F.col("o_orderpriority") == seg)
                  .select("o_custkey").distinct().count())
        if len(kmv) < KMV_K:
            assert est == float(len(kmv))      # unfull sketch IS the set
        else:
            assert abs(est - exact) / exact < 0.35, (seg, est, exact)

    # drained stream: replay is a no-op on the state
    stream_kmv_sketches(spark, src, o.schema, state, ckpt,
                        seg_col="o_orderpriority", value_col="o_custkey")
    got2 = {r["seg"]: (list(r["kmv"]), r["est_distinct"])
            for r in kmv_estimates(spark, state).collect()}
    assert got2 == got


def test_sessionize_state_eviction_is_bounded(spark, tmp_path):
    """Bounded-state proof at test scale (the 1M-key evidence lives in
    BASELINE.md via tools/stream_state_ab.py): grow the store to K open
    sessions, then advance the watermark past every end+gap with one
    far-future event — EventTimeTimeout must EVICT all K (numRowsRemoved),
    drain the store, and emit each session exactly once."""
    from flink_job_spark.streaming.stateful import stream_sessionize

    K = 500
    src = str(tmp_path / "evict_src")
    for b in range(2):
        (spark.range(K)
              .select(F.col("id").alias("user_id"),
                      (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
                       + F.expr(f"INTERVAL {5 * b} MINUTES")).alias("ts"),
                      F.lit(1.0).alias("value"))
              .coalesce(1).write.mode("overwrite")
              .parquet(f"{src}/b{b}.parquet"))
    (spark.range(1)
          .select(F.lit(500).alias("user_id"),
                  (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
                   + F.expr("INTERVAL 10 DAYS")).alias("ts"),
                  F.lit(1.0).alias("value"))
          .coalesce(1).write.mode("overwrite")
          .parquet(f"{src}/zz_flush.parquet"))

    stream = (spark.readStream
              .schema("user_id long, ts timestamp, value double")
              .option("maxFilesPerTrigger", 1).parquet(f"{src}/*.parquet"))
    out = str(tmp_path / "evict_out")
    q = (stream_sessionize(stream).writeStream
         .format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "evict_ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()

    removed = 0
    peak = 0
    for p in q.recentProgress:
        so = (p["stateOperators"] or [{}])[0]
        peak = max(peak, so.get("numRowsTotal") or 0)
        removed += so.get("numRowsRemoved") or 0
    assert peak >= K, f"store never held {K} open sessions (peak {peak})"
    assert removed >= K, f"timeout eviction missing: removed {removed} < {K}"
    n = (spark.read.schema("user_id long, session_start timestamp, "
                           "session_end timestamp, n_events long")
         .parquet(out).count())
    assert n >= K, f"evicted sessions must be emitted: {n} < {K}"


def test_stream_crawl_extract_matches_batch_and_admits_once(spark, tmp_path):
    """Streaming twin of the crawl front-end (r6): WARC payloads stream
    through warc_visible_extract + admission. Asserts (1) the extracted
    columns equal the SAME transformation run in one batch over the same
    input, (2) cross-batch duplicates admit first-wins like
    q_dedup_incremental, (3) a restart after completion re-processes
    nothing, (4) malformed WARCs surface as extract_error rows."""
    import pandas as pd

    from flink_job_spark.functions.warc import build_warc
    from flink_job_spark.streaming.crawl import (WARC_DOC_SCHEMA,
                                                 stream_crawl_extract,
                                                 warc_visible_extract)

    def warc_for(i: int, text_id: int) -> bytes:
        html = (f"<html><head><title>Doc {text_id}</title>"
                "<script>var hidden=1;</script></head>"
                f"<body><h1>Title {text_id}</h1>"
                f'<a href="http://ex.com/{text_id}">L</a>'
                f"<p>body &amp; text {text_id}</p></body></html>")
        return build_warc([
            ("warcinfo", b"software: fjs-test", None),
            ("response", html.encode("utf-8"), f"http://ex.com/{i}"),
        ], gzip_per_record=(i % 2 == 0))

    src = str(tmp_path / "warc_src")
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # file 1: docs 0-3; file 2: docs 4-7 where doc 5 duplicates doc 1's
    # CONTENT and doc 6 is a malformed WARC; file 3: doc 8 duplicates 1
    rows1 = [(i, bytearray(warc_for(i, i))) for i in range(4)]
    rows2 = [(4, bytearray(warc_for(4, 4))),
             (5, bytearray(warc_for(5, 1))),
             (6, bytearray(b"NOT A WARC AT ALL" * 3)),
             (7, bytearray(warc_for(7, 7)))]
    rows3 = [(8, bytearray(warc_for(8, 1)))]
    for n, rows in (("a", rows1), ("b", rows2), ("c", rows3)):
        spark.createDataFrame(rows, WARC_DOC_SCHEMA).coalesce(1) \
             .write.mode("overwrite").parquet(f"{src}_{n}")
        spark.read.parquet(f"{src}_{n}").write.mode("append").parquet(src)

    stream_crawl_extract(spark, src, state, out, ckpt,
                         max_files_per_trigger=1)

    got = spark.read.parquet(out)
    rows = {r["doc_id"]: r for r in got.collect()}
    assert len(rows) == 9

    # (1) batch-equals-stream on the extracted columns
    batch = {r["doc_id"]: r for r in
             warc_visible_extract(spark.read.parquet(src)).collect()}
    for i in range(9):
        for c in ["n_records", "charset", "title", "n_links", "text",
                  "extract_error"]:
            assert rows[i][c] == batch[i][c], (i, c)

    # (4) malformed WARC is an error row, never an exception
    assert rows[6]["extract_error"] is not None
    assert rows[6]["verdict"] is None          # error rows aren't admitted
    assert rows[0]["title"] == "Doc 0"
    assert rows[0]["n_links"] == 1
    assert "body & text 0" in rows[0]["text"]

    # (2) admission: content of doc 1 reappears as docs 5 and 8 in LATER
    # batches -> dup_historical; each batch's own fresh docs are unique
    assert rows[1]["verdict"] == "unique"
    assert rows[5]["verdict"] == "dup_historical"
    assert rows[8]["verdict"] == "dup_historical"
    for i in (0, 2, 3, 4, 7):
        assert rows[i]["verdict"] == "unique", i

    # (3) restart: a second availableNow run sees no new files, changes
    # nothing (same row count, same verdicts)
    before = sorted((r["doc_id"], r["verdict"]) for r in got.collect())
    stream_crawl_extract(spark, src, state, out,
                         str(tmp_path / "ckpt2"),
                         max_files_per_trigger=1)
    after = sorted((r["doc_id"], r["verdict"])
                   for r in spark.read.parquet(out).collect())
    assert after == before
