"""End-to-end ingest pipeline test: write → re-read → audit (SURVEY §3.1-3.3)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from flink_job_spark.operators.snapshot import cutoff_predicate
from flink_job_spark.pipeline import (
    ConsistencyError,
    IngestConfig,
    ingest_tables,
    snapshot_ingest,
)
from flink_job_spark.sources.tables import load_table


def test_snapshot_ingest_roundtrip(spark, sf_dir, tmp_path):
    li = load_table(spark, sf_dir, "lineitem")
    cfg = IngestConfig(mode="replace", load_dttm=dt.datetime(2026, 1, 1))
    res = snapshot_ingest(spark, li, "lineitem", str(tmp_path / "li"), "l_orderkey", cfg)
    assert res.error is None
    assert res.report is not None
    assert res.report.ok, f"delta={res.report.delta} mismatches={res.report.hash_mismatches}"
    assert res.report.source_count == li.count()

    target = spark.read.parquet(str(tmp_path / "li"))
    # envelope columns present, partition column written
    for c in ["load_dttm", "op", "src_system_code", "row_hash", "row_hash_iceberg", "load_month"]:
        assert c in target.columns
    assert target.filter(F.col("op") != "INITIAL").count() == 0
    # dual hashes agree everywhere (the reference's core invariant)
    assert target.filter(F.lower("row_hash") != F.lower("row_hash_iceberg")).count() == 0


def test_ingest_failure_isolation(spark, sf_dir, tmp_path):
    li = load_table(spark, sf_dir, "lineitem")
    bad = li.select((F.col("l_orderkey") / F.lit(0)).alias("x"))  # will still run; force error via bad path instead
    results = ingest_tables(
        spark,
        [
            (li, "ok_table", str(tmp_path / "ok"), "l_orderkey"),
            (li, "bad_table", "/proc/definitely/not/writable", "l_orderkey"),
        ],
        IngestConfig(mode="replace", load_dttm=dt.datetime(2026, 1, 1)),
    )
    assert results[0].ok
    assert results[1].error is not None  # isolated, did not raise


def test_empty_table_contradiction_cutoff(spark, sf_dir, tmp_path):
    li = load_table(spark, sf_dir, "lineitem").filter(F.lit(False))
    res = snapshot_ingest(spark, li, "empty", str(tmp_path / "e"), "l_orderkey",
                          IngestConfig(mode="replace", load_dttm=dt.datetime(2026, 1, 1)))
    # empty source → cutoff None → contradiction filter → 0 rows, audit ok
    assert res.cutoff is None
    assert res.report is not None and res.report.source_count == 0


def test_fail_on_consistency_error_aborts(spark, sf_dir, tmp_path):
    """With the flag set, a failed audit raises ConsistencyError through the
    per-table isolation and stops the batch (the reference rethrows
    ConsistencyCheckException and aborts, mis:365-368). Without the flag the
    same failure is reported in the result, not raised."""
    nat = load_table(spark, sf_dir, "nation")
    path = str(tmp_path / "n")
    strict = IngestConfig(mode="append", load_dttm=dt.datetime(2026, 1, 1),
                          fail_on_consistency_error=True)
    assert snapshot_ingest(spark, nat, "nation", path, "n_nationkey", strict).ok
    # second append duplicates every row under the same cutoff → audit delta>0
    with pytest.raises(ConsistencyError) as ei:
        snapshot_ingest(spark, nat, "nation", path, "n_nationkey", strict)
    assert ei.value.table == "nation"
    assert ei.value.report is not None and ei.value.report.delta > 0

    # the error escapes ingest_tables too: the loop aborts before later tables
    reg = load_table(spark, sf_dir, "region")
    with pytest.raises(ConsistencyError):
        ingest_tables(spark, [
            (nat, "nation", path, "n_nationkey"),
            (reg, "region", str(tmp_path / "r"), "r_regionkey"),
        ], strict)

    # without the flag: reported, isolated, loop continues
    lax = IngestConfig(mode="append", load_dttm=dt.datetime(2026, 1, 1))
    results = ingest_tables(spark, [
        (nat, "nation", path, "n_nationkey"),
        (reg, "region", str(tmp_path / "r"), "r_regionkey"),
    ], lax)
    assert results[0].error is None and not results[0].ok
    assert results[0].report is not None and results[0].report.delta > 0
    assert results[1].ok


def test_resume_floor_equivalence(spark, sf_dir, tmp_path):
    """Key-floor resume (floor=k) ∪ first chunk == full snapshot (SURVEY §7#3)."""
    li = load_table(spark, sf_dir, "lineitem")
    cfg = IngestConfig(mode="append", load_dttm=dt.datetime(2026, 1, 1))
    path = str(tmp_path / "resume")
    # first "attempt": only keys <= 1000 committed
    first = li.filter(F.col("l_orderkey") <= 1000)
    snapshot_ingest(spark, first, "part1", path, "l_orderkey", cfg)
    # resume from floor
    res = snapshot_ingest(spark, li, "part2", path, "l_orderkey", cfg, floor=1000)
    assert res.error is None
    # the audit covers (floor, cutoff], the range the resume wrote
    assert res.ok, res.report
    target = spark.read.parquet(path)
    cutoff = res.cutoff
    assert target.filter(cutoff_predicate("l_orderkey", cutoff)).count() == li.count()
    # chunks are key-disjoint (<=1000 then >1000): no row lost, none duplicated
    assert target.count() == li.count()
    assert target.filter(F.col("l_orderkey") <= 1000).count() == first.count()


def test_schema_drift_fails_before_write(spark, sf_dir, tmp_path):
    """Append-mode schema drift aborts the table inside the per-table
    isolation BEFORE writing; a new schema takes replace mode, like the
    reference's drop/replace (mis:261-263)."""
    nat = load_table(spark, sf_dir, "nation")
    path = str(tmp_path / "n")
    cfg = IngestConfig(mode="append", load_dttm=dt.datetime(2026, 1, 1))
    assert snapshot_ingest(spark, nat, "nation", path, "n_nationkey", cfg).ok
    n0 = spark.read.parquet(path).count()

    # snapshot grows a column; new rows arrive with keys above the old max
    evolved_src = nat.withColumn("extra_col", F.lit("x")).unionByName(
        nat.withColumn("extra_col", F.lit("y"))
           .withColumn("n_nationkey", F.col("n_nationkey") + 100))

    res = snapshot_ingest(spark, evolved_src, "nation", path, "n_nationkey",
                          cfg, floor=24)
    assert res.error is not None and "schema drift" in res.error
    assert "extra_col" in res.error
    assert spark.read.parquet(path).count() == n0  # nothing was written


def test_schema_drift_type_change_fails_before_write(spark, sf_dir, tmp_path):
    """An append that keeps the column names but changes a column's type is
    drift too: its files would make every later read of the target fail
    (PARQUET_COLUMN_DATA_TYPE_MISMATCH). Nullability alone is not drift."""
    nat = load_table(spark, sf_dir, "nation")
    path = str(tmp_path / "n")
    cfg = IngestConfig(mode="append", load_dttm=dt.datetime(2026, 1, 1))
    assert snapshot_ingest(spark, nat, "nation", path, "n_nationkey", cfg).ok
    n0 = spark.read.parquet(path).count()

    later = nat.withColumn("n_nationkey", F.col("n_nationkey") + 100)
    retyped = later.withColumn("n_regionkey", F.col("n_regionkey").cast("string"))
    res = snapshot_ingest(spark, retyped, "nation", path, "n_nationkey", cfg, floor=24)
    assert res.error is not None and "schema drift" in res.error
    assert "n_regionkey: int -> string" in res.error
    assert spark.read.parquet(path).count() == n0  # nothing was written, still reads

    # the same rows with their own types append cleanly, nullable or not
    not_null = later.withColumn("n_regionkey", F.coalesce("n_regionkey", F.lit(0)))
    assert not not_null.schema["n_regionkey"].nullable
    res = snapshot_ingest(spark, not_null, "nation", path, "n_nationkey", cfg, floor=24)
    assert res.error is None
    # baseline and audit both cover (24, 124]: earlier loads are not counted
    assert res.ok, res.report
    assert spark.read.parquet(path).count() == n0 + later.count()


def test_snapshot_diff_operator(spark):
    """ADDED/REMOVED/CHANGED/unchanged on a hand-built pair of snapshots."""
    from flink_job_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    new = spark.createDataFrame(
        [(2, "b"), (3, "CHANGED"), (4, "d")], "k long, v string")
    out = {r["k"]: r["change_type"]
           for r in snapshot_diff(old, new, ["k"]).collect()}
    assert out == {1: "REMOVED", 3: "CHANGED", 4: "ADDED"}  # 2 is unchanged


def test_scd2_apply_operator(spark):
    """All five SCD2 outcomes on a tiny dimension: history passthrough,
    unchanged-open, changed (close+reopen), removed (close), added (open)."""
    import datetime as dt

    from flink_job_spark.operators.diff import scd2_apply

    t0, t1, t2 = (dt.datetime(2025, 1, 1), dt.datetime(2026, 1, 1),
                  dt.datetime(2026, 2, 1))
    dim = spark.createDataFrame(
        [
            (1, "old-v", t0, t1),   # closed history for key 1
            (1, "a", t1, None),     # open, unchanged in snapshot
            (2, "b", t1, None),     # open, changed
            (3, "c", t1, None),     # open, removed
        ],
        "k long, v string, valid_from timestamp_ntz, valid_to timestamp_ntz")
    snap = spark.createDataFrame(
        [(1, "a"), (2, "B2"), (4, "d")], "k long, v string")

    out = scd2_apply(dim, snap, ["k"], ["v"], t2)
    rows = {(r["k"], r["v"]): (r["valid_from"], r["valid_to"], r["is_current"])
            for r in out.collect()}
    assert rows == {
        (1, "old-v"): (t0, t1, False),   # history untouched
        (1, "a"):     (t1, None, True),  # unchanged stays open
        (2, "b"):     (t1, t2, False),   # changed: old closed at t2
        (2, "B2"):    (t2, None, True),  # changed: new opens at t2
        (3, "c"):     (t1, t2, False),   # removed: closed
        (4, "d"):     (t2, None, True),  # added: opens
    }


@pytest.mark.parametrize("mode", ["batch", "stream"])
def test_ingest_audits_renamed_hash_columns_on_collision(spark, sf_dir, tmp_path, mode):
    """A source that already owns a row_hash column: the envelope renames the
    canonical source-side hash to __row_hash (row_hash_iceberg does not
    collide and keeps its name), and the audit must compare THOSE —
    comparing the source's own column would fail every row. The batch
    snapshot and every stream epoch share the one stamp builder."""
    from flink_job_spark.pipeline import IngestConfig, snapshot_ingest
    from flink_job_spark.sources.tables import load_table
    from flink_job_spark.streaming.ingest import stream_ingest

    nat = load_table(spark, sf_dir, "nation").withColumn(
        "row_hash", F.lit("user-data-not-ours"))
    tgt = str(tmp_path / "tgt")
    if mode == "batch":
        res = snapshot_ingest(
            spark, nat, "nation_coll", tgt, "n_nationkey", config=IngestConfig())
        assert res.error is None, res.error
        assert res.report is not None and res.report.ok, (
            res.report.hash_mismatches if res.report else None)
    else:
        src = str(tmp_path / "src")
        nat.write.parquet(src)
        ledger = stream_ingest(spark.readStream.schema(nat.schema).parquet(src),
                               tgt, str(tmp_path / "ckpt"))
        assert ledger and all(r.ok for r in ledger), ledger
        assert sum(r.target_count for r in ledger) == nat.count()
    t = spark.read.parquet(tgt)
    assert {"__row_hash", "row_hash", "row_hash_iceberg"} <= set(t.columns)
    assert "__row_hash_iceberg" not in t.columns


def test_spark_entry_stamps_and_audits_lineitem(spark):
    """The flagship ``entry`` plan: one row that counts every lineitem row
    of the fixture it reads, with both independent row hashes in agreement."""
    import importlib

    out = importlib.import_module("__spark_entry__").entry(spark)
    files = out.inputFiles()
    assert files and all("lineitem" in f for f in files), files
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["target_count"] == spark.read.parquet(*files).count() > 0
    assert rows[0]["hash_mismatches"] == 0
