"""CLI end-to-end: reference-parity arguments drive a real multi-table ingest."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_job_spark.cli import detect_order_key, main, parse_table_mappings


def test_parse_table_mappings():
    assert parse_table_mappings("a:b, c ,d:e,") == [("a", "b"), ("c", "c"), ("d", "e")]


def test_detect_order_key():
    assert detect_order_key(["l_orderkey", "l_partkey"]) == "l_orderkey"
    assert detect_order_key(["name", "value"]) == "name"


def test_cli_skips_inaccessible_table(spark, sf_dir, tmp_path):
    """A missing table is probed, skipped, and does not fail the batch."""
    tgt = str(tmp_path / "out")
    rc = main([
        "--tables", "no_such_table,customer",
        "--source-dir", sf_dir,
        "--target-dir", tgt,
        "--mode", "replace",
    ])
    assert rc == 0  # the good table loaded; the bad one was skipped, not failed
    assert spark.read.parquet(f"{tgt}/customer").count() > 0


def test_cli_jdbc_source_end_to_end(spark, sf_dir, tmp_path):
    """--source-dir as a live jdbc: URL drives the reference's full flow:
    metadata scan → PK detect → frozen watermark → parallel pushed-down read
    → envelope → write → audit. --fetch-size/--parallelism (mis:83, 116) are
    wired into the JDBC reader."""
    url = "jdbc:derby:memory:fjs_cli;create=true"
    jvm = spark.sparkContext._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.executeUpdate(
        'CREATE TABLE "items" ("ik" BIGINT NOT NULL, "name" VARCHAR(20), '
        'PRIMARY KEY ("ik"))')
    for i in range(1, 101):
        st.executeUpdate(f"""INSERT INTO "items" VALUES ({i}, 'n{i}')""")
    st.close()
    conn.close()

    tgt = str(tmp_path / "out")
    rc = main([
        "--table", "items",
        "--source-dir", url,
        "--target-dir", tgt,
        "--mode", "replace",
        "--parallelism", "3",
        "--fetch-size", "10",
        "--progress",
    ])
    assert rc == 0
    out = spark.read.parquet(f"{tgt}/items")
    assert out.count() == 100
    # detected PK drove the cutoff; envelope + dual hash consistent
    assert out.filter("lower(row_hash) != lower(row_hash_iceberg)").count() == 0
    assert set(out.columns) >= {"ik", "name", "row_hash", "row_hash_iceberg"}
    # decimal/char canonicalization metadata flowed from the live scan
    assert out.select("ik").distinct().count() == 100


@pytest.mark.parametrize("progress", [True, False])
def test_cli_progress_raises_task_log_for_the_run(spark, sf_dir, tmp_path, capsys,
                                                  monkeypatch, progress):
    """--progress puts Spark's TaskSetManager logger at INFO (one "Finished
    task ... (k/n)" line per task) while the tables ingest and restores the
    level it found; without the flag the level is left alone. The landed
    count is still printed."""
    from flink_job_spark import cli

    jvm = spark.sparkContext._jvm
    name = "org.apache.spark.scheduler.TaskSetManager"
    configurator = jvm.org.apache.logging.log4j.core.config.Configurator
    level = jvm.org.apache.logging.log4j.Level
    original = jvm.org.apache.logging.log4j.LogManager.getLogger(name).getLevel()

    def current():
        return jvm.org.apache.logging.log4j.LogManager.getLogger(name).getLevel().name()

    seen = []
    real_ingest_tables = cli.ingest_tables

    def spy(*args, **kwargs):
        seen.append(current())
        return real_ingest_tables(*args, **kwargs)

    monkeypatch.setattr(cli, "ingest_tables", spy)
    # a level the CLI would not pick itself, so the restore is observable
    configurator.setLevel(name, level.ERROR)
    try:
        argv = ["--tables", "nation", "--source-dir", sf_dir,
                "--target-dir", str(tmp_path / "out"), "--mode", "replace"]
        assert main(argv + ["--progress"] if progress else argv) == 0
        assert seen == ["INFO" if progress else "ERROR"]
        assert current() == "ERROR"
    finally:
        configurator.setLevel(name, original)
    assert "OK    nation: read=25 written=25 " in capsys.readouterr().out


def test_cli_fail_on_consistency_error_aborts(spark, sf_dir, tmp_path, capsys):
    """--fail-on-consistency-error aborts the job with rc=2 (mis:365-368):
    a second append under the same cutoff doubles the audited target count."""
    tgt = str(tmp_path / "out")
    base = ["--tables", "nation", "--source-dir", sf_dir, "--target-dir", tgt,
            "--mode", "append", "--fail-on-consistency-error"]
    assert main(base) == 0
    rc = main(base)
    assert rc == 2
    assert "ABORT nation" in capsys.readouterr().err


def test_cli_ingest_roundtrip(spark, sf_dir, tmp_path):
    tgt = str(tmp_path / "out")
    rc = main([
        "--tables", "customer,orders:orders_tgt",
        "--source-dir", sf_dir,
        "--target-dir", tgt,
        "--mode", "replace",
        "--order-by", "c_custkey,",  # explicit for customer, auto for orders
    ])
    assert rc == 0
    cust = spark.read.parquet(f"{tgt}/customer")
    orders = spark.read.parquet(f"{tgt}/orders_tgt")
    src_c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    src_o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    assert cust.count() == src_c.count()
    assert orders.count() == src_o.count()
    # envelope + dual hash present and consistent
    assert cust.filter("lower(row_hash) != lower(row_hash_iceberg)").count() == 0
    assert set(cust.columns) >= {"row_hash", "row_hash_iceberg", "op", "load_dttm"}


def test_cli_csv_json_orc_sources(spark, sf_dir, tmp_path):
    """--source-format csv/json/orc: the same ingest+audit flow runs off
    text/columnar sources — the engine's format-agnostic source surface."""
    from flink_job_spark.sources.tables import NTZ_FMT, load_table

    cust = load_table(spark, sf_dir, "customer")
    for fmt in ["csv", "json", "orc"]:
        src_dir = tmp_path / f"src_{fmt}"
        w = cust.write.mode("overwrite")
        if fmt == "csv":
            w.option("header", True).option("timestampNTZFormat", NTZ_FMT) \
             .csv(str(src_dir / "customer"))
        elif fmt == "json":
            w.option("timestampNTZFormat", NTZ_FMT).json(str(src_dir / "customer"))
        else:
            w.orc(str(src_dir / "customer"))
        tgt = str(tmp_path / f"out_{fmt}")
        rc = main([
            "--table", "customer",
            "--source-dir", str(src_dir),
            "--source-format", fmt,
            "--target-dir", tgt,
            "--mode", "replace",
        ])
        assert rc == 0, fmt
        got = spark.read.parquet(f"{tgt}/customer")
        assert got.count() == cust.count(), fmt
        # the audit hash columns were stamped off the declared-schema read
        assert "row_hash" in [c.lower() for c in got.columns], fmt


def test_snapshot_diff_null_keys_do_not_churn(spark):
    """An unchanged NULL-keyed row must not be emitted as ADDED+REMOVED on
    every run (plain equi-joins never match NULL keys)."""
    from flink_job_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (None, "n")], "k long, v string")
    new = spark.createDataFrame(
        [(1, "a"), (None, "n"), (2, "b")], "k long, v string")
    got = {(r["k"], r["change_type"])
           for r in snapshot_diff(old, new, ["k"]).collect()}
    assert got == {(2, "ADDED")}


def test_probe_dim_skips_null_vectors_and_raises_on_empty(spark):
    from flink_job_spark.functions.vectors import probe_dim

    df = spark.createDataFrame([(None,), ([1.0, 2.0, 3.0],)],
                               "v array<double>")
    assert probe_dim(df, "v") == 3
    with pytest.raises(ValueError, match="no non-null"):
        probe_dim(df.filter(F.col("v").isNull()), "v")
