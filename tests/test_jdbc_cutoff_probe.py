"""Whatever --parallelism is, the CLI freezes the snapshot cutoff and the
partition bounds from one MIN, MAX statement; it never issues a second
MAX-only watermark query. A NUMERIC key's cutoff renders as a bare number,
and NUMERIC and DOUBLE bounds split the read into ``--parallelism``
partitions, also when a caller builds the source with such bounds itself."""

from __future__ import annotations

import argparse
from decimal import Decimal

import pytest

from flink_job_spark import cli
from flink_job_spark.sources import metadata
from flink_job_spark.sources.jdbc import JdbcSnapshotSource, render_sql_literal


def _derby_table(spark, url: str, n: int, key_type: str) -> None:
    conn = spark.sparkContext._jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.executeUpdate(f'CREATE TABLE "probe_t" ("pk" {key_type} NOT NULL, '
                     '"v" VARCHAR(10), PRIMARY KEY ("pk"))')
    for i in range(1, n + 1):
        st.executeUpdate(f"""INSERT INTO "probe_t" VALUES ({i}, 'v{i}')""")
    st.close()
    conn.close()


@pytest.mark.parametrize("parallelism, key_type, n_rows", [
    pytest.param(2, "BIGINT", 0, id="0"),
    pytest.param(2, "BIGINT", 40, id="40"),
    pytest.param(1, "BIGINT", 0, id="p1-bigint-0"),
    pytest.param(1, "BIGINT", 40, id="p1-bigint-40"),
    pytest.param(1, "NUMERIC(18,0)", 40, id="p1-numeric-40"),
    pytest.param(2, "NUMERIC(18,0)", 40, id="p2-numeric-40"),
    pytest.param(2, "DOUBLE", 40, id="p2-double-40"),
])
def test_parallel_jdbc_load_takes_cutoff_from_bounds(spark, tmp_path, monkeypatch,
                                                     parallelism, key_type, n_rows):
    url = f"jdbc:derby:memory:fjs_probe_{parallelism}_{key_type[:3]}_{n_rows};create=true"
    _derby_table(spark, url, n_rows, key_type)

    def no_second_max(*args, **kwargs):
        raise AssertionError("separate MAX watermark query issued")

    monkeypatch.setattr(metadata, "read_watermark_value", no_second_max)
    args = argparse.Namespace(parallelism=parallelism, fetch_size=10)
    loaded = cli._load_jdbc_table(spark, url, "probe_t", None, args, {})
    assert loaded is not None
    df, key, _ = loaded
    assert key == "pk"
    assert df.count() == n_rows
    # NUMERIC (Decimal) and DOUBLE (float) bounds split the read like BIGINT's
    assert df.rdd.getNumPartitions() == (parallelism if n_rows else 1)


def test_direct_source_splits_on_double_bounds(spark):
    """A caller that builds the source itself passes a DOUBLE key's bounds
    as read; the reader turns them into the whole numbers Spark parses."""
    url = "jdbc:derby:memory:fjs_probe_direct_double;create=true"
    _derby_table(spark, url, 40, "DOUBLE")
    src = JdbcSnapshotSource(url, "probe_t", ["pk", "v"], "pk", cutoff=40.0,
                             num_partitions=2, bounds=(1.0, 40.0))
    df = src.reader(spark).load()
    assert df.rdd.getNumPartitions() == 2
    assert df.count() == 40


def test_decimal_literal_renders_bare_in_plain_notation():
    assert render_sql_literal(Decimal("1E+1")) == "10"
