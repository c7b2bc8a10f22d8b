"""With a parallel JDBC read the CLI freezes the snapshot cutoff and the
partition bounds from one MIN, MAX statement; it never issues a second
MAX-only watermark query."""

from __future__ import annotations

import argparse

import pytest

from flink_job_spark import cli
from flink_job_spark.sources import metadata


def _derby_table(spark, url: str, n: int) -> None:
    conn = spark.sparkContext._jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.executeUpdate('CREATE TABLE "probe_t" ("pk" BIGINT NOT NULL, '
                     '"v" VARCHAR(10), PRIMARY KEY ("pk"))')
    for i in range(1, n + 1):
        st.executeUpdate(f"""INSERT INTO "probe_t" VALUES ({i}, 'v{i}')""")
    st.close()
    conn.close()


@pytest.mark.parametrize("n_rows", [0, 40])
def test_parallel_jdbc_load_takes_cutoff_from_bounds(spark, tmp_path, monkeypatch, n_rows):
    url = f"jdbc:derby:memory:fjs_probe_{n_rows};create=true"
    _derby_table(spark, url, n_rows)

    def no_second_max(*args, **kwargs):
        raise AssertionError("separate MAX watermark query issued")

    monkeypatch.setattr(metadata, "read_watermark_value", no_second_max)
    args = argparse.Namespace(parallelism=2, fetch_size=10)
    loaded = cli._load_jdbc_table(spark, url, "probe_t", None, args, {})
    assert loaded is not None
    df, key, _ = loaded
    assert key == "pk"
    assert df.count() == n_rows
