"""Hash canonicalization unit tests — FIXTURES.md F2: one column per branch of
the token rules, NULLs everywhere, the documented edge values. The Spark
builder (generated Spark SQL, also reached as a Column through
``row_hash_column``) and the DuckDB twin must agree byte-for-byte — that
cross-engine agreement IS the reference's correctness mechanism."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_job_spark.functions.hashing import (
    duckdb_row_hash_sql,
    hash_token_sql,
    row_hash_column,
    row_hash_sql_expr,
)
from flink_job_spark.types import JDBC, ColumnInfo

SCHEMA = T.StructType([
    T.StructField("c_int", T.IntegerType(), False),
    T.StructField("c_bool", T.BooleanType()),
    T.StructField("c_short", T.ShortType()),
    T.StructField("c_long", T.LongType()),
    T.StructField("c_float", T.FloatType()),
    T.StructField("c_double", T.DoubleType()),
    T.StructField("c_dec", T.DecimalType(18, 4)),
    T.StructField("c_date", T.DateType()),
    T.StructField("c_time_str", T.StringType()),
    T.StructField("c_ts", T.TimestampNTZType()),
    T.StructField("c_char", T.StringType()),
    T.StructField("c_varchar", T.StringType()),
    T.StructField("c_bin", T.BinaryType()),
])

INFOS = {
    "c_char": ColumnInfo("c_char", JDBC["CHAR"], precision=10),
    "c_time_str": ColumnInfo("c_time_str", JDBC["TIME"]),
}

ROWS = [
    (1, True, 7, 2**40, 1.0000005, 0.1 + 0.2, Decimal("0.0000"),
     dt.date(2024, 2, 29), "10:30:00", dt.datetime(2024, 1, 15, 10, 30, 0, 123400),
     "abc", "x" * 1001, b"\x00\xff"),
    (2, False, -1, -5, -0.1, 1e-7, Decimal("-12345678901234.5678"),
     dt.date(1970, 1, 1), "23:59:59.123", dt.datetime(2024, 1, 1, 0, 0, 0, 0),
     "", "plain", b""),
    (3, None, None, None, None, None, None, None, None, None, None, None, None),
]


@pytest.fixture(scope="module")
def fixture_df(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def test_column_and_sql_impls_agree(spark, fixture_df):
    """The dual-implementation invariant (mis:1264-1331) on edge values. The
    two builders are coded separately but analyze to one expression, so the
    stored hash pair of an ingest cannot disagree unless a caller overrides
    ``row_hash``; this test is what checks the builders agree."""
    df = fixture_df.select(
        "c_int",
        row_hash_column(fixture_df, infos=INFOS).alias("h1"),
        F.expr(row_hash_sql_expr(SCHEMA, infos=INFOS)).alias("h2"),
    )
    rows = df.collect()
    assert len(rows) == 3
    for r in rows:
        assert r["h1"] == r["h2"], f"row {r['c_int']}: {r['h1']} != {r['h2']}"

    projection = df._jdf.queryExecution().analyzed().projectList()
    h1, h2 = projection.apply(1).child(), projection.apply(2).child()
    assert h1.semanticEquals(h2)


def test_duckdb_impl_agrees(spark, fixture_df, tmp_path):
    path = str(tmp_path / "fixture.parquet")
    fixture_df.coalesce(1).write.mode("overwrite").parquet(path)
    spark_hashes = {
        r["c_int"]: r["h"]
        for r in fixture_df.select(
            "c_int", row_hash_column(fixture_df, infos=INFOS).alias("h")).collect()
    }
    con = duckdb.connect()
    duck = con.execute(
        f"SELECT c_int, {duckdb_row_hash_sql(SCHEMA, infos=INFOS)} AS h "
        f"FROM read_parquet('{path}/*.parquet')"
    ).fetchall()
    assert len(duck) == 3
    for c_int, h in duck:
        assert spark_hashes[c_int] == h, f"row {c_int}"


def test_token_edge_semantics(spark, fixture_df):
    """Spot-check individual token rules through the hash: mutating the input
    in ways the canonicalization must (or must not) distinguish."""
    base = row_hash_column(fixture_df, infos=INFOS)
    h = {r["c_int"]: r["h"] for r in fixture_df.select("c_int", base.alias("h")).collect()}

    # CHAR rpad: 'abc' hashes like 'abc       ' (10-pad)
    padded = fixture_df.withColumn("c_char", F.rpad("c_char", 10, " "))
    h_pad = {r["c_int"]: r["h"] for r in
             padded.select("c_int", row_hash_column(padded, infos=INFOS).alias("h")).collect()}
    assert h_pad[1] == h[1]

    # varchar 1000-char truncation: chars beyond 1000 don't affect the hash
    trunc = fixture_df.withColumn("c_varchar", F.substring("c_varchar", 1, 1000))
    h_tr = {r["c_int"]: r["h"] for r in
            trunc.select("c_int", row_hash_column(trunc, infos=INFOS).alias("h")).collect()}
    assert h_tr[1] == h[1]

    # float rounding: differences beyond 6 decimals are canonicalized away
    bumped = fixture_df.withColumn("c_double", F.col("c_double") + F.lit(1e-9))
    h_b = {r["c_int"]: r["h"] for r in
           bumped.select("c_int", row_hash_column(bumped, infos=INFOS).alias("h")).collect()}
    assert h_b[1] == h[1]

    # TIME canonical form: truncate to HH:mm:ss + '.0000' unconditionally
    # (mis:1646-1651) — explicit '.0000' and any other fraction both collapse
    t2 = fixture_df.withColumn("c_time_str", F.concat("c_time_str", F.lit(".0000")))
    h_t = {r["c_int"]: r["h"] for r in
           t2.select("c_int", row_hash_column(t2, infos=INFOS).alias("h")).collect()}
    assert h_t[1] == h[1]          # explicit .0000 == implicit
    t3 = fixture_df.withColumn("c_time_str", F.concat("c_time_str", F.lit(".9876")))
    h_t3 = {r["c_int"]: r["h"] for r in
            t3.select("c_int", row_hash_column(t3, infos=INFOS).alias("h")).collect()}
    assert h_t3[1] == h[1]         # fraction is discarded, like the reference

    # all-NULL row stays stable and uses sentinel (not empty string)
    assert h[3] is not None


def test_binary_token_is_lowercase_hex_of_every_byte(spark):
    """The Spark builder lowercases ``hex``'s A-F with ``translate``, not
    ``lower()``: every byte value must still give Python's lowercase hex."""
    data = bytes(range(256))
    df = spark.createDataFrame([(data,)], "b BINARY")
    row = df.select(F.expr(hash_token_sql("b", T.BinaryType())).alias("sql")).first()
    assert row["sql"] == data.hex()
