"""Property-based cross-engine hash fuzz: for ANY typed row, the Spark
builder (generated Spark SQL, reached as a Column or through ``F.expr``) and
the independently coded DuckDB SQL twin must produce the identical MD5 — the
reference's dual-implementation correctness idea, fuzzed instead of fixtured.

NaN/±inf are excluded: the reference's source types (Firebird via JDBC) can't
produce them, and DECIMAL casts of non-finite values differ per engine.
"""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from flink_job_spark.functions.hashing import (
    duckdb_row_hash_sql,
    row_hash_column,
    row_hash_sql_expr,
)

SCHEMA = T.StructType([
    T.StructField("i", T.LongType()),
    T.StructField("f", T.DoubleType()),
    T.StructField("s", T.StringType()),
    T.StructField("t", T.TimestampNTZType()),
    T.StructField("d", T.DateType()),
])

# Both engines round the double's SHORTEST REPR half-up (Spark via
# BigDecimal.valueOf(Double.toString), DuckDB via the VARCHAR→DECIMAL hop in
# the oracle token), so the contract holds at any magnitude the DECIMAL(38,6)
# token can carry; ±1e15 keeps clear of the cast-overflow edge where Spark
# yields NULL and DuckDB errors.
finite_doubles = st.floats(allow_nan=False, allow_infinity=False,
                           min_value=-1e15, max_value=1e15)
# printable incl. the token separator '|', quotes, and the NULL sentinel text
tricky_strings = st.one_of(
    st.text(min_size=0, max_size=40),
    st.sampled_from(["<NULL>", "a|b", "it's", 'say "hi"', "  padded  ", "|||"]),
)
timestamps = st.datetimes(min_value=dt.datetime(1970, 1, 2),
                          max_value=dt.datetime(2099, 12, 31))
dates = st.dates(min_value=dt.date(1970, 1, 2), max_value=dt.date(2099, 12, 31))

row_strategy = st.tuples(
    st.one_of(st.none(), st.integers(min_value=-2**62, max_value=2**62)),
    st.one_of(st.none(), finite_doubles),
    st.one_of(st.none(), tricky_strings),
    st.one_of(st.none(), timestamps),
    st.one_of(st.none(), dates),
)


@pytest.mark.usefixtures("spark")
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(row_strategy, min_size=1, max_size=40))
def test_three_hash_impls_agree(spark, tmp_path_factory, rows):
    import duckdb
    from pyspark.sql import functions as F

    # microsecond precision only (parquet storage granularity)
    rows = [(i, f, s, t.replace(microsecond=(t.microsecond // 100) * 100) if t else None, d)
            for (i, f, s, t, d) in rows]
    df = spark.createDataFrame(rows, SCHEMA)

    both = df.select(
        row_hash_column(df).alias("h_col"),
        F.expr(row_hash_sql_expr(SCHEMA)).alias("h_sql"),
    ).collect()
    assert all(r["h_col"] == r["h_sql"] for r in both), both

    path = str(tmp_path_factory.mktemp("hashfuzz") / "t.parquet")
    df.write.mode("overwrite").parquet(path)
    con = duckdb.connect()
    duck = con.execute(
        f"SELECT {duckdb_row_hash_sql(SCHEMA)} AS h FROM read_parquet('{path}/*.parquet')"
    ).df()["h"]
    assert sorted(r["h_col"] for r in both) == sorted(duck.tolist())


def test_large_magnitude_production_pair_agrees(spark):
    """The production Spark hash gives the expected MD5 on fuzz-found
    adversarial magnitudes: 576460752305.0 (2^53/1e6 edge), a repr-tie at the
    7th decimal (rounded half-up) and a value past 2^53."""
    import hashlib

    doubles = {576460752305.0: "576460752305.000000",
               536870912.4978625: "536870912.497863",
               -9.9e15: "-9900000000000000.000000"}
    df = spark.createDataFrame([(None, f, None, None, None) for f in doubles], SCHEMA)
    got = {r["f"]: r["h"] for r in df.select("f", row_hash_column(df).alias("h")).collect()}
    for f, token in doubles.items():
        want = hashlib.md5(f"<NULL>|{token}|<NULL>|<NULL>|<NULL>".encode()).hexdigest()
        assert got[f] == want, (f, token)
