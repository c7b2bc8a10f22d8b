"""Type-lattice unit tests (SURVEY §1.2) + audit drill-down coverage."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_job_spark.types import (
    JDBC,
    ColumnInfo,
    jdbc_to_spark_type,
    quote_identifier,
    to_struct_type,
)

LATTICE = [
    (JDBC["BIT"], T.BooleanType()), (JDBC["BOOLEAN"], T.BooleanType()),
    (JDBC["TINYINT"], T.ShortType()), (JDBC["SMALLINT"], T.ShortType()),
    (JDBC["INTEGER"], T.IntegerType()), (JDBC["BIGINT"], T.LongType()),
    (JDBC["FLOAT"], T.FloatType()), (JDBC["REAL"], T.FloatType()),
    (JDBC["DOUBLE"], T.DoubleType()),
    (JDBC["DATE"], T.DateType()),
    (JDBC["TIME"], T.StringType()),                 # no Spark TIME type
    (JDBC["TIME_WITH_TIMEZONE"], T.StringType()),
    (JDBC["TIMESTAMP"], T.TimestampNTZType()),      # LocalDateTime semantics
    (JDBC["TIMESTAMP_WITH_TIMEZONE"], T.TimestampNTZType()),
    (JDBC["BINARY"], T.BinaryType()), (JDBC["VARBINARY"], T.BinaryType()),
    (JDBC["LONGVARBINARY"], T.BinaryType()),
    (JDBC["CHAR"], T.StringType()), (JDBC["VARCHAR"], T.StringType()),
    (JDBC["CLOB"], T.StringType()),
]


def test_full_lattice():
    for jdbc_id, expected in LATTICE:
        assert jdbc_to_spark_type(jdbc_id) == expected, jdbc_id


def test_decimal_precision_scale_and_defaults():
    assert jdbc_to_spark_type(JDBC["DECIMAL"], 12, 4) == T.DecimalType(12, 4)
    assert jdbc_to_spark_type(JDBC["NUMERIC"], 0, 0) == T.DecimalType(38, 0)
    assert jdbc_to_spark_type(JDBC["DECIMAL"], 10, -2) == T.DecimalType(10, 0)


def test_unknown_type_degrades_to_string():
    assert jdbc_to_spark_type(99999) == T.StringType()


def test_char_time_hints():
    assert ColumnInfo("x", JDBC["CHAR"], precision=5).is_char
    assert not ColumnInfo("x", JDBC["VARCHAR"]).is_char
    assert ColumnInfo("t", JDBC["TIME"]).is_time


@pytest.mark.parametrize("derived", [{"spark_type": T.LongType()}, {"is_char": True},
                                     {"is_time": True}], ids=lambda d: next(iter(d)))
def test_derived_fields_are_not_constructor_arguments(derived):
    """spark_type, is_char and is_time always come from the JDBC type id, so
    passing one is an error, not a value silently overwritten."""
    with pytest.raises(TypeError):
        ColumnInfo("x", JDBC["INTEGER"], **derived)


def test_struct_type_nullability():
    cols = [ColumnInfo("a", JDBC["INTEGER"], nullable=False),
            ColumnInfo("b", JDBC["VARCHAR"], nullable=True)]
    st = to_struct_type(cols)
    assert st.fields[0].nullable is False and st.fields[1].nullable is True


def test_identifier_helpers():
    assert quote_identifier("we`ird") == "`we``ird`"


def test_column_token_diff_finds_divergent_column(spark, sf_dir):
    """Drill-down on one corrupted row reports exactly the corrupted column."""
    from flink_job_spark.operators.audit import column_token_diff
    from flink_job_spark.sources.tables import load_table

    src = load_table(spark, sf_dir, "customer")
    tgt = src.withColumn(
        "c_acctbal",
        F.when(F.col("c_custkey") == 42, F.col("c_acctbal") + 1)
         .otherwise(F.col("c_acctbal")),
    )
    diff = column_token_diff(src, tgt, "c_custkey", 42, list(src.columns))
    bad = [d["column"] for d in diff if not d["equal"]]
    assert bad == ["c_acctbal"]
