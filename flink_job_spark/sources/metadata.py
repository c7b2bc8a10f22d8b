"""Live JDBC metadata scan — DatabaseMetaData through the driver JVM.

The reference reads column metadata, primary keys, and the frozen watermark
directly over JDBC before building the Flink job (readTableMetadata
mis:528-588, detectPrimaryKeyColumn mis:598-626, readWatermarkValue
mis:628-650). The Spark-native twin runs the same java.sql calls through
py4j on the driver: schema discovery is a driver-side concern (the result
configures the distributed read; it is not row data).

All helpers take an optional ``properties`` dict (user/password/encoding —
the reference sets user, password, encoding, authPlugins, mis:533-537).
"""

from __future__ import annotations

import logging
from typing import Any

from pyspark.sql import SparkSession

from flink_job_spark.sources.jdbc import quote_source_identifier
from flink_job_spark.types import JDBC, ColumnInfo

log = logging.getLogger(__name__)

_COLUMN_NO_NULLS = 0  # java.sql.DatabaseMetaData.columnNoNulls


def _connect(spark: SparkSession, url: str, properties: dict[str, str] | None = None):
    jvm = spark.sparkContext._jvm
    props = jvm.java.util.Properties()
    for k, v in (properties or {}).items():
        props.setProperty(k, v)
    return jvm.java.sql.DriverManager.getConnection(url, props)


def read_table_metadata(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
) -> list[ColumnInfo]:
    """DatabaseMetaData.getColumns → ColumnInfo list (mis:528-588).

    BLOB columns are skipped at schema time (mis:552-555); unknown types
    degrade to STRING with a warning inside the type lattice (mis:568-579)."""
    cols: list[ColumnInfo] = []
    conn = _connect(spark, url, properties)
    try:
        rs = conn.getMetaData().getColumns(None, None, table, None)
        try:
            while rs.next():
                name = rs.getString("COLUMN_NAME").strip()
                jdbc_type = rs.getInt("DATA_TYPE")
                type_name = (rs.getString("TYPE_NAME") or "").strip().upper()
                precision = rs.getInt("COLUMN_SIZE")
                scale = rs.getInt("DECIMAL_DIGITS")
                nullable = rs.getInt("NULLABLE") != _COLUMN_NO_NULLS
                if jdbc_type == JDBC["BLOB"] or "BLOB" in type_name:
                    log.warning("skipping BLOB column %s (type %s, mis:552-555)",
                                name, type_name)
                    continue
                cols.append(ColumnInfo(name, jdbc_type, type_name=type_name,
                                       precision=precision, scale=scale,
                                       nullable=nullable))
        finally:
            rs.close()
    finally:
        conn.close()
    return cols


def detect_primary_key(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
) -> str | None:
    """DatabaseMetaData.getPrimaryKeys, lowest KEY_SEQ wins (mis:598-626);
    None on any failure — callers fall back to the first column."""
    try:
        conn = _connect(spark, url, properties)
        try:
            rs = conn.getMetaData().getPrimaryKeys(None, None, table)
            best, best_seq = None, None
            try:
                while rs.next():
                    seq = rs.getInt("KEY_SEQ")
                    col = rs.getString("COLUMN_NAME")
                    if col is not None and (best_seq is None or seq < best_seq):
                        best, best_seq = col.strip(), seq
            finally:
                rs.close()
            return best
        finally:
            conn.close()
    except Exception:
        return None


def _query_row(spark: SparkSession, url: str, sql: str, ncols: int,
               properties: dict[str, str] | None) -> tuple | None:
    """First row of a one-row query as Python values, None if it is empty."""
    conn = _connect(spark, url, properties)
    try:
        st = conn.createStatement()
        try:
            rs = st.executeQuery(sql)
            try:
                if not rs.next():
                    return None
                return tuple(_from_java(rs.getObject(i))
                             for i in range(1, ncols + 1))
            finally:
                rs.close()
        finally:
            st.close()
    finally:
        conn.close()


def read_watermark_value(
    spark: SparkSession,
    url: str,
    table: str,
    order_col: str,
    properties: dict[str, str] | None = None,
) -> Any:
    """Freeze the snapshot cutoff: SELECT MAX(order_col) at job start
    (mis:628-650). Runs as one scalar query on the source."""
    q = quote_source_identifier
    row = _query_row(spark, url, f"SELECT MAX({q(order_col)}) FROM {q(table)}",
                     1, properties)
    return None if row is None else row[0]


def read_key_bounds(
    spark: SparkSession,
    url: str,
    table: str,
    order_col: str,
    properties: dict[str, str] | None = None,
) -> tuple[Any, Any] | None:
    """(MIN, MAX) of the order key — the partition bounds for the parallel
    key-range read (the scalable successor of the reference's single cursor).
    MAX is also the snapshot cutoff, so one statement can freeze both."""
    q = quote_source_identifier
    row = _query_row(spark, url, f"SELECT MIN({q(order_col)}), MAX({q(order_col)}) "
                                 f"FROM {q(table)}", 2, properties)
    if row is None or None in row:
        return None
    return row


def _from_java(v: Any) -> Any:
    """py4j auto-converts primitives; java.sql temporal/decimal objects come
    back as JavaObject — stringify through their canonical toString and let
    the caller's literal renderer handle them."""
    import datetime as _dt
    from decimal import Decimal as _Dec
    if v is None or isinstance(v, (int, float, bool, str, _Dec,
                                   _dt.datetime, _dt.date, _dt.time)):
        return v
    cls = v.getClass().getName()
    if cls == "java.math.BigDecimal":
        from decimal import Decimal
        return Decimal(v.toString())
    if cls == "java.sql.Timestamp":
        import datetime as dt
        # keep MICROSECOND precision: truncating to ms ([:23]) shifted a
        # µs-precision cutoff BELOW the max row, silently excluding the rows
        # that defined MAX(order_col) from their own snapshot. toString()
        # prints 1-9 fractional digits; pad/truncate to 6 (µs — Spark's own
        # timestamp precision).
        base, frac = v.toString().split(".")
        return dt.datetime.strptime(
            f"{base}.{(frac + '000000')[:6]}", "%Y-%m-%d %H:%M:%S.%f")
    if cls == "java.sql.Date":
        import datetime as dt
        return dt.date.fromisoformat(v.toString())
    return v.toString()
