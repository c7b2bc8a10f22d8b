"""Canonical row hashing — the reference's core correctness mechanism.

The reference computes the same canonical row serialization twice in two
independent engines (Java at read time → ``row_hash``; Flink/Firebird SQL at
write time → ``row_hash_iceberg``) and audits that they agree
(FirebirdToIcebergJob.java: Java tokens mis:1615-1694, sink-SQL tokens
mis:1820-1862, Firebird-SQL tokens fb:1612-1633).

Here both Spark hashes come from one engine. :func:`row_hash_column` builds
the hash as a PySpark Column expression tree and :func:`row_hash_sql_expr` as
a generated Spark-SQL string. The two builders are coded separately, but
Catalyst resolves them to one expression (``semanticEquals`` over every token
rule), so a write computes one MD5 per row and stores it in both envelope
columns. The audit's compare of that stored pair therefore fails only when a
caller overrides ``row_hash``; ``tests/test_hashing.py`` is what checks that
the builders agree. A third generator, :func:`duckdb_row_hash_sql`, emits the
equivalent DuckDB SQL for the differential oracle harness.

Token rules (all three implementations; citations to mis):
- NULL → ``<NULL>`` sentinel, COALESCE outermost          (1616-1618, 1861)
- FLOAT/DOUBLE/REAL → ROUND(x,6) as DECIMAL(38,6) string  (1622-1631, 1837-1844)
- DECIMAL → plain string, comma→dot                       (1633-1640)
- TIME (string stand-in) → truncate to ``HH:mm:ss``, append ``.0000``
  unconditionally, exactly like the reference      (1646-1651, 1787-1790)
- TIMESTAMP → ``yyyy-MM-dd HH:mm:ss.SSSS`` (4-digit frac) (1653-1659, 1827)
- DATE → ISO string                                       (1661-1666)
- CHAR(n) → right-pad with spaces to precision n          (1668-1673, 1846-1855)
- BINARY → lowercase hex                                  (1675-1683)
  (the Spark builders map ``hex``'s ``A-F`` with ``translate``, not
  ``lower()``: ``hex`` emits only ``0-9A-F``, so the token is the same,
  and the first ``lower()`` in a JVM pays a one-off ICU table build of
  about 3.4 CPU-s; the DuckDB oracle keeps ``lower(hex(x))``)
- everything else → toString                              (1685-1687)
- every token truncated to 1000 chars                     (1690-1692, 1861)
- tokens joined with ``'|'``, MD5, lowercase hex          (1598-1613, 1806-1810)

Everything is built-in expressions — md5/concat_ws/date_format/rpad/round —
so whole-stage codegen applies; no Python runs per row at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_job_spark.types import ColumnInfo, quote_identifier

NULL_SENTINEL = "<NULL>"
TOKEN_MAX_LEN = 1000  # mis:1690-1692
TOKEN_SEP = "|"       # mis:1599-1605
TS_FORMAT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSS"  # 4 fractional digits, mis:1656


def _hints(dtype: T.DataType, info: ColumnInfo | None) -> tuple[bool, int, bool]:
    is_char = bool(info and info.is_char and info.precision > 0)
    precision = info.precision if info else 0
    is_time = bool(info and info.is_time)
    return is_char, precision, is_time


# ---------------------------------------------------------------------------
# Implementation 1: Column-expression tree (the "source-side" row_hash)
# ---------------------------------------------------------------------------

def hash_token_column(col: Column, dtype: T.DataType, info: ColumnInfo | None = None) -> Column:
    """Canonical string token for one column as a Column expression."""
    is_char, precision, is_time = _hints(dtype, info)

    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        tok = F.round(col.cast("double"), 6).cast("decimal(38,6)").cast("string")
    elif isinstance(dtype, T.DecimalType):
        tok = F.replace(col.cast("string"), F.lit(","), F.lit("."))
    elif isinstance(dtype, (T.TimestampNTZType, T.TimestampType)):
        tok = F.date_format(col, TS_FORMAT_SPARK)
    elif isinstance(dtype, T.DateType):
        tok = col.cast("string")
    elif isinstance(dtype, T.BinaryType):
        tok = F.translate(F.hex(col), "ABCDEF", "abcdef")
    elif isinstance(dtype, T.StringType) and is_time:
        # TIME stand-in: truncate to 'HH:mm:ss', then always '.0000' — the
        # reference's canonicalizers discard any fraction (mis:1646-1651)
        tok = F.concat(F.substring(col, 1, 8), F.lit(".0000"))
    elif isinstance(dtype, T.StringType) and is_char:
        tok = F.rpad(col, precision, " ")
    else:
        tok = col.cast("string")

    return F.coalesce(F.substring(tok, 1, TOKEN_MAX_LEN), F.lit(NULL_SENTINEL))


def row_hash_column(df: DataFrame, cols: list[str] | None = None,
                    infos: dict[str, ColumnInfo] | None = None) -> Column:
    """MD5 row hash over the canonical tokens of ``cols`` (default: all df columns)."""
    names = cols if cols is not None else df.columns
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    tokens = [hash_token_column(F.col(n), dtypes[n], (infos or {}).get(n)) for n in names]
    return F.md5(F.concat_ws(TOKEN_SEP, *tokens))


# ---------------------------------------------------------------------------
# Implementation 2: generated Spark-SQL string (the "sink-side" row_hash_iceberg)
# Coded separately on purpose — mirrors the reference's buildHashExpression
# SQL generator (mis:1802-1862); it analyzes to the same expression as
# implementation 1. Use with F.expr(...).
# ---------------------------------------------------------------------------

def hash_token_sql(name: str, dtype: T.DataType, info: ColumnInfo | None = None) -> str:
    q = quote_identifier(name)
    is_char, precision, is_time = _hints(dtype, info)

    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        tok = f"CAST(CAST(ROUND(CAST({q} AS DOUBLE), 6) AS DECIMAL(38,6)) AS STRING)"
    elif isinstance(dtype, T.DecimalType):
        tok = f"REPLACE(CAST({q} AS STRING), ',', '.')"
    elif isinstance(dtype, (T.TimestampNTZType, T.TimestampType)):
        tok = f"DATE_FORMAT({q}, '{TS_FORMAT_SPARK}')"
    elif isinstance(dtype, T.DateType):
        tok = f"CAST({q} AS STRING)"
    elif isinstance(dtype, T.BinaryType):
        tok = f"TRANSLATE(HEX({q}), 'ABCDEF', 'abcdef')"
    elif isinstance(dtype, T.StringType) and is_time:
        tok = f"CONCAT(SUBSTRING({q}, 1, 8), '.0000')"
    elif isinstance(dtype, T.StringType) and is_char:
        tok = f"RPAD({q}, {precision}, ' ')"
    else:
        tok = f"CAST({q} AS STRING)"

    return f"COALESCE(SUBSTRING({tok}, 1, {TOKEN_MAX_LEN}), '{NULL_SENTINEL}')"


def row_hash_sql_expr(schema: T.StructType, cols: list[str] | None = None,
                      infos: dict[str, ColumnInfo] | None = None) -> str:
    names = cols if cols is not None else [f.name for f in schema.fields]
    dtypes = {f.name: f.dataType for f in schema.fields}
    tokens = [hash_token_sql(n, dtypes[n], (infos or {}).get(n)) for n in names]
    return f"MD5(CONCAT_WS('{TOKEN_SEP}', {', '.join(tokens)}))"


# ---------------------------------------------------------------------------
# Implementation 3: DuckDB SQL generator for the differential oracle
# (the analog of the reference's second engine; SURVEY §5)
# ---------------------------------------------------------------------------

def duckdb_hash_token_sql(name: str, dtype: T.DataType, info: ColumnInfo | None = None) -> str:
    q = '"' + name.replace('"', '""') + '"'
    is_char, precision, is_time = _hints(dtype, info)

    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        # Round the SHORTEST DECIMAL REPR, not the exact binary value: Spark's
        # ROUND(double,6) goes through BigDecimal.valueOf(Double.toString(x))
        # — i.e. it rounds x's shortest repr HALF_UP. DuckDB's direct
        # double→decimal cast instead rounds the exact binary expansion, which
        # diverges whenever the repr ties at the 7th decimal (fuzz-found:
        # 536870912.4978625 → repr-tie rounds up, exact ...6245822... rounds
        # down). Going through VARCHAR makes DuckDB round the repr too
        # (VARCHAR→DECIMAL is HALF_UP), matching Java digit-for-digit; it also
        # sidesteps DuckDB round()'s 1e6-multiply precision loss past 2^53
        # (576460752305.0 → ...304.999936). FLOAT widens to DOUBLE first,
        # exactly like the Spark tokens' CAST(x AS DOUBLE).
        # |x| < 5e-7 short-circuits to '0.000000': DuckDB's VARCHAR→DECIMAL
        # mis-rounds scientific exponents below the scale (fuzz-found:
        # '5e-324' and '9e-08' → 0.000001) — every such value rounds to zero
        # under HALF_UP anyway; at |x| ≥ 5e-7 the cast is digit-exact vs Java.
        cast_chain = (f"CAST(CAST(CAST(CAST({q} AS DOUBLE) AS VARCHAR) "
                      f"AS DECIMAL(38,6)) AS VARCHAR)")
        tok = (f"CASE WHEN abs(CAST({q} AS DOUBLE)) < 5e-7 THEN '0.000000' "
               f"ELSE {cast_chain} END")
    elif isinstance(dtype, T.DecimalType):
        tok = f"REPLACE(CAST({q} AS VARCHAR), ',', '.')"
    elif isinstance(dtype, (T.TimestampNTZType, T.TimestampType)):
        tok = (f"strftime(CAST({q} AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.') || "
               f"substr(strftime(CAST({q} AS TIMESTAMP), '%f'), 1, 4)")
    elif isinstance(dtype, T.DateType):
        tok = f"CAST({q} AS VARCHAR)"
    elif isinstance(dtype, T.BinaryType):
        tok = f"lower(hex({q}))"
    elif isinstance(dtype, T.StringType) and is_time:
        tok = f"substr({q}, 1, 8) || '.0000'"
    elif isinstance(dtype, T.StringType) and is_char:
        tok = f"rpad({q}, {precision}, ' ')"
    else:
        tok = f"CAST({q} AS VARCHAR)"

    return f"COALESCE(substr({tok}, 1, {TOKEN_MAX_LEN}), '{NULL_SENTINEL}')"


def duckdb_row_hash_sql(schema: T.StructType, cols: list[str] | None = None,
                        infos: dict[str, ColumnInfo] | None = None) -> str:
    names = cols if cols is not None else [f.name for f in schema.fields]
    dtypes = {f.name: f.dataType for f in schema.fields}
    tokens = [duckdb_hash_token_sql(n, dtypes[n], (infos or {}).get(n)) for n in names]
    return f"md5(concat_ws('{TOKEN_SEP}', {', '.join(tokens)}))"


# --- deterministic md5 bucketing ----------------------------------------------------
# The repo-wide sampling/sharding idiom: the first 32 bits of md5 as an
# unsigned integer, identical across engines, retries, and partitionings
# (never rand()). Spark builder and DuckDB twin live together so the six
# call sites (mixture, weighted sample, CV folds, stratified sample,
# feature hashing, train shuffle) can never drift apart.

def md5_u32(col: Column) -> Column:
    """First 32 md5 bits of ``col`` as a bigint in [0, 2^32)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def md5_u32_duck(expr: str) -> str:
    return f"CAST('0x' || substring(md5({expr}), 1, 8) AS BIGINT)"
