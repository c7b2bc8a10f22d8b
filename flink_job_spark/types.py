"""The dynamic type lattice: source (JDBC) type ids → Spark types.

The reference infers schemas at runtime from JDBC ``DatabaseMetaData.getColumns``
and derives three parallel type representations from the JDBC type id
(reference: mis_initial_job/src/main/java/com/rzdmed/flink/FirebirdToIcebergJob.java
mapToFlinkType 698-745, mapToIcebergSqlType 750-799, mapToFlinkDataType 804-844).
Here the mapping runs in one direction, JDBC id → Spark ``DataType``, and is
applied once: the JDBC reader declares every column as its lattice type
(``customSchema``, ``sources/jdbc.py``), so the frame holds these types and
every later consumer (hash tokens, the parquet target, the Iceberg DDL) reads
them off the frame. ``ColumnInfo`` also carries the per-column hints the hash
canonicalizer needs (char precision, time-ness).

Notable semantics preserved:
- unknown types degrade to STRING with a warning (mis:568-579)
- BLOB columns are dropped at schema time (mis:552-555)
- TIME has no Spark type → represented as ``HH:mm:ss[.ffff]`` STRING (SURVEY §1.2)
- TIMESTAMP is timezone-naive (LocalDateTime, mis:1194-1197) → ``TimestampNTZType``
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

from pyspark.sql import types as T

log = logging.getLogger(__name__)

# java.sql.Types constants (public JDBC API) — keyed by id as the reference does.
JDBC = {
    "BIT": -7, "TINYINT": -6, "SMALLINT": 5, "INTEGER": 4, "BIGINT": -5,
    "FLOAT": 6, "REAL": 7, "DOUBLE": 8, "NUMERIC": 2, "DECIMAL": 3,
    "CHAR": 1, "NCHAR": -15, "VARCHAR": 12, "NVARCHAR": -9,
    "LONGVARCHAR": -1, "CLOB": 2005, "BOOLEAN": 16,
    "DATE": 91, "TIME": 92, "TIME_WITH_TIMEZONE": 2013,
    "TIMESTAMP": 93, "TIMESTAMP_WITH_TIMEZONE": 2014,
    "BINARY": -2, "VARBINARY": -3, "LONGVARBINARY": -4, "BLOB": 2004,
}
_CHAR_TYPE_IDS = {JDBC["CHAR"], JDBC["NCHAR"]}
_TIME_TYPE_IDS = {JDBC["TIME"], JDBC["TIME_WITH_TIMEZONE"]}


@dataclass
class ColumnInfo:
    """Mirror of the reference's ColumnInfo POJO (mis:1871-1886)."""

    name: str
    jdbc_type: int
    type_name: str = ""
    precision: int = 0
    scale: int = 0
    nullable: bool = True
    spark_type: T.DataType = field(default_factory=T.StringType)
    # hash-canonicalization hints not expressible in the Spark type alone
    is_char: bool = False       # CHAR/NCHAR → rpad-to-precision token (mis:1668-1673)
    is_time: bool = False       # TIME stand-in string → '.0000' suffix token (mis:1642-1651)

    def __post_init__(self) -> None:
        self.spark_type = jdbc_to_spark_type(self.jdbc_type, self.precision, self.scale)
        self.is_char = self.jdbc_type in _CHAR_TYPE_IDS
        self.is_time = self.jdbc_type in _TIME_TYPE_IDS


def jdbc_to_spark_type(jdbc_type: int, precision: int = 0, scale: int = 0) -> T.DataType:
    """JDBC type id → Spark DataType (the lattice of mis:698-844, SURVEY §1.2)."""
    j = JDBC
    if jdbc_type in (j["BIT"], j["BOOLEAN"]):
        return T.BooleanType()
    if jdbc_type in (j["TINYINT"], j["SMALLINT"]):
        return T.ShortType()
    if jdbc_type == j["INTEGER"]:
        return T.IntegerType()
    if jdbc_type == j["BIGINT"]:
        return T.LongType()
    if jdbc_type in (j["FLOAT"], j["REAL"]):
        return T.FloatType()
    if jdbc_type == j["DOUBLE"]:
        return T.DoubleType()
    if jdbc_type in (j["NUMERIC"], j["DECIMAL"]):
        return T.DecimalType(precision if precision > 0 else 38, max(scale, 0))
    if jdbc_type == j["DATE"]:
        return T.DateType()
    if jdbc_type in _TIME_TYPE_IDS:
        return T.StringType()  # no Spark TIME type; 'HH:mm:ss[.ffff]' string
    if jdbc_type in (j["TIMESTAMP"], j["TIMESTAMP_WITH_TIMEZONE"]):
        return T.TimestampNTZType()  # reference strips TZ to LocalDateTime (mis:1194-1197)
    if jdbc_type in (j["BINARY"], j["VARBINARY"], j["LONGVARBINARY"], j["BLOB"]):
        return T.BinaryType()
    if jdbc_type not in (j["CHAR"], j["NCHAR"], j["VARCHAR"], j["NVARCHAR"],
                         j["LONGVARCHAR"], j["CLOB"]):
        log.warning("unknown jdbc type id %s — degrading to STRING (mis:568-579)", jdbc_type)
    return T.StringType()


def to_struct_type(cols: list[ColumnInfo]) -> T.StructType:
    return T.StructType([T.StructField(c.name, c.spark_type, c.nullable) for c in cols])


def quote_identifier(name: str) -> str:
    """Backtick-quote for Spark SQL (the reference backticks Flink SQL ids, mis:853-855)."""
    return "`" + name.replace("`", "``") + "`"
