"""The 11-column tech/audit envelope every ingested table gets.

Reference: names mis:88-91 (fb:83-84 lowercase — we use lowercase like fb),
types mis:898/979-985, values stamped at load mis:1107-1119, name-collision
``__`` prefix mis:866-883. The null columns are CDC-reserved slots (op/ts_ms
mirror Debezium fields); the snapshot path fills load_dttm, op,
src_system_code, row_hash, row_hash_iceberg only.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_job_spark.functions.hashing import row_hash_column, row_hash_sql_expr
from flink_job_spark.types import ColumnInfo

OP_INITIAL = "INITIAL"          # mis:1112
DEFAULT_SRC_SYSTEM = "mis"      # mis:1115

# (name, spark type ddl) in envelope order; mis:88-91, 979-985
TECH_COLUMNS: list[tuple[str, str]] = [
    ("load_dttm", "timestamp_ntz"),      # NOT NULL, month-partition key (mis:898, 905)
    ("load_dttm_tz", "timestamp_ntz"),
    ("load_id", "bigint"),
    ("op", "string"),
    ("ts_ms", "bigint"),
    ("source_ts_ms", "bigint"),
    ("src_system_code", "string"),
    ("extract_dttm", "timestamp_ntz"),
    ("src_chng_dttm", "timestamp_ntz"),
    ("row_hash", "string"),
    ("row_hash_iceberg", "string"),
]


def tech_column_names(source_columns: list[str]) -> dict[str, str]:
    """Envelope name per slot, ``__``-prefixed on collision with a source column
    (mis:866-883)."""
    taken = {c.lower() for c in source_columns}
    out = {}
    for name, _ in TECH_COLUMNS:
        final = name
        while final.lower() in taken:
            final = "__" + final
        out[name] = final
        taken.add(final.lower())
    return out


def with_envelope(
    df: DataFrame,
    src_system_code: str = DEFAULT_SRC_SYSTEM,
    load_dttm: dt.datetime | None = None,
    infos: dict[str, ColumnInfo] | None = None,
    row_hash: Column | None = None,
) -> DataFrame:
    """Project the source columns + the 11 tech columns (mis:1107-1119).

    ``load_dttm`` defaults to now() at plan-build time (the reference stamps
    LocalDateTime.now() per row, mis:1109; a per-plan constant is the
    deterministic equivalent and partition-friendlier). ``row_hash`` defaults
    to the canonical hash over all source columns.
    """
    src_cols = list(df.columns)
    names = tech_column_names(src_cols)
    load_ts = load_dttm or dt.datetime.now()
    if row_hash is None:
        row_hash = row_hash_column(df, src_cols, infos)

    values: dict[str, Column] = {
        "load_dttm": F.lit(load_ts).cast("timestamp_ntz"),
        "load_dttm_tz": F.lit(None).cast("timestamp_ntz"),
        "load_id": F.lit(None).cast("bigint"),
        "op": F.lit(OP_INITIAL),
        "ts_ms": F.lit(None).cast("bigint"),
        "source_ts_ms": F.lit(None).cast("bigint"),
        "src_system_code": F.lit(src_system_code),
        "extract_dttm": F.lit(None).cast("timestamp_ntz"),
        "src_chng_dttm": F.lit(None).cast("timestamp_ntz"),
        "row_hash": row_hash,
        # null at source; filled sink-side by the SQL-string builder during
        # the write (mis:930-935, 1802-1811)
        "row_hash_iceberg": F.lit(None).cast("string"),
    }
    projection = [F.col(c) for c in src_cols]
    projection += [values[slot].alias(names[slot]) for slot, _ in TECH_COLUMNS]
    return df.select(*projection)


def stamp(
    df: DataFrame,
    src_system_code: str,
    load_dttm: dt.datetime | None,
    infos: dict[str, ColumnInfo] | None,
    row_hash: Column | None = None,
) -> tuple[DataFrame, dict[str, str]]:
    """The full stamp every ingest path writes: the envelope with
    ``row_hash_iceberg`` filled by the SQL-string hash builder during the
    write (mis:918-939). The two builders are coded separately but Catalyst
    resolves them to one expression, so both columns hold one MD5 per row
    and the audit's compare of them fails only when ``row_hash`` is
    overridden; ``tests/test_hashing.py`` checks the builders agree.
    Returns the stamped frame and the collision-resolved envelope names the
    audit must compare."""
    src_cols = list(df.columns)
    names = tech_column_names(src_cols)
    sink_hash = row_hash_sql_expr(df.schema, src_cols, infos)
    enveloped = with_envelope(df, src_system_code, load_dttm, infos, row_hash)
    return enveloped.withColumn(names["row_hash_iceberg"], F.expr(sink_hash)), names


def with_load_month(df: DataFrame, names: dict[str, str]) -> DataFrame:
    """Explicit ``load_month`` partition column: the parquet stand-in for the
    hidden month(load_dttm) transform (mis:905)."""
    return df.withColumn("load_month",
                         F.date_format(F.col(names["load_dttm"]), "yyyy-MM"))
