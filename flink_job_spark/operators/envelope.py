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

from flink_job_spark.functions.hashing import row_hash_column
from flink_job_spark.types import ColumnInfo, source_col

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
    to the canonical hash over all source columns. Every slot without a
    value (the CDC-reserved ones and ``row_hash_iceberg``, which
    :func:`stamp` fills) is a NULL of its ``TECH_COLUMNS`` type.
    """
    src_cols = list(df.columns)
    names = tech_column_names(src_cols)
    if row_hash is None:
        row_hash = row_hash_column(df, src_cols, infos)

    values: dict[str, Column] = {
        "load_dttm": F.lit(load_dttm or dt.datetime.now())
                      .cast(dict(TECH_COLUMNS)["load_dttm"]),
        "op": F.lit(OP_INITIAL),
        "src_system_code": F.lit(src_system_code),
        "row_hash": row_hash,
    }
    projection = [source_col(c) for c in src_cols]
    projection += [(values[slot] if slot in values else F.lit(None).cast(ddl))
                   .alias(names[slot]) for slot, ddl in TECH_COLUMNS]
    return df.select(*projection)


def stamp(
    df: DataFrame,
    src_system_code: str,
    load_dttm: dt.datetime | None,
    infos: dict[str, ColumnInfo] | None,
    row_hash: Column | None = None,
) -> tuple[DataFrame, dict[str, str]]:
    """The full stamp every ingest path writes: the envelope with
    ``row_hash_iceberg`` filled during the write (mis:918-939). Both hash
    columns come from the one canonical builder, so they hold one MD5 per
    row, and the audit's compare of them fails only when ``row_hash`` is
    overridden. Returns the stamped frame and the collision-resolved
    envelope names the audit must compare."""
    names = tech_column_names(df.columns)
    canonical = row_hash_column(df, infos=infos)
    enveloped = with_envelope(df, src_system_code, load_dttm, infos,
                              canonical if row_hash is None else row_hash)
    return enveloped.withColumn(names["row_hash_iceberg"], canonical), names


def with_load_month(df: DataFrame, names: dict[str, str]) -> DataFrame:
    """Explicit ``load_month`` partition column: the parquet stand-in for the
    hidden month(load_dttm) transform (mis:905)."""
    return df.withColumn("load_month",
                         F.date_format(F.col(names["load_dttm"]), "yyyy-MM"))
