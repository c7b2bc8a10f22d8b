"""JDBC snapshot source — the Spark-native replacement for the reference's
single-threaded checkpointed JDBC ``RichSourceFunction`` (mis:1005-1219).

The whole custom source class dissolves into ``spark.read.jdbc`` options:
- explicit column list + cutoff predicate → pushed-down `dbtable` subquery
- `fetchSize` cursor paging (mis:1096) → `fetchsize` option
- single-threaded SKIP-offset resume (mis:1073-1080) → key-range
  `partitionColumn/lowerBound/upperBound/numPartitions` PARALLEL read with a
  floor predicate; strictly more scalable, same observable rows under the
  total order on the key.

No database ships in this container, so this module only *builds* reader
configs (pure, unit-testable); `.load()` happens at the call site.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from decimal import Decimal
from typing import Any

from pyspark.sql import DataFrameReader, SparkSession

DEFAULT_FETCH_SIZE = 50_000  # mis:83


def quote_source_identifier(name: str, quote: str = '"') -> str:
    """Source-dialect identifier quoting for the pushed-down subquery — the
    reference double-quotes Firebird identifiers (escapeFirebirdIdentifier,
    mis:857-859). ANSI double-quote is the default (Firebird/Derby/Postgres);
    pass '`' for MySQL-family sources."""
    return quote + name.replace(quote, quote * 2) + quote


def render_sql_literal(value: Any) -> str:
    """Dialect-correct literal rendering for generated predicates (mis:659-689):
    numbers bare, DATE/TIME/TIMESTAMP prefixed literals, strings quoted+escaped."""
    import datetime as dt

    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, (int, float)):
        return repr(value)
    if isinstance(value, Decimal):  # NUMERIC/DECIMAL keys; plain, never 1E+1
        return format(value, "f")
    if isinstance(value, dt.datetime):
        # millisecond precision like the reference (mis:676-680)
        return "TIMESTAMP '" + value.strftime("%Y-%m-%d %H:%M:%S.") + f"{value.microsecond // 1000:03d}'"
    if isinstance(value, dt.date):
        return f"DATE '{value.isoformat()}'"
    if isinstance(value, dt.time):
        return f"TIME '{value.strftime('%H:%M:%S')}'"
    s = str(value).replace("'", "''")
    return f"'{s}'"


@dataclass
class JdbcSnapshotSource:
    """Builds a parallel, cutoff-consistent, resumable JDBC read."""

    url: str
    table: str
    columns: list[str]
    order_col: str
    cutoff: Any = None
    floor: Any = None
    fetch_size: int = DEFAULT_FETCH_SIZE
    num_partitions: int = 1
    bounds: tuple[int, int] | None = None  # (lower, upper) for partitionColumn
    properties: dict[str, str] = field(default_factory=dict)
    quote: str = '"'  # source dialect identifier quote (mis:857-859)
    # metadata-scan ColumnInfos: TIME columns must arrive as the engine's
    # 'HH:mm:ss' STRING stand-in (SURVEY §1.2; types.py lattice). Spark's
    # JDBC reader maps java.sql.Types.TIME to TimestampType by default,
    # which would silently bypass the is_time hash-token rule — customSchema
    # overrides the mapping so the driver's getString() delivers the
    # stand-in directly (asserted end-to-end in tests/test_jdbc_e2e.py).
    infos: dict[str, Any] | None = None

    def snapshot_query(self) -> str:
        """The pushed-down subquery (explicit columns, cutoff+floor predicate),
        mirroring the reference's generated source SQL (mis:1076-1088) minus the
        ORDER BY — parallel key-range partitions supersede single-cursor order."""
        q = lambda n: quote_source_identifier(n, self.quote)  # noqa: E731
        cols = ", ".join(q(c) for c in self.columns)
        preds = []
        if self.cutoff is None:
            preds.append("1 = 0")  # empty-table contradiction (mis:651-656)
        else:
            preds.append(f"{q(self.order_col)} <= {render_sql_literal(self.cutoff)}")
        if self.floor is not None:
            preds.append(f"{q(self.order_col)} > {render_sql_literal(self.floor)}")
        where = " AND ".join(preds)
        return f"(SELECT {cols} FROM {q(self.table)} WHERE {where}) snap"

    def custom_schema(self) -> str | None:
        """`customSchema` clause for columns whose Spark-JDBC default mapping
        diverges from the engine's type lattice — today that is exactly the
        TIME family (stand-in STRING, never TimestampType)."""
        if not self.infos:
            return None
        quoted = [f"{quote_source_identifier(c, '`')} STRING"
                  for c in self.columns
                  if getattr(self.infos.get(c), "is_time", False)]
        return ", ".join(quoted) or None

    def reader(self, spark: SparkSession) -> DataFrameReader:
        r = (spark.read.format("jdbc")
             .option("url", self.url)
             .option("dbtable", self.snapshot_query())
             .option("fetchsize", str(self.fetch_size)))
        cs = self.custom_schema()
        if cs:
            r = r.option("customSchema", cs)
        for k, v in self.properties.items():
            r = r.option(k, v)
        if self.num_partitions > 1 and self.bounds is not None:
            r = (r.option("partitionColumn", self.order_col)
                 .option("lowerBound", str(self.bounds[0]))
                 .option("upperBound", str(self.bounds[1]))
                 .option("numPartitions", str(self.num_partitions)))
        return r
