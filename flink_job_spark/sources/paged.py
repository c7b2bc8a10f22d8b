"""Custom Python DataSource: a paginated keyed cursor, Spark-4 style.

The reference ingests Firebird through a fetch-size-paged JDBC cursor with
key-floor resume (FirebirdToIcebergJob.java:1064-1135: `stmt.setFetchSize`,
`WHERE key > floor AND key <= cutoff` pagination). This module re-expresses
that SOURCE CONTRACT as a first-class Spark data source via the Python
DataSource API (pyspark.sql.datasource, Spark 4): every page is an
InputPartition, so page reads parallelize across executors instead of
walking one driver-side cursor, and the same page math serves a
DataSourceStreamReader whose offset log gives exactly-once resumable
ingestion — the reference's checkpoint semantics on Spark's own offset
machinery.

A page is one fetch of ``fetch_size`` keys and one Python task. Each task
pays a fixed Python-worker set-up (about 0.3 CPU-s on a 4-CPU host), so the
page size, not the row count, sets the fixed cost: both readers default to
the reference's fetch size (``DEFAULT_FETCH_SIZE``, mis:83).

Rows are deterministic functions of the key (id, padded payload, bucket),
standing in for the remote table: the shape of the integration (options,
pagination, floor/cutoff pushdown, offsets) is the product surface under
test; swapping the row generator for a real cursor fetch is one method.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from flink_job_spark.sources.jdbc import DEFAULT_FETCH_SIZE

SCHEMA_DDL = "id BIGINT, payload STRING, bucket INT"


def _row(key: int):
    # deterministic stand-in for a cursor fetch: id, CHAR-ish padded
    # payload (reference tables are CHAR-heavy), coarse bucket
    return (key, f"row-{key:012d}".ljust(20), key % 97)


class PagePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start  # inclusive key
        self.end = end      # exclusive key


def check_fetch_size(value) -> int:
    """Validate ``fetch_size`` for both readers and the stream's driver-side
    entry point. A page of 0 or fewer keys never advances, and the stream
    source runner would loop forever."""
    n = int(value)
    if n <= 0:
        raise ValueError(f"fetch_size must be positive, got {n}")
    return n


def _pages(floor: int, cutoff: int, fetch_size: int) -> list[PagePartition]:
    """Key-range pages of ``fetch_size`` keys over (floor, cutoff]."""
    lo = floor + 1
    out = []
    while lo <= cutoff:
        hi = min(lo + fetch_size, cutoff + 1)
        out.append(PagePartition(lo, hi))
        lo = hi
    return out


class PagedCursorReader(DataSourceReader):
    def __init__(self, options):
        self.floor = int(options.get("floor", -1))
        self.cutoff = int(options.get("cutoff", 0))
        self.fetch_size = check_fetch_size(
            options.get("fetch_size", DEFAULT_FETCH_SIZE))

    def partitions(self) -> Sequence[InputPartition]:
        # Spark requires at least one partition; an empty (floor, cutoff]
        # window degenerates to one empty page
        return (_pages(self.floor, self.cutoff, self.fetch_size)
                or [PagePartition(0, 0)])

    def read(self, partition: PagePartition) -> Iterator[tuple]:
        for key in range(partition.start, partition.end):
            yield _row(key)


class PagedCursorStreamReader(DataSourceStreamReader):
    """Micro-batched pages: the offset IS the last committed key (the
    reference's resume floor), so a restart from the checkpoint re-reads
    nothing and skips nothing — exactly-once by offset-log."""

    def __init__(self, options):
        self.cutoff = int(options.get("cutoff", 0))
        self.fetch_size = check_fetch_size(
            options.get("fetch_size", DEFAULT_FETCH_SIZE))

    def initialOffset(self) -> dict:
        return {"last_key": -1}

    def latestOffset(self) -> dict:
        # NOTE: called once per micro-batch; state lives in the offset log,
        # not in this object.
        return {"last_key": self.cutoff}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        lo = int(start["last_key"])
        hi = int(end["last_key"])
        return _pages(lo, hi, self.fetch_size) or [PagePartition(0, 0)]

    def read(self, partition: PagePartition) -> Iterator[tuple]:
        for key in range(partition.start, partition.end):
            yield _row(key)

    def commit(self, end: dict) -> None:
        pass


class PagedCursorDataSource(DataSource):
    """spark.read.format("paged_cursor").option("cutoff", N) — a keyed,
    paginated source with floor/cutoff pushdown, batch + streaming."""

    @classmethod
    def name(cls) -> str:
        return "paged_cursor"

    def schema(self) -> str:
        return SCHEMA_DDL

    def reader(self, schema: StructType) -> PagedCursorReader:
        return PagedCursorReader(self.options)

    def streamReader(self, schema: StructType) -> PagedCursorStreamReader:
        return PagedCursorStreamReader(self.options)


def register_paged_source(spark) -> None:
    spark.dataSource.register(PagedCursorDataSource)
