"""End-to-end JDBC read through JdbcSnapshotSource against embedded Derby
(ships with Spark) — closes the gap that only the generated query string was
tested. Mirrors the reference's live read path (mis:1064-1135): explicit
columns + cutoff/floor predicate pushed into the dbtable subquery, fetchsize,
parallel key-range partitions."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from flink_job_spark.sources.jdbc import JdbcSnapshotSource, quote_source_identifier
from flink_job_spark.sources.tables import load_table

URL = "jdbc:derby:memory:fjs_e2e;create=true"
N_ROWS = 200
COLS = ["c_custkey", "c_name", "c_acctbal", "c_mktsegment"]


@pytest.fixture(scope="module")
def derby_customer(spark, sf_dir):
    """CREATE a Derby table mirroring 200 customer rows from the parquet twin.
    Runs in the same JVM via the driver's JDBC (DriverManager), so the
    in-memory DB is visible to Spark's executor threads in local mode."""
    rows = (load_table(spark, sf_dir, "customer")
            .select(*COLS).orderBy("c_custkey").limit(N_ROWS).collect())
    jvm = spark.sparkContext._jvm
    conn = jvm.java.sql.DriverManager.getConnection(URL)
    st = conn.createStatement()
    st.executeUpdate(
        'CREATE TABLE "customer" ('
        '"c_custkey" BIGINT NOT NULL, "c_name" VARCHAR(64), '
        '"c_acctbal" DOUBLE, "c_mktsegment" VARCHAR(16))')
    ps = conn.prepareStatement('INSERT INTO "customer" VALUES (?, ?, ?, ?)')
    for r in rows:
        ps.setLong(1, r["c_custkey"])
        ps.setString(2, r["c_name"])
        ps.setDouble(3, float(r["c_acctbal"]))
        ps.setString(4, r["c_mktsegment"])
        ps.addBatch()
    ps.executeBatch()
    ps.close()
    st.close()
    conn.close()
    yield rows


def _twin(spark, sf_dir, cutoff, floor=None):
    df = (load_table(spark, sf_dir, "customer")
          .select(*COLS).orderBy("c_custkey").limit(N_ROWS)
          .filter(F.col("c_custkey") <= cutoff))
    if floor is not None:
        df = df.filter(F.col("c_custkey") > floor)
    return df


def _canon(df):
    return sorted((r["c_custkey"], r["c_name"], float(r["c_acctbal"]), r["c_mktsegment"])
                  for r in df.collect())


def test_jdbc_read_matches_parquet_twin(spark, sf_dir, derby_customer):
    cutoff = max(r["c_custkey"] for r in derby_customer)
    src = JdbcSnapshotSource(URL, "customer", COLS, "c_custkey", cutoff=cutoff)
    df = src.reader(spark).load()
    assert df.columns == COLS  # explicit projection reached the source
    assert _canon(df) == _canon(_twin(spark, sf_dir, cutoff))


def test_jdbc_cutoff_and_floor_prune_at_source(spark, sf_dir, derby_customer):
    """The cutoff+floor predicate lives inside the pushed dbtable subquery —
    the source returns only the pruned rows (mirrors mis:1076-1088)."""
    keys = sorted(r["c_custkey"] for r in derby_customer)
    cutoff, floor = keys[149], keys[49]  # keep (49,149]
    src = JdbcSnapshotSource(URL, "customer", COLS, "c_custkey",
                             cutoff=cutoff, floor=floor)
    assert f'"c_custkey" <= {cutoff!r}' in src.snapshot_query()
    df = src.reader(spark).load()
    assert df.count() == 100
    assert _canon(df) == _canon(_twin(spark, sf_dir, cutoff, floor))


def test_jdbc_parallel_partitioned_read(spark, sf_dir, derby_customer):
    """numPartitions+bounds split the key range into parallel queries
    (the scalable replacement for the reference's single cursor)."""
    keys = sorted(r["c_custkey"] for r in derby_customer)
    cutoff = keys[-1]
    src = JdbcSnapshotSource(URL, "customer", COLS, "c_custkey", cutoff=cutoff,
                             num_partitions=4, bounds=(keys[0], cutoff))
    df = src.reader(spark).load()
    assert df.rdd.getNumPartitions() == 4
    assert _canon(df) == _canon(_twin(spark, sf_dir, cutoff))


def test_jdbc_empty_cutoff_contradiction(spark, derby_customer):
    """cutoff=None renders the 1=0 contradiction (mis:651-656) → zero rows
    fetched from the source."""
    src = JdbcSnapshotSource(URL, "customer", COLS, "c_custkey", cutoff=None)
    assert "1 = 0" in src.snapshot_query()
    assert src.reader(spark).load().count() == 0


def test_quote_source_identifier_dialects():
    assert quote_source_identifier('a"b') == '"a""b"'      # ANSI (mis:857-859)


# --- live TIME column through the full source -> envelope -> hash path --------
#
# VERDICT r3 item 7: the TIME canonicalization ('HH:mm:ss' stand-in +
# '.0000' suffix, mis:1642-1651 / SURVEY §1.2) was pinned only against
# DuckDB strings. This drives a REAL java.sql.Types.TIME column from
# embedded Derby through metadata scan -> customSchema read -> envelope ->
# row hash, and asserts the end-to-end md5 against the Java-side rule
# computed independently in pure Python.

TIME_URL = "jdbc:derby:memory:fjs_time_e2e;create=true"
TIME_ROWS = [(1, "13:45:07"), (2, "00:00:00"), (3, "23:59:59"), (4, None)]


@pytest.fixture(scope="module")
def derby_timetab(spark):
    jvm = spark.sparkContext._jvm
    conn = jvm.java.sql.DriverManager.getConnection(TIME_URL)
    st = conn.createStatement()
    st.executeUpdate('CREATE TABLE "timetab" ('
                     '"id" BIGINT NOT NULL, "t" TIME)')
    ps = conn.prepareStatement('INSERT INTO "timetab" VALUES (?, ?)')
    for i, t in TIME_ROWS:
        ps.setLong(1, i)
        if t is None:
            ps.setNull(2, 92)  # java.sql.Types.TIME
        else:
            ps.setTime(2, jvm.java.sql.Time.valueOf(t))
        ps.addBatch()
    ps.executeBatch()
    ps.close()
    st.close()
    conn.close()
    yield TIME_ROWS


def test_time_column_reads_as_standin_string(spark, derby_timetab):
    """Metadata scan flags is_time; the reader's customSchema overrides
    Spark's default TIME->TimestampType mapping so the column arrives as
    the 'HH:mm:ss' string stand-in the type lattice declares."""
    from flink_job_spark.sources.metadata import read_table_metadata

    infos = {c.name: c for c in read_table_metadata(spark, TIME_URL, "timetab")}
    assert infos["t"].is_time and not infos["id"].is_time
    src = JdbcSnapshotSource(TIME_URL, "timetab", ["id", "t"], "id",
                             cutoff=4, infos=infos)
    assert "`t` string" in src.custom_schema().split(", ")
    df = src.reader(spark).load()
    assert dict(df.dtypes)["t"] == "string"
    got = {r["id"]: r["t"] for r in df.collect()}
    assert got == {1: "13:45:07", 2: "00:00:00", 3: "23:59:59", 4: None}


def test_time_column_end_to_end_row_hash_matches_java_rule(spark, derby_timetab):
    """Full path: JDBC read -> envelope -> md5 row hash equals the
    reference's canonicalization computed independently per mis:1642-1651:
    token = first 8 chars of the TIME string + '.0000'; NULL -> '<NULL>';
    tokens joined with '|'."""
    import hashlib

    from flink_job_spark.operators.envelope import with_envelope
    from flink_job_spark.sources.metadata import read_table_metadata

    infos = {c.name: c for c in read_table_metadata(spark, TIME_URL, "timetab")}
    src = JdbcSnapshotSource(TIME_URL, "timetab", ["id", "t"], "id",
                             cutoff=4, infos=infos)
    df = src.reader(spark).load()
    enveloped = with_envelope(df, infos=infos)
    got = {r["id"]: r["row_hash"] for r in enveloped.collect()}

    for i, t in TIME_ROWS:
        tok_t = (t[:8] + ".0000") if t is not None else "<NULL>"
        want = hashlib.md5(f"{i}|{tok_t}".encode()).hexdigest()
        assert got[i] == want, (i, t, got[i], want)


# --- one type lattice: the JDBC frame holds the metadata's types --------------

LATTICE_URL = "jdbc:derby:memory:fjs_lattice_e2e;create=true"


@pytest.fixture(scope="module")
def derby_lattice(spark):
    """A table of the four types whose Spark-JDBC default mapping differs
    from, or must be pinned to, the lattice (SURVEY §1.2)."""
    conn = spark.sparkContext._jvm.java.sql.DriverManager.getConnection(LATTICE_URL)
    st = conn.createStatement()
    st.executeUpdate('CREATE TABLE "lat" ("id" BIGINT NOT NULL, "s" SMALLINT, '
                     '"ts" TIMESTAMP, "t" TIME, "amount" DECIMAL(12,2))')
    st.executeUpdate('INSERT INTO "lat" VALUES '
                     "(1, 7, TIMESTAMP('2026-01-01 12:00:00'), TIME('13:45:07'), 1.25), "
                     "(2, NULL, NULL, NULL, NULL)")
    st.close()
    conn.close()
    yield LATTICE_URL


def test_jdbc_frame_holds_the_lattice_types(spark, tmp_path, derby_lattice):
    """Read with its metadata, the frame has exactly `to_struct_type(infos)`'s
    types (smallint and timestamp_ntz, not Spark's int and timestamp), and a
    snapshot of it lands timestamp_ntz."""
    from flink_job_spark.pipeline import IngestConfig, ingest_tables
    from flink_job_spark.sources.metadata import read_table_metadata
    from flink_job_spark.types import to_struct_type

    cols = read_table_metadata(spark, LATTICE_URL, "lat")
    infos = {c.name: c for c in cols}
    df = JdbcSnapshotSource(LATTICE_URL, "lat", list(infos), "id", cutoff=2,
                            infos=infos).reader(spark).load()
    assert ([(f.name, f.dataType) for f in df.schema.fields]
            == [(f.name, f.dataType) for f in to_struct_type(cols).fields])
    assert dict(df.dtypes) == {"id": "bigint", "s": "smallint", "ts": "timestamp_ntz",
                               "t": "string", "amount": "decimal(12,2)"}

    res = ingest_tables(spark, [(df, "lat", str(tmp_path / "lat"), "id", infos)],
                        IngestConfig(mode="replace", load_dttm=dt.datetime(2026, 1, 1)))
    assert res[0].ok, res[0]
    landed = spark.read.parquet(str(tmp_path / "lat"))
    assert dict(landed.dtypes)["ts"] == "timestamp_ntz"
    assert landed.filter("id = 1").first()["ts"] == dt.datetime(2026, 1, 1, 12, 0)
