"""Seeded input generation for the benchmark.

Every input a workload reads is made here from ``--seed``: the ten
star-schema tables the query registry and the ingest pipeline read (same
names, columns and types as the repository's parquet testdata), and the
Derby source tables of the JDBC flow. The same seed gives the same tables;
the program under test only ever sees the generated files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# ordering (snapshot cutoff) key per table: the primary key, or the
# non-unique order key for lineitem (the reference's ordering column)
ORDER_KEYS = {"region": "r_regionkey", "nation": "n_nationkey",
              "customer": "c_custkey", "supplier": "s_suppkey",
              "part": "p_partkey", "orders": "o_orderkey",
              "lineitem": "l_orderkey", "events": "event_id",
              "documents": "doc_id", "embeddings": "vec_id"}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_VOCAB = ("a the row query stream fast spark line small customer group value "
          "hash batch sort data big filter dup key agg scan slow table part "
          "merge window order column join vector").split()
_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds()) * 1_000_000


def _days(rng, n: int, lo: dt.datetime, hi: dt.datetime) -> pa.Array:
    """Midnight timestamps uniformly drawn from [lo, hi]."""
    span = (hi - lo).days + 1
    us = _us(lo) + rng.integers(0, span, n) * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten tables at scale factor ``sf`` (lineitem ~ 6M x sf rows)."""
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_docs = max(50, int(50_000 * sf))
    n_vecs = max(50, int(50_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part),
                                              rng.choice(_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, dt.datetime(1995, 1, 1),
                             dt.datetime(2001, 8, 1)),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, dt.datetime(1995, 1, 2),
                            dt.datetime(2001, 11, 4))})
    ev_us = np.sort(_us(dt.datetime(2024, 1, 1))
                    + rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_us, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": _money(rng, n_ev, 0.01, 490.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(rng.choice(_VOCAB, int(k)))
             for k in rng.integers(10, 100, n_docs)]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    vecs = (rng.standard_normal((n_vecs, 64)) * 0.12).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32)})
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """``<out_dir>/<name>.parquet`` per table: the testdata layout the
    registry's ``fn(spark, sf_dir)`` reads."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


# Derby DDL for the JDBC source: quoted lowercase identifiers keep the
# parquet column names, and the primary key is what the metadata scan
# detects as the order key.
DERBY_DDL = {
    "orders": ('CREATE TABLE "orders" ("o_orderkey" BIGINT NOT NULL PRIMARY KEY, '
               '"o_custkey" BIGINT, "o_orderstatus" VARCHAR(1), '
               '"o_totalprice" DOUBLE, "o_orderdate" TIMESTAMP, '
               '"o_orderpriority" VARCHAR(15))'),
}


def write_derby_csv(tables: dict[str, pa.Table], out_dir: str,
                    names: list[str]) -> dict[str, str]:
    """Headerless CSV per JDBC source table, the input of Derby's bulk
    import; returns the path per table."""
    import pyarrow.csv as pcsv

    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name in names:
        paths[name] = os.path.join(out_dir, f"{name}.csv")
        pcsv.write_csv(tables[name], paths[name],
                       pcsv.WriteOptions(include_header=False))
    return paths


def load_derby(spark, url: str, csv_paths: dict[str, str]) -> None:
    """Create the JDBC source tables in embedded in-memory Derby (in the
    driver JVM, so Spark's executor threads see it in local mode) and
    bulk-import the generated rows."""
    conn = spark.sparkContext._jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        for name, path in csv_paths.items():
            st.executeUpdate(DERBY_DDL[name])
            st.execute("CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE("
                       f"null, '{name}', '{path}', ',', '\"', 'UTF-8', 0)")
        st.close()
    finally:
        conn.close()
