"""SURVEY §2 reference-surface query keys, each with its DuckDB oracle.

All implementations are pure DataFrame lineage over the driver testdata
(`load_table`); cutoffs are frozen driver-side exactly like the reference's
snapshot protocol (mis:628-643). Deterministic by construction: no now(),
fixed literals where the reference would stamp wall-clock values.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_job_spark.functions.hashing import (
    duckdb_row_hash_sql,
    md5_u32,
    md5_u32_duck,
    row_hash_column,
    row_hash_sql_expr,
)
from flink_job_spark.operators.audit import audit_aggregate, point_lookup
from flink_job_spark.operators.envelope import with_envelope
from flink_job_spark.operators.snapshot import freeze_cutoff, resume_predicate, snapshot_scan
from flink_job_spark.queries import register
from flink_job_spark.sources.tables import SCHEMAS, fan_out, load_table

LINEITEM_COLS = [f.name for f in SCHEMAS["lineitem"].fields]
SKIP_FLOOR = 1000          # fixed resume floor for q_skip_offset
CORRUPT_MOD = 97           # deterministic corruption for the mismatch queries
FIXED_LOAD_DTTM = dt.datetime(2026, 1, 1, 0, 0, 0)  # oracle-parity load stamp


# --- 1. q_scan_project: explicit column list + cutoff + ORDER BY (mis:1076-1088) ---

@register(
    "q_scan_project",
    f"""SELECT {', '.join(LINEITEM_COLS)} FROM lineitem
        WHERE l_orderkey <= (SELECT MAX(l_orderkey) FROM lineitem)
        ORDER BY l_orderkey""",
    doc="JDBC snapshot table scan: explicit columns, cutoff, total order (mis:1064-1135)",
    tags=("scan",),
)
def q_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = freeze_cutoff(li, "l_orderkey")
    return snapshot_scan(li, LINEITEM_COLS, "l_orderkey", cutoff)


# --- 2. q_skip_offset: key-floor resume (replaces SKIP n, mis:1073-1080) ---

@register(
    "q_skip_offset",
    f"""SELECT {', '.join(LINEITEM_COLS)} FROM lineitem
        WHERE l_orderkey <= (SELECT MAX(l_orderkey) FROM lineitem)
          AND l_orderkey > {SKIP_FLOOR}
        ORDER BY l_orderkey""",
    doc="resumable offset scan as key-floor predicate (mis:1037-1080, SURVEY §7#3)",
    tags=("scan", "resume"),
)
def q_skip_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = freeze_cutoff(li, "l_orderkey")
    return snapshot_scan(li, LINEITEM_COLS, "l_orderkey", cutoff, floor=SKIP_FLOOR)


# --- 3. q_watermark_filter: frozen snapshot cutoff (mis:628-657) ---

@register(
    "q_watermark_filter",
    """SELECT * FROM orders
       WHERE o_orderkey <= (SELECT MAX(o_orderkey) FROM orders)""",
    doc="snapshot-cutoff filter: orderCol <= frozen MAX (mis:645-657)",
    tags=("filter",),
)
def q_watermark_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cutoff = freeze_cutoff(o, "o_orderkey")
    return o.filter(resume_predicate("o_orderkey", cutoff))


# --- 4. q_snapshot_count: COUNT(1) under cutoff (mis:1362-1383) ---

@register(
    "q_snapshot_count",
    """SELECT COUNT(1) AS snapshot_count FROM orders
       WHERE o_orderkey <= (SELECT MAX(o_orderkey) FROM orders)""",
    doc="snapshot baseline metric (mis:1372)",
    tags=("agg",),
)
def q_snapshot_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cutoff = freeze_cutoff(o, "o_orderkey")
    return (o.filter(resume_predicate("o_orderkey", cutoff))
             .agg(F.count(F.lit(1)).alias("snapshot_count")))


# --- 5. q_max_watermark: MAX over an orderable column (mis:636) ---

@register(
    "q_max_watermark",
    "SELECT MAX(o_orderdate) AS watermark FROM orders",
    doc="watermark read: MAX(orderCol) (mis:628-643)",
    tags=("agg",),
)
def q_max_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.agg(F.max("o_orderdate").alias("watermark"))


# --- 6. q_row_hash: canonical MD5 row hash (mis:1598-1694, 1802-1862) ---

@register(
    "q_row_hash",
    f"""SELECT l_orderkey, l_linenumber,
               {duckdb_row_hash_sql(SCHEMAS['lineitem'])} AS row_hash
        FROM lineitem""",
    doc="canonical row-hash tokens over every lineitem column type",
    tags=("hash",),
)
def q_row_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = fan_out(load_table(spark, sf_dir, "lineitem"))
    return li.select(
        "l_orderkey", "l_linenumber",
        row_hash_column(li, LINEITEM_COLS).alias("row_hash"),
    )


# --- 7. q_tech_columns: the 11-column envelope (mis:1107-1119) ---

_CUSTOMER_HASH = duckdb_row_hash_sql(SCHEMAS["customer"])

@register(
    "q_tech_columns",
    f"""SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
               TIMESTAMP '2026-01-01 00:00:00' AS load_dttm,
               CAST(NULL AS TIMESTAMP) AS load_dttm_tz,
               CAST(NULL AS BIGINT) AS load_id,
               'INITIAL' AS op,
               CAST(NULL AS BIGINT) AS ts_ms,
               CAST(NULL AS BIGINT) AS source_ts_ms,
               'mis' AS src_system_code,
               CAST(NULL AS TIMESTAMP) AS extract_dttm,
               CAST(NULL AS TIMESTAMP) AS src_chng_dttm,
               {_CUSTOMER_HASH} AS row_hash,
               CAST(NULL AS VARCHAR) AS row_hash_iceberg
        FROM customer""",
    doc="derived-column projection: tech envelope with fixed load stamp",
    tags=("envelope",),
)
def q_tech_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return with_envelope(c, load_dttm=FIXED_LOAD_DTTM)


# --- 8/9. hash-mismatch audit queries with deterministic injected corruption ---

def _corrupted_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem + row_hash over the clean columns + row_hash_iceberg
    computed over a copy whose l_quantity is corrupted for l_orderkey%97==0 —
    a deterministic stand-in for the cross-engine divergence the reference's
    audit exists to catch (mis:1264-1331)."""
    li = fan_out(load_table(spark, sf_dir, "lineitem"))
    corrupted = li.withColumn(
        "__c_l_quantity",
        F.when(F.col("l_orderkey") % CORRUPT_MOD == 0, F.col("l_quantity") + 1)
         .otherwise(F.col("l_quantity")),
    )
    sink_cols = [c if c != "l_quantity" else "__c_l_quantity" for c in LINEITEM_COLS]
    return corrupted.select(
        "l_orderkey", "l_linenumber",
        row_hash_column(li, LINEITEM_COLS).alias("row_hash"),
        F.expr(row_hash_sql_expr(corrupted.schema, sink_cols)).alias("row_hash_iceberg"),
    )


_CORRUPT_SCHEMA = T.StructType(
    list(SCHEMAS["lineitem"].fields) + [T.StructField("__c_l_quantity", T.DoubleType())]
)
_SINK_COLS = [c if c != "l_quantity" else "__c_l_quantity" for c in LINEITEM_COLS]
_DUCK_PAIR_CTE = f"""
WITH corrupted AS (
  SELECT *,
         CASE WHEN l_orderkey % {CORRUPT_MOD} = 0 THEN l_quantity + 1
              ELSE l_quantity END AS "__c_l_quantity"
  FROM lineitem
), hashed AS (
  SELECT l_orderkey, l_linenumber,
         {duckdb_row_hash_sql(SCHEMAS['lineitem'])} AS row_hash,
         {duckdb_row_hash_sql(_CORRUPT_SCHEMA, _SINK_COLS)} AS row_hash_iceberg
  FROM corrupted
)"""


@register(
    "q_hash_mismatch_agg",
    _DUCK_PAIR_CTE + """
    SELECT COUNT(1) AS target_count,
           CAST(COALESCE(SUM(CASE WHEN lower(row_hash) = lower(row_hash_iceberg)
                                  THEN 0 ELSE 1 END), 0) AS BIGINT) AS hash_mismatches
    FROM hashed""",
    doc="one-pass COUNT + conditional mismatch sum (mis:1385-1411)",
    tags=("agg", "audit"),
)
def q_hash_mismatch_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return audit_aggregate(_corrupted_pair(spark, sf_dir))


@register(
    "q_hash_mismatch_topk",
    _DUCK_PAIR_CTE + """
    SELECT * FROM hashed
    WHERE lower(row_hash) <> lower(row_hash_iceberg)
    ORDER BY l_orderkey, l_linenumber, row_hash, row_hash_iceberg
    LIMIT 10""",
    doc="top-k mismatch sample: filter ≠, ORDER BY key, FETCH FIRST 10 (mis:1432-1440)",
    tags=("topk", "audit"),
)
def q_hash_mismatch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persist() pins the dual hash forests ABOVE _corrupted_pair's fan-out
    # exchange: the optimizer pushes the ≠ filter (which re-states both md5
    # trees) below a bare Repartition, which would drop the whole hash
    # computation back onto the single scan task — and double-evaluate it
    # (once in Filter, once in Project). The cached frame is the skinny
    # (key, hash, hash) projection, never full lineitem rows.
    pair = _corrupted_pair(spark, sf_dir).persist()
    # (l_orderkey, l_linenumber) is not unique in the testdata — order by the
    # full output tuple so the k-th row is engine-independent
    return (pair
            .filter(F.lower(F.col("row_hash")) != F.lower(F.col("row_hash_iceberg")))
            .orderBy("l_orderkey", "l_linenumber", "row_hash", "row_hash_iceberg")
            .limit(10))


# --- 10. q_point_lookup: string-cast key equality, FETCH FIRST 1 (mis:1514-1517) ---

@register(
    "q_point_lookup",
    """SELECT * FROM customer
       WHERE CAST(c_custkey AS VARCHAR) = '42' LIMIT 1""",
    doc="point lookup by stringified key (mis:1514-1544)",
    tags=("lookup",),
)
def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return point_lookup(c, "c_custkey", 42)


# --- q_snapshot_diff: hash-based change feed between two snapshot loads -------------

DIFF_REMOVED_MOD = 11   # keys absent from the NEW load
DIFF_ADDED_MOD = 13     # keys absent from the OLD load
DIFF_CHANGED_MOD = 7    # keys mutated between loads

@register(
    "q_snapshot_diff",
    f"""WITH old AS (
      SELECT * FROM orders WHERE o_orderkey % {DIFF_ADDED_MOD} != 0
    ),
    new AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % {DIFF_CHANGED_MOD} = 0
                  THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % {DIFF_REMOVED_MOD} != 0
    ),
    oh AS (SELECT o_orderkey, {duckdb_row_hash_sql(SCHEMAS['orders'])} AS h FROM old),
    nh AS (SELECT o_orderkey, {duckdb_row_hash_sql(SCHEMAS['orders'])} AS h FROM new)
    SELECT COALESCE(oh.o_orderkey, nh.o_orderkey) AS o_orderkey,
           CASE WHEN oh.h IS NULL THEN 'ADDED'
                WHEN nh.h IS NULL THEN 'REMOVED'
                WHEN oh.h <> nh.h THEN 'CHANGED' END AS change_type
    FROM oh FULL OUTER JOIN nh ON nh.o_orderkey = oh.o_orderkey
    WHERE (oh.h IS NULL OR nh.h IS NULL OR oh.h <> nh.h)""",
    doc="snapshot-to-snapshot change feed: full-outer join on the business "
        "key comparing one canonical row hash per side — ADDED/REMOVED/"
        "CHANGED at change volume, never table volume (batch CDC-lite for "
        "snapshot-only sources)",
    tags=("diff", "audit"),
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_job_spark.operators.diff import snapshot_diff

    o = load_table(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % DIFF_ADDED_MOD != 0)
    new = o.filter(F.col("o_orderkey") % DIFF_REMOVED_MOD != 0).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % DIFF_CHANGED_MOD == 0,
               F.col("o_totalprice") + 1).otherwise(F.col("o_totalprice")),
    )
    return snapshot_diff(old, new, ["o_orderkey"])


# --- 12. q_table_checksum: order-independent table fingerprint ---

_ORD_HASH_W1 = "CAST('0x' || substr(rh, 1, 8) AS BIGINT)"
_ORD_HASH_W2 = "CAST('0x' || substr(rh, 9, 8) AS BIGINT)"


@register(
    "q_table_checksum",
    f"""WITH h AS (
          SELECT {duckdb_row_hash_sql(SCHEMAS['orders'])} AS rh FROM orders)
       SELECT CAST(COUNT(1) AS BIGINT) AS n_rows,
              CAST(SUM({_ORD_HASH_W1}) AS BIGINT) AS sum_hi,
              CAST(SUM({_ORD_HASH_W2}) AS BIGINT) AS sum_lo,
              CAST(bit_xor({_ORD_HASH_W1}) AS BIGINT) AS xor_hi,
              CAST(bit_xor({_ORD_HASH_W2}) AS BIGINT) AS xor_lo
       FROM h""",
    doc="order-independent table fingerprint: canonical per-row MD5 "
        "(the full reference token canonicalization) folded into "
        "commutative SUM and XOR checksums plus the row count — the "
        "one-row table-level form of the reference's row-wise "
        "consistency audit (mis:1413-1468)",
    tags=("audit", "hash", "agg"),
)
def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extends the audit family from row-wise compare (q_hash_mismatch_*)
    to a constant-size table digest: every row's canonical MD5 splits into
    two u32 words folded by SUM and XOR — both commutative/associative, so
    the digest is partition-order independent and partial-aggregates
    map-side (one exchange carrying 32 bytes per partition at ANY scale).
    Two engines computing the digest independently agreeing on
    (n, sums, xors) certifies table equality with collision probability
    ~2^-64 without moving either table — the cheap cross-system
    consistency gate a 100 TB replication check wants."""
    o = load_table(spark, sf_dir, "orders")
    h = o.select(row_hash_column(o).alias("rh"))
    w1 = F.conv(F.substring("rh", 1, 8), 16, 10).cast("bigint")
    w2 = F.conv(F.substring("rh", 9, 8), 16, 10).cast("bigint")
    return h.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(w1).cast("bigint").alias("sum_hi"),
        F.sum(w2).cast("bigint").alias("sum_lo"),
        F.bit_xor(w1).cast("bigint").alias("xor_hi"),
        F.bit_xor(w2).cast("bigint").alias("xor_lo"),
    )


# --- 13. q_merkle_buckets: bucketed digest tree for replication diff ---

MERKLE_BUCKETS = 64


@register(
    "q_merkle_buckets",
    f"""WITH h AS (
          SELECT {md5_u32_duck("CAST(o_orderkey AS VARCHAR)")}
                   % {MERKLE_BUCKETS} AS bucket,
                 {duckdb_row_hash_sql(SCHEMAS['orders'])} AS rh
          FROM orders)
       SELECT bucket, CAST(COUNT(1) AS BIGINT) AS n_rows,
              CAST(SUM({_ORD_HASH_W1}) AS BIGINT) AS sum_hi,
              CAST(bit_xor({_ORD_HASH_W1}) AS BIGINT) AS xor_hi,
              CAST(bit_xor({_ORD_HASH_W2}) AS BIGINT) AS xor_lo
       FROM h GROUP BY bucket ORDER BY bucket""",
    doc=f"anti-entropy digest tree: the q_table_checksum fingerprint "
        f"sharded into {MERKLE_BUCKETS} KEY-hash buckets so two replicas "
        "that disagree can localize the divergence to (total keys / "
        f"{MERKLE_BUCKETS}) candidates in one round trip instead of "
        "re-comparing the table — the Merkle-style replication check, "
        "constant-size output at any scale",
    tags=("audit", "hash", "merkle"),
)
def q_merkle_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketing must be by KEY hash, not content hash: replicas disagree
    about content, and a bucket id derived from the differing bytes would
    put the same logical row in different buckets on each side, breaking
    localization. The digest stays commutative (SUM/XOR of md5 words), so
    the whole thing is ONE combine-enabled aggregation — map-side partials
    of 64 x 32 bytes per partition at any scale — and bucket digests merge
    upward into the q_table_checksum root exactly like a Merkle level."""
    o = fan_out(load_table(spark, sf_dir, "orders"))
    bucket = md5_u32(F.col("o_orderkey").cast("string")) % MERKLE_BUCKETS
    h = o.select(bucket.alias("bucket"), row_hash_column(o).alias("rh"))
    w1 = F.conv(F.substring("rh", 1, 8), 16, 10).cast("bigint")
    w2 = F.conv(F.substring("rh", 9, 8), 16, 10).cast("bigint")
    return (h.groupBy("bucket")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                  F.sum(w1).cast("bigint").alias("sum_hi"),
                  F.bit_xor(w1).cast("bigint").alias("xor_hi"),
                  F.bit_xor(w2).cast("bigint").alias("xor_lo"))
             .orderBy("bucket"))
