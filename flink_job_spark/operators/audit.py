"""Differential consistency audit — the reference's oracle plane.

Reference ``runConsistencyChecks`` (mis:1264-1331): per loaded table run
``SELECT COUNT(1), COALESCE(SUM(CASE WHEN lower(row_hash)=lower(row_hash_iceberg)
THEN 0 ELSE 1 END),0) WHERE cutoff`` against the target (mis:1385-1411), compare
the count to the frozen source count (mis:1288-1296); on mismatch drill down to
a top-10 mismatch sample (mis:1413-1461), the first mismatching key
(mis:1482-1495), then a per-column token diff across both systems
(mis:1502-1563).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_job_spark.functions.hashing import hash_token_column
from flink_job_spark.types import ColumnInfo


def hash_mismatch_flag(h1: str = "row_hash", h2: str = "row_hash_iceberg") -> Column:
    """`CASE WHEN h1 = h2 OR lower(h1) = lower(h2) THEN 0 ELSE 1 END`.

    Exactly the reference's `CASE WHEN lower(h1)=lower(h2) THEN 0 ELSE 1 END`
    (mis:1393-1395): equal bytes have equal lowercase, differing bytes fall
    through to the `lower()` comparison as before, and a NULL on either side
    is NULL on both branches, so it still counts as a mismatch.

    The byte-exact test comes first because Spark's `Or` short-circuits: an
    audit where every row matches never evaluates `Lower`. The first `Lower`
    a JVM evaluates runs `CollationAwareUTF8String`'s static initializer,
    which builds a title-case table over every code point through ICU, about
    3.4 CPU-s on a 4-CPU host; a one-shot snapshot job would pay it in its
    first audit."""
    a, b = F.col(h1).cast("string"), F.col(h2).cast("string")
    return F.when((a == b) | (F.lower(a) == F.lower(b)), 0).otherwise(1)


def audit_aggregate(target: DataFrame, cutoff_pred: Column | None = None,
                    h1: str = "row_hash", h2: str = "row_hash_iceberg") -> DataFrame:
    """One-pass COUNT + mismatch-sum over the target (mis:1385-1398)."""
    df = target.filter(cutoff_pred) if cutoff_pred is not None else target
    return df.agg(
        F.count(F.lit(1)).alias("target_count"),
        F.coalesce(F.sum(hash_mismatch_flag(h1, h2)), F.lit(0)).alias("hash_mismatches"),
    )


def mismatch_topk(target: DataFrame, order_cols: list[str], k: int = 10,
                  h1: str = "row_hash", h2: str = "row_hash_iceberg") -> DataFrame:
    """Top-k mismatching rows: filter ≠, ORDER BY key, FETCH FIRST k (mis:1432-1440).

    Deliberate deviation from the reference's literal `<>` (mis:1436-1438):
    the aggregate's mismatch flag counts a NULL hash as a mismatch (its CASE
    falls through to ELSE 1), but SQL `<>` is NULL for those rows, so the
    reference's drill-down finds NOTHING for an audit failing purely on NULL
    hashes. Filtering on the same flag the aggregate sums keeps the two
    planes consistent by construction."""
    return (
        target.filter(hash_mismatch_flag(h1, h2) == 1)
        .orderBy(*order_cols)
        .limit(max(1, k))
    )


def point_lookup(df: DataFrame, key_col: str, key_value: Any) -> DataFrame:
    """`WHERE CAST(k AS STRING) = '<key>' FETCH FIRST 1 ROWS ONLY` (mis:1514-1517)."""
    return df.filter(F.col(key_col).cast("string") == F.lit(str(key_value))).limit(1)


def column_token_diff(src: DataFrame, tgt: DataFrame, key_col: str, key_value: Any,
                      columns: list[str],
                      infos: dict[str, ColumnInfo] | None = None) -> list[dict]:
    """Per-column canonical-token diff of one row across two stores (mis:1502-1563).

    Driver-side by design (the reference fetches one row from each system and
    compares column-by-column in Java): returns [{column, src_token, tgt_token,
    equal}] for the first offending row.
    """
    out: list[dict] = []
    dtypes_src = {f.name: f.dataType for f in src.schema.fields}
    dtypes_tgt = {f.name: f.dataType for f in tgt.schema.fields}
    src_row = point_lookup(
        src.select(*[hash_token_column(F.col(c), dtypes_src[c], (infos or {}).get(c)).alias(c)
                     for c in columns], F.col(key_col).cast("string").alias("__k")),
        "__k", key_value).first()
    tgt_row = point_lookup(
        tgt.select(*[hash_token_column(F.col(c), dtypes_tgt[c], (infos or {}).get(c)).alias(c)
                     for c in columns], F.col(key_col).cast("string").alias("__k")),
        "__k", key_value).first()
    for c in columns:
        s = src_row[c] if src_row else None
        t = tgt_row[c] if tgt_row else None
        out.append({"column": c, "src_token": s, "tgt_token": t, "equal": s == t})
    return out


@dataclass
class AuditReport:
    """Counters the reference accumulates per table (mis:1279-1330)."""

    table: str
    source_count: int
    target_count: int
    hash_mismatches: int

    @property
    def delta(self) -> int:
        return self.target_count - self.source_count

    @property
    def ok(self) -> bool:
        return self.delta == 0 and self.hash_mismatches == 0


def run_consistency_check(table: str, source_count: int, target: DataFrame,
                          cutoff_pred: Column | None = None,
                          h1: str = "row_hash",
                          h2: str = "row_hash_iceberg") -> AuditReport:
    """h1/h2 must be the RESOLVED envelope names (tech_column_names applies a
    `__` prefix when a source column collides, envelope.py:39-50) — auditing
    the hardcoded defaults against such a table would compare the source's
    own column and fail every row."""
    row = audit_aggregate(target, cutoff_pred, h1, h2).first()
    return AuditReport(table, source_count, row["target_count"], row["hash_mismatches"])
