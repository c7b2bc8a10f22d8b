"""Frozen-watermark snapshot-cutoff protocol + resumable scans.

The reference freezes ``MAX(orderCol)`` once up front (mis:628-643), then every
read and audit applies ``orderCol <= cutoff`` so the bounded snapshot stays
consistent under concurrent inserts (mis:645-657). An empty table yields a
contradiction filter ``1 = 0`` (mis:651-656). Resume after failure re-issues
the ordered scan skipping already-committed rows (``SKIP n``, mis:1073-1080);
we replace the fragile row-offset with a key-floor predicate
(``key > floor AND key <= cutoff``) — equivalent under the total order on the
key and parallelizable (SURVEY §7 hard-list #3).

NOTE this is deliberately NOT Spark's ``withWatermark`` (event-time lateness);
it is a captured literal in a filter (SURVEY §2.7 #39).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_job_spark.types import source_col


def freeze_cutoff(df: DataFrame, order_col: str) -> Any:
    """Read MAX(order_col) once — the snapshot watermark (mis:628-643).

    A driver-side scalar read by design: the whole protocol is 'capture one
    value at t0, embed it as a literal'. Returns None on an empty table.
    """
    return df.agg(F.max(source_col(order_col)).alias("w")).first()["w"]


def freeze_cut(df: DataFrame, order_col: str) -> tuple[Any, int]:
    """The watermark and the baseline source count in ONE pass:
    ``MAX(k), COUNT(k)`` — the reference's MAX (mis:628-643) and its later
    ``COUNT(1) WHERE k <= cutoff`` (mis:1362-1383) read as one consistent cut.

    The count is exact: every non-null key is ``<=`` its max (Spark orders
    NaN above every other double and NaN = NaN, so a NaN max admits every
    row), and a NULL key fails ``k <= cutoff`` just as COUNT(k) skips it.
    An empty or all-NULL key column yields ``(None, 0)``.
    """
    key = source_col(order_col)
    row = df.agg(F.max(key).alias("w"), F.count(key).alias("n")).first()
    return row["w"], row["n"]


def cutoff_predicate(order_col: str, cutoff: Any) -> Column:
    """``order_col <= cutoff``; empty table → contradiction (mis:645-657)."""
    if cutoff is None:
        return F.lit(False)  # the reference's '1 = 0'
    return source_col(order_col) <= F.lit(cutoff)


def resume_predicate(order_col: str, cutoff: Any, floor: Any = None) -> Column:
    """Key-floor resume: ``key > floor AND key <= cutoff`` (replaces SKIP n,
    mis:1073-1080; equivalence via the total order of mis:1087)."""
    pred = cutoff_predicate(order_col, cutoff)
    if floor is not None:
        pred = pred & (source_col(order_col) > F.lit(floor))
    return pred


def snapshot_scan(df: DataFrame, columns: list[str], order_col: str,
                  cutoff: Any, floor: Any = None, ordered: bool = True) -> DataFrame:
    """The reference's source query: explicit column list, cutoff(+floor)
    predicate, deterministic ORDER BY (mis:1076-1088).

    At scale the ORDER BY is only needed when a deterministic emission order
    matters (resume bookkeeping); pass ordered=False to skip the global sort.
    """
    out = df.select(*map(source_col, columns)).filter(resume_predicate(order_col, cutoff, floor))
    return out.orderBy(source_col(order_col)) if ordered else out

