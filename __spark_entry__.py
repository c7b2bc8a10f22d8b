"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship: the reference's whole per-table semantics in one
                plan (snapshot cutoff → envelope → dual independent row hash →
                count+mismatch audit) over sf0.001 lineitem.
queries()     — one callable per implemented operator from SURVEY.md §2
                (+ LLM-pipeline extensions), each (spark, sf_dir) → DataFrame.
oracle_sql()  — equivalent DuckDB SQL per query key (same column aliases).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from pyspark.sql import functions as F

    from flink_job_spark.operators.audit import audit_aggregate
    from flink_job_spark.operators.envelope import DEFAULT_SRC_SYSTEM, stamp
    from flink_job_spark.operators.snapshot import freeze_cutoff, snapshot_scan
    from flink_job_spark.session import ensure_session_confs
    from flink_job_spark.sources.tables import load_table

    ensure_session_confs(spark)
    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    cutoff = freeze_cutoff(li, "l_orderkey")
    scan = snapshot_scan(li, list(li.columns), "l_orderkey", cutoff, ordered=False)
    stamped, names = stamp(scan, DEFAULT_SRC_SYSTEM, None, None)
    return (audit_aggregate(stamped, None, names["row_hash"], names["row_hash_iceberg"])
            .withColumn("cutoff", F.lit(str(cutoff))))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from flink_job_spark.queries import all_queries
    from flink_job_spark.session import ensure_session_confs

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_session_confs(spark)
            return fn(spark, sf_dir)
        return run

    return {name: wrap(spec.fn) for name, spec in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    from flink_job_spark.queries import all_queries

    return {name: spec.oracle for name, spec in all_queries().items() if spec.oracle}
