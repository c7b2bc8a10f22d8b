"""The fused snapshot cut: one ``MAX(k), COUNT(k)`` pass gives the cutoff and
the baseline count. The count must equal what a separate ``k <= cutoff``
count returns, also when the key holds NULLs or NaN, and the audit must
stay ok."""

from __future__ import annotations

import datetime as dt

import pytest

from flink_job_spark.operators.snapshot import cutoff_predicate, freeze_cut, freeze_cutoff
from flink_job_spark.pipeline import IngestConfig, snapshot_ingest

CASES = {
    # NaN sorts above every double, so it is the max and admits every row
    "double_nulls_nan": ("double", [1.5, None, float("nan"), 3.0, None, -2.0], 4),
    "bigint_one_null": ("bigint", [7, 2, None, 5], 3),
    "all_null": ("bigint", [None, None, None], 0),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_fused_cut_count_equals_filtered_count(spark, tmp_path, case):
    dtype, keys, expected = CASES[case]
    src = str(tmp_path / "src")
    (spark.createDataFrame([(k, f"v{i}") for i, k in enumerate(keys)],
                           f"k {dtype}, payload string")
        .coalesce(1).write.parquet(src))
    source = spark.read.parquet(src)

    cutoff, n = freeze_cut(source, "k")
    # the cutoff is the one freeze_cutoff reads (repr: NaN != NaN), and the
    # fused count is the one a separate pass under that cutoff returns
    assert repr(cutoff) == repr(freeze_cutoff(source, "k"))
    assert n == source.filter(cutoff_predicate("k", cutoff)).count() == expected

    res = snapshot_ingest(spark, source, case, str(tmp_path / "tgt"), "k",
                          IngestConfig(mode="replace", load_dttm=dt.datetime(2026, 1, 1)))
    assert res.error is None
    assert res.report.source_count == expected
    assert res.report.target_count == expected
    assert res.report.ok
    if expected == 0:
        assert res.cutoff is None
