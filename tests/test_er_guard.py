"""Entity resolution's deletion-neighborhood candidates are complete only for
name edit distance <= 1; any other setting must fail loudly, also under
``python -O`` (which strips ``assert``)."""

from __future__ import annotations

import pytest

from flink_job_spark.queries import dedup


def test_entity_resolution_rejects_deeper_name_distance(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(dedup, "ER_NAME_MAX_DIST", 2)
    with pytest.raises(ValueError, match="ER_NAME_MAX_DIST"):
        dedup.q_entity_resolution(spark, sf_dir)
