"""The IVF and PQ keys probe with query vectors taken from the low-id sample
they already collected. More query vectors than that sample holds must fail
loudly, before any Spark work, instead of truncating the probe set."""

from __future__ import annotations

import pytest

from flink_job_spark.queries import similarity

IVF_KEYS = [similarity.q_ann_ivf_topk, similarity.q_ann_ivf_kmeans]


@pytest.mark.parametrize("key", IVF_KEYS, ids=lambda f: f.__name__)
def test_ivf_keys_reject_more_queries_than_centroids(key, monkeypatch):
    monkeypatch.setattr(similarity, "N_QUERY_VECS", similarity.IVF_CENTROIDS + 1)
    # no session: the guard must fire before the key touches Spark
    with pytest.raises(ValueError, match="N_QUERY_VECS.*IVF_CENTROIDS"):
        key(None, None)


def test_pq_key_rejects_more_queries_than_codes(monkeypatch):
    monkeypatch.setattr(similarity, "N_QUERY_VECS", similarity.PQ_CODES + 1)
    with pytest.raises(ValueError, match="N_QUERY_VECS.*PQ_CODES"):
        similarity.q_ann_pq(None, None)

