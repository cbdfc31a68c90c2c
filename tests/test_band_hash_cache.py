"""The banding UDF cache of ``similarity._band_hash_udf``: keyed on the
context's identity, bounded, and releasing evicted plane broadcasts."""

from __future__ import annotations

from music_streaming_etl_glue_spark.operators import similarity


class _Planes:
    def __init__(self):
        self.unpersisted = False

    def unpersist(self):
        self.unpersisted = True


class _Context:
    """Stands in for a SparkContext: identity plus ``broadcast``."""

    startTime = 1_700_000_000_000

    def __init__(self, app_id: str):
        self.applicationId = app_id

    def broadcast(self, value):
        return _Planes()


def test_cache_keys_on_context_identity_not_address(monkeypatch):
    monkeypatch.setattr(similarity, "_BAND_HASH_UDF_CACHE", {})
    sc = _Context("app-1")
    first = similarity._band_hash_udf(sc, 1, 1, 2)
    assert similarity._band_hash_udf(sc, 1, 1, 2) is first
    sc.applicationId = "app-2"  # a new context at the old one's address
    assert similarity._band_hash_udf(sc, 1, 1, 2) is not first


def test_cache_evicts_oldest_and_unpersists_live_broadcasts(monkeypatch):
    cache: dict = {}
    monkeypatch.setattr(similarity, "_BAND_HASH_UDF_CACHE", cache)
    cap = similarity._BAND_HASH_UDF_CACHE_MAX
    similarity._band_hash_udf(_Context("stopped"), 1, 1, 1)
    sc = _Context("live")
    for dims in range(2, cap + 1):
        similarity._band_hash_udf(sc, 1, 1, dims)
    assert len(cache) == cap
    stale_key, oldest_live_key = list(cache)[:2]
    stale_planes = cache[stale_key][1]
    oldest_live_planes = cache[oldest_live_key][1]

    similarity._band_hash_udf(sc, 1, 1, cap + 1)
    assert len(cache) == cap and stale_key not in cache
    # the stopped context's broadcast is gone with it; its id may name a
    # live broadcast now, so it is dropped, not unpersisted
    assert not stale_planes.unpersisted

    similarity._band_hash_udf(sc, 1, 1, cap + 2)
    assert len(cache) == cap and oldest_live_key not in cache
    assert oldest_live_planes.unpersisted
    assert not any(planes.unpersisted for _, planes in cache.values())
