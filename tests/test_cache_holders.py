"""Unit tests for plans/scale's persisted-intermediate holder registry
(_CACHE_HOLDERS/_CACHE_FRAMES): collision release and dead-session
pruning (VERDICT r12 #6/#8, ADVICE r12)."""
from __future__ import annotations

from pyspark.sql import functions as F

from sum_spark.plans import scale


class _StubSC:
    _jsc = None  # the stopped-session signature pyspark leaves behind


class _StubSession:
    sparkContext = _StubSC()


class _StubFrame:
    sparkSession = _StubSession()


def test_prune_dead_sessions_drops_stopped_keys():
    """A finalizer that never runs before its session dies must not
    leave the key (and its strong frame refs) behind forever: the sweep
    on the next release_with drops entries whose session is stopped."""
    key = (-1, -12345)
    scale._CACHE_HOLDERS[key] = 2
    scale._CACHE_FRAMES[key] = [_StubFrame()]
    try:
        scale._prune_dead_sessions()
        assert key not in scale._CACHE_HOLDERS
        assert key not in scale._CACHE_FRAMES
    finally:
        scale._CACHE_HOLDERS.pop(key, None)
        scale._CACHE_FRAMES.pop(key, None)


def test_prune_dead_sessions_keeps_live_keys(spark):
    df = spark.range(10).select((F.col("id") * 3).alias("v"))
    key = scale._cache_key(df)
    assert key is not None
    scale._CACHE_HOLDERS[key] = 1
    scale._CACHE_FRAMES[key] = [df]
    try:
        scale._prune_dead_sessions()
        assert key in scale._CACHE_HOLDERS  # live session -> untouched
    finally:
        scale._CACHE_HOLDERS.pop(key, None)
        scale._CACHE_FRAMES.pop(key, None)


def _is_cached(df) -> bool:
    return (
        "InMemoryRelation"
        in df._jdf.queryExecution().optimizedPlan().toString()
    )


def test_release_refs_collision_releases_every_plan(spark, monkeypatch):
    """Two DIFFERENT cached plans forced onto one holder key (a 32-bit
    semanticHash collision): dropping the first holder keeps BOTH
    entries (a collision may only delay a release); dropping the last
    unpersists every tracked frame — no permanent leak (ADVICE r12)."""
    import gc

    key = (id(spark), 777)
    monkeypatch.setattr(scale, "_cache_key", lambda df: key)

    def build(mod: int):
        df = (
            spark.range(500)
            .groupBy((F.col("id") % mod).alias("k"))
            .count()
            .persist()
        )
        df.count()
        return scale.release_with(df.select(F.sum("count").alias("s")), df), df

    a, fa = build(5)
    b, fb = build(11)  # different plan, same (collided) key

    # fresh probe frames each time: a DataFrame memoizes its optimized
    # plan, so a reused probe would report the stale cache state
    def probe(mod: int):
        return _is_cached(
            spark.range(500).groupBy((F.col("id") % mod).alias("k")).count()
        )

    assert probe(5) and probe(11)
    del a
    gc.collect()
    # first drop: collision only delays — both entries still live
    assert probe(5) and probe(11)
    del b
    gc.collect()
    # last drop: every tracked frame released, nothing leaks
    assert not probe(5) and not probe(11)
    assert key not in scale._CACHE_HOLDERS
    assert key not in scale._CACHE_FRAMES


def test_q24_frees_its_local_checkpoint(spark, sf_smoke):
    """range_partitioned_lead materializes its range-partitioned input
    with localCheckpoint, an RDD outside the DataFrame cache; q24 carries
    it on its result, and dropping the result frees it: three calls
    whose results are dropped leave the persisted-RDD count unchanged."""
    import gc

    from sum_spark.queries import REGISTRY

    fn = REGISTRY["q24_vector_kernels"].fn
    jsc = spark.sparkContext._jsc
    assert fn(spark, sf_smoke).count() > 0  # warm-up
    gc.collect()
    before = jsc.getPersistentRDDs().size()
    for _ in range(3):
        assert fn(spark, sf_smoke).count() > 0
    gc.collect()
    assert jsc.getPersistentRDDs().size() == before
