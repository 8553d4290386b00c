"""``functions.cache.cached``: the cache lives exactly as long as the
``with`` block, a raise included, and a caller's totals come from the
fill, not from a second pass over the cache."""

import pytest

from pyspark.sql import functions as F

from hadoop_distexec_spark.functions.cache import cached, cached_totals
from hadoop_distexec_spark.operators import llmops
from tests.conftest import SF_SMALL


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_cached_pins_inside_and_releases_after(spark):
    spark.catalog.clearCache()
    df = spark.range(100)
    with cached(df) as c:
        assert c.storageLevel.useMemory
        assert not _cache_empty(spark)
        assert c.count() == 100
    assert _cache_empty(spark)


def test_cached_releases_on_raise(spark):
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="build failed"):
        with cached(spark.range(100)):
            raise RuntimeError("build failed")
    assert _cache_empty(spark)


def _jobs(spark, group, action) -> int:
    """Spark jobs that ``action()`` runs."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "job count")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_cached_totals_come_from_the_fill(spark):
    spark.catalog.clearCache()
    got = []

    def fill_with_totals():
        with cached_totals(spark.range(100), F.sum("id")) as (_, row):
            got.append(tuple(row))

    def plain_fill():
        with cached(spark.range(100)):
            pass

    # the totals ride the same aggregate as the plain fill's count
    assert _jobs(spark, "cache-totals-fill", fill_with_totals) == _jobs(
        spark, "cache-plain-fill", plain_fill
    )
    assert got == [(100, 4950)]
    assert _cache_empty(spark)


def test_cooc_pmi_reads_its_totals_from_the_fills(spark):
    """q_cooc_pmi needs the token total and the pair total. Each comes
    from its cache's fill: 15 jobs on the sf0.001 fixture. Re-counting
    the token cache and re-summing the pair cache after the fills ran 19."""
    spark.catalog.clearCache()
    run = lambda: llmops.q_cooc_pmi(spark, SF_SMALL).collect()  # noqa: E731
    assert _jobs(spark, "cache-q_cooc_pmi", run) == 15
    assert _cache_empty(spark)


def test_site_releases_when_its_build_raises(spark, monkeypatch):
    """q_dedup_minhash caches its shingle set; a failing pair plan must
    not leave that cache behind for the rest of the session."""
    spark.catalog.clearCache()

    def boom(s, hash="md5"):
        raise RuntimeError("plan failed")

    monkeypatch.setattr(llmops, "_minhash_plan", boom)
    with pytest.raises(RuntimeError, match="plan failed"):
        llmops.q_dedup_minhash(spark, SF_SMALL)
    assert _cache_empty(spark)
