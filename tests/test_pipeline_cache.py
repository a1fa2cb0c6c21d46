"""run_pipeline's cache lifecycle: ``PipelineResult.unpersist`` releases
every frame the run persisted, the salted diff's intermediates included."""

from __future__ import annotations

from widiff_spark import fixtures
from widiff_spark.pipeline import run_pipeline


def test_salted_unpersist_releases_every_cache(spark):
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    docs = fixtures.edge_case_corpus(spark, include_hot_page=True,
                                     hot_revisions=20)
    res = run_pipeline(spark, docs, mode="salted")
    assert res.tables["value_change"].count() > 0
    assert not cache.isEmpty()
    res.unpersist()
    assert cache.isEmpty()
