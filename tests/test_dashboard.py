from __future__ import annotations

from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.plans import (
    registry,
)
from development_of_a_real_time_data_pipeline_for_user_profile_analysis_spark.plans.dashboard import (
    refresh,
)


def test_dashboard_refresh_consistency(spark, sf_dir):
    profiles = registry.profiles_df(spark, sf_dir)
    views = refresh(profiles)
    total = views["total_users"].collect()[0]["count"]
    assert total == profiles.count()
    assert sum(r["count"] for r in views["gender_distribution"].collect()) == total
    assert sum(r["count"] for r in views["age_histogram"].collect()) == total
    ecdf = views["age_ecdf"].collect()
    assert len(ecdf) == total and ecdf[-1].cum_count == total
    assert len(views["top_email_domains"].collect()) == 5
    for df in views.values():
        df.unpersist()


def test_refresh_leaves_no_state_between_polls(spark, sf_dir, tmp_path):
    """A poll leaves nothing behind: after the sink grows, a refresh
    without `previous` sees the new total; an unrelated count over the
    sink is not answered from a poll's views; and repeated polls leave
    the cache manager empty and add no persistent RDD."""
    spark.catalog.clearCache()
    sink = str(tmp_path / "sink")
    profiles = registry.profiles_df(spark, sf_dir)
    profiles.write.parquet(sink)
    n = spark.read.parquet(sink).count()
    assert n > 0

    def total() -> int:
        views = refresh(spark.read.parquet(sink))
        return views["total_users"].collect()[0]["count"]

    assert total() == n
    profiles.write.mode("append").parquet(sink)  # the sink grows to 2n
    assert spark.read.parquet(sink).count() == 2 * n
    assert total() == 2 * n

    cache = spark._jsparkSession.sharedState().cacheManager()
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    for _ in range(20):
        refresh(spark.read.parquet(sink))
        assert cache.isEmpty()
    assert set(jsc.getPersistentRDDs().keySet()) <= before
