"""The session factory's width contract: fetching the running session
without a width (as ``jobs/run_tier.py`` does) leaves its shuffle width
alone, and an explicit width still applies."""

from timeseries_harmonizer_spark.session import get_spark


def test_get_spark_keeps_running_session_width(spark):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "7")
        assert get_spark(app_name="fetch") is spark
        assert spark.conf.get(key) == "7"
        get_spark(app_name="fetch", shuffle_partitions=5)
        assert spark.conf.get(key) == "5"
    finally:
        spark.conf.set(key, before)


def test_get_spark_caches_generated_classes(spark):
    """One tier pass generates more classes than Spark's default cache of
    100 holds."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
