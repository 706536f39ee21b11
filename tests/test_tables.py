"""``sources/tables.write_index_clustered`` caches only frames it owns:
a frame the caller already persisted keeps its cache, at its level."""

from __future__ import annotations

from pyspark import StorageLevel

from sport_advantages_moderne_data_infrastructure_spark.sources.tables import (
    write_index_clustered,
)


def test_write_index_clustered_keeps_caller_cache(spark, tmp_path):
    cached = spark.range(200).withColumnRenamed("id", "k") \
        .persist(StorageLevel.MEMORY_ONLY)
    try:
        cached.count()
        write_index_clustered(cached, str(tmp_path / "cached"), "k")
        assert cached.storageLevel == StorageLevel.MEMORY_ONLY
        assert spark.read.parquet(str(tmp_path / "cached")).count() == 200
    finally:
        cached.unpersist()

    fresh = spark.range(200).withColumnRenamed("id", "k")
    write_index_clustered(fresh, str(tmp_path / "fresh"), "k")
    # the function's own cache of an uncached frame is released
    assert fresh.storageLevel == StorageLevel.NONE
    assert spark.read.parquet(str(tmp_path / "fresh")).count() == 200
