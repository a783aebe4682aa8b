"""Session confs that `get_spark` guarantees to every engine caller."""

from __future__ import annotations


def test_get_spark_pins_engine_confs(spark):
    conf = spark.conf
    # explicit-path reads stat up to 512 files on the driver instead of
    # launching a distributed listing job (see the comment in session.py)
    assert (
        conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold")
        == "512"
    )
    # DuckDB oracles compare UTC-naive timestamps
    assert conf.get("spark.sql.session.timeZone") == "UTC"
    assert conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    # conftest requests shuffle_partitions=8
    assert conf.get("spark.sql.shuffle.partitions") == "8"
