"""``_fan``'s size gate: inputs too large to need a fan-out scan wide
already and must come back without a round-robin Repartition."""

import pytest

import __spark_entry__ as entrymod

CONF = "spark.sql.files.maxPartitionBytes"


def _has_repartition(df) -> bool:
    return "Repartition" in df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture
def max_partition_bytes(spark):
    old = spark.conf.get(CONF)
    yield lambda v: spark.conf.set(CONF, v)
    spark.conf.set(CONF, old)


def test_fan_skips_inputs_over_the_gate(spark, max_partition_bytes):
    # range(10_000) is an 80,000-byte plan; with 1 KiB splits it is far
    # past parallelism × maxPartitionBytes, so the gate must leave it be
    max_partition_bytes("1k")
    assert not _has_repartition(entrymod._fan(spark.range(10_000)))


def test_fan_fans_small_inputs_out(spark, max_partition_bytes):
    max_partition_bytes("32m")
    assert _has_repartition(entrymod._fan(spark.range(10_000)))


def test_fan_reads_spark_byte_units(spark, max_partition_bytes):
    # 80,000 bytes over 8 cores: 10k-byte splits fan, 9k-byte ones
    # ("9k" = 9,216 bytes, 73,728 in total) do not — binary units, as
    # Spark parses them
    assert spark.sparkContext.defaultParallelism == 8
    max_partition_bytes("10k")
    assert _has_repartition(entrymod._fan(spark.range(10_000)))
    max_partition_bytes("9k")
    assert not _has_repartition(entrymod._fan(spark.range(10_000)))
