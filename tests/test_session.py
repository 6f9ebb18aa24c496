"""Session settings that answers depend on are pinned by get_spark, not
inherited from cluster defaults."""

import pytest

from kgx.session import get_spark


def test_get_spark_pins_ansi_mode(spark):
    # a cluster default (or an earlier caller) turning ANSI off must not
    # survive get_spark: fixed-point operators rely on overflow raising
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        s = get_spark("kgx-tests", shuffle_partitions=int(partitions))
        assert s.conf.get("spark.sql.ansi.enabled") == "true"
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")


def test_bigint_overflow_raises(spark):
    df = spark.range(2, 3).selectExpr("id * 9223372036854775807 AS wrapped")
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        df.collect()
