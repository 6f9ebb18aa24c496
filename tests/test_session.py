"""Session settings that answers depend on are pinned by get_spark and by
the pipeline job on a session it did not build, not inherited from cluster
defaults."""

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


def test_run_pipeline_pins_answer_settings_on_the_active_session(
    spark, sf_dir, tmp_path
):
    # under spark-submit run_pipeline reuses the session the cluster's
    # defaults built; ANSI off or a local time zone there must not survive
    from jobs import run_pipeline

    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        run_pipeline.main([
            "--input", f"{sf_dir}/documents.parquet", "--out", str(tmp_path / "kg"),
            "--derive-corpus", "--buckets", "4",
        ])
        assert spark.conf.get("spark.sql.ansi.enabled") == "true"
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_bigint_overflow_raises(spark):
    df = spark.range(2, 3).selectExpr("id * 9223372036854775807 AS wrapped")
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        df.collect()
