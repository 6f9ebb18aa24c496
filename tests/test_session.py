"""Session settings that answers depend on are pinned by get_spark, on a
session that already ran too, not inherited from cluster defaults; the
settings a spark-submit launch gives win over get_spark's defaults."""

import os
import subprocess
import sys

import pytest

from kgx.session import get_spark


def test_get_spark_pins_ansi_mode(spark):
    # a cluster default (or an earlier caller) turning ANSI off must not
    # survive get_spark: PageRank's fixed-point ranks and sentence_prune's
    # doc_id * 2^20 + idx order key rely on overflow raising
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
    # run_pipeline reuses a session that is already running; ANSI off or a
    # local time zone there (a cluster default) must not survive
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


def test_get_spark_keeps_the_spark_submit_settings(tmp_path):
    # a cluster submit must run on the cluster's master and shuffle width,
    # not on get_spark's local defaults; ANSI is still pinned, and a driver
    # heap the submit did not size is not claimed in the conf
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    probe = tmp_path / "probe.py"
    probe.write_text(
        "from kgx.session import get_spark\n"
        "s = get_spark('probe')\n"
        "print('PROBE', s.sparkContext.master,"
        " s.conf.get('spark.sql.shuffle.partitions'),"
        " s.conf.get('spark.sql.ansi.enabled'),"
        " s.conf.get('spark.driver.memory', None))\n"
        "s.stop()\n"
    )
    env = {**os.environ, "PYTHONPATH": root, "PYSPARK_PYTHON": sys.executable,
           "PYSPARK_DRIVER_PYTHON": sys.executable}
    proc = subprocess.run(
        ["spark-submit", "--master", "local[1]",
         "--conf", "spark.sql.shuffle.partitions=3", str(probe)],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    probed = [line.split()[1:] for line in proc.stdout.splitlines()
              if line.startswith("PROBE ")]
    assert probed == [["local[1]", "3", "true", "None"]], proc.stdout[-2000:]


def test_bigint_overflow_raises(spark):
    df = spark.range(2, 3).selectExpr("id * 9223372036854775807 AS wrapped")
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        df.collect()
