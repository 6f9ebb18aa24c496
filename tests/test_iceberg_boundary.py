"""The Iceberg boundary, tested instead of asserted in comments.

SURVEY §7.0 targets Iceberg tables for all persisted state.  This sandbox is
offline: no iceberg-spark-runtime jar ships with pyspark, no ivy cache, no
network to fetch one — so the engine's tested persistence path is parquet
directory tables with dynamic partition overwrite (bucket-level idempotent
rewrite), and requesting Iceberg fails fast with instructions rather than
pretending.  On a real cluster, flipping ``PipelineConfig.table_format`` to
"iceberg" after adding the runtime jar + catalog config swaps the commit
mechanism for Iceberg snapshots with the identical dataflow."""

import glob
import os
from types import SimpleNamespace

import pyspark
import pytest
from py4j.protocol import Py4JJavaError, Py4JNetworkError

from kgx.plans import pipeline


def test_no_iceberg_jar_in_this_environment():
    jar_dir = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    assert not glob.glob(os.path.join(jar_dir, "*iceberg*")), (
        "an iceberg jar appeared — wire up the real writeTo path and retire"
        " this boundary test"
    )
    assert not glob.glob(os.path.expanduser("~/.ivy2/jars/*iceberg*"))


def test_iceberg_detection_and_fail_fast(spark, tmp_path):
    assert pipeline.iceberg_available(spark) is False
    cfg = pipeline.PipelineConfig(out_dir=str(tmp_path), table_format="iceberg")
    try:
        pipeline.run(spark, spark.range(0).selectExpr("'d' as doc_id"), cfg)
        raise AssertionError("expected RuntimeError for missing iceberg runtime")
    except RuntimeError as e:
        assert "iceberg-spark-runtime" in str(e)


def _java_error(class_name):
    jclass = SimpleNamespace(getName=lambda: class_name)
    return Py4JJavaError(
        "forName failed", SimpleNamespace(_target_id="o1", getClass=lambda: jclass)
    )


@pytest.mark.parametrize(
    "error",
    [_java_error("java.lang.LinkageError"), Py4JNetworkError("gateway gone")],
    ids=["linkage_error", "dead_gateway"],
)
def test_iceberg_probe_reraises_anything_but_class_not_found(error):
    """Only ``ClassNotFoundException`` means "no iceberg jar" (the real JVM
    path is checked above): a broken classpath or a dead gateway must be
    raised, not read as the parquet fallback."""

    def for_name(_):
        raise error

    fake = SimpleNamespace(_jvm=SimpleNamespace(java=SimpleNamespace(
        lang=SimpleNamespace(Class=SimpleNamespace(forName=for_name)))))
    with pytest.raises(type(error)):
        pipeline.iceberg_available(fake)


def test_dynamic_partition_overwrite_is_bucket_idempotent(spark, tmp_path):
    """The parquet fallback's substitute for Iceberg's partition-level
    snapshot commit: overwriting a subset of buckets must leave the other
    bucket directories byte-untouched."""
    import pandas as pd

    path = str(tmp_path / "t")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["a", "b"], "bucket": [0, 1], "v": [1, 1]})
    )
    df.write.mode("overwrite").partitionBy("bucket").parquet(path)
    before = sorted(glob.glob(os.path.join(path, "bucket=1", "*.parquet")))
    # rewrite ONLY bucket 0
    df2 = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["a2"], "bucket": [0], "v": [2]})
    )
    df2.write.mode("overwrite").partitionBy("bucket").parquet(path)
    after = sorted(glob.glob(os.path.join(path, "bucket=1", "*.parquet")))
    assert before == after  # untouched partition survives the overwrite
    got = {
        (r["doc_id"], r["v"]) for r in spark.read.parquet(path).collect()
    }
    assert got == {("a2", 2), ("b", 1)}
