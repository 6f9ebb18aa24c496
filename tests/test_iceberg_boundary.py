"""The Iceberg boundary, tested instead of asserted in comments.

SURVEY §7.0 targets Iceberg tables for all persisted state.  This sandbox is
offline: no iceberg-spark-runtime jar ships with pyspark, no ivy cache, no
network to fetch one — so the engine's tested persistence path is parquet
directory tables with dynamic partition overwrite (bucket-level idempotent
rewrite).  kgx has no Iceberg switch: on a real cluster the writes in
``kgx.plans.pipeline`` would move to ``.format("iceberg")`` plus a catalog,
with the identical dataflow."""

import glob
import os

import pyspark


def test_no_iceberg_jar_in_this_environment():
    jar_dir = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    assert not glob.glob(os.path.join(jar_dir, "*iceberg*")), (
        "an iceberg jar appeared — wire up the real writeTo path and retire"
        " this boundary test"
    )
    assert not glob.glob(os.path.expanduser("~/.ivy2/jars/*iceberg*"))


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
