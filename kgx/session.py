"""SparkSession factory with scale-oriented defaults.

Used by the jobs, tests and benchmarks.  The master, the shuffle-partition
count and the driver memory are defaults: a setting the launch gave
(``spark-submit --master``/``--conf``, ``spark-defaults.conf``) wins over
them, and an explicit argument wins over both.  The driver-memory default
applies only where ``get_spark`` starts the driver JVM; under
``spark-submit`` the JVM already runs, so its heap is
``--driver-memory``'s.  Every setting here is
cluster-safe — the same config block is what we'd ship in
``spark-defaults.conf`` for a 1000-executor job:

- AQE on (runtime coalescing + skew-join splitting) — the heavy-tail doc-size
  distribution makes static partition sizing wrong at 100 TB.
- Arrow batch size bounded so a batch of 1 MB documents doesn't blow the
  Python worker (10k rows x 1 MB would be 10 GB per batch otherwise).
- Shuffle partitions default to 2x cores locally; on a real cluster AQE
  coalesces from ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``
  downward, so oversizing is safe and undersizing is not.
- ANSI mode and the UTC session time zone pinned (:data:`ANSWER_CONF`),
  not inherited from a cluster's ``spark-defaults``: PageRank's fixed-point
  ranks and ``sentence_prune``'s ``doc_id * 2^20 + idx`` order key rely on
  bigint overflow raising ARITHMETIC_OVERFLOW; with ANSI off it would wrap
  around silently.
"""

from __future__ import annotations

import argparse
import os
from collections.abc import Callable

from pyspark.sql import SparkSession


#: The settings answers depend on.  ``get_spark`` sets them on every session
#: it returns, one that already ran included, whatever the launch set.
ANSWER_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "true",
}


def at_least(low: int) -> Callable[[str], int]:
    """argparse ``type=`` for a job's int flag bounded below by ``low``: a
    smaller value is a usage error (exit 2, naming the flag and the value)
    raised while parsing, before any Spark session starts."""

    def bounded_int(text: str) -> int:
        value = int(text)
        if value < low:
            raise argparse.ArgumentTypeError(f"must be >= {low}, got {value}")
        return value

    return bounded_int


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _default_driver_mem() -> str:
    """Half of physical RAM, capped at 24g, floored at the historical 8g
    default (the floor only bends below 8g on hosts that physically lack
    8 GB, where the old fixed value could never have been honored anyway).
    Falls back to 8g when RAM can't be probed.  Big heaps help the persisted
    materialization; the 8g floor prevents a silent regression on mid-size
    hosts (e.g. 12 GB boxes) that ran fine at the old fixed 8g."""
    try:
        total_gb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / (1 << 30)
    except (ValueError, OSError, AttributeError):
        return "8g"
    half = int(total_gb // 2)
    if total_gb >= 8:
        return f"{min(24, max(8, half))}g"
    return f"{max(2, half)}g"


def _launch_conf() -> dict[str, str]:
    """The settings the driver JVM was launched with, or none while no JVM
    runs.  Under ``spark-submit`` the JVM starts before the job script, so
    this is what the submit set."""
    from pyspark import SparkConf, SparkContext

    if "PYSPARK_GATEWAY_PORT" in os.environ:
        SparkContext._ensure_initialized()
    if SparkContext._jvm is None:
        return {}
    return dict(SparkConf().getAll())


def get_spark(
    app_name: str = "kgx",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 1024,
) -> SparkSession:
    cores = default_parallelism()
    defaults = {
        "spark.master": os.environ.get("KGX_MASTER", f"local[{cores}]"),
        "spark.sql.shuffle.partitions": str(max(2 * cores, 8)),
    }
    launched = _launch_conf()
    if not launched:
        # the heap is sized when the driver JVM starts; a running one (a
        # spark-submit launch) keeps its own, so the conf must not claim one
        defaults["spark.driver.memory"] = os.environ.get(
            "KGX_DRIVER_MEM", _default_driver_mem()
        )
    conf = {k: v for k, v in defaults.items() if k not in launched}
    if master:
        conf["spark.master"] = master
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    builder = (
        SparkSession.builder.appName(app_name)
        .config(map=conf)
        .config(map=ANSWER_CONF)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
