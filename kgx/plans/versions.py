"""Versioned recompute — snapshot diffs and SCD2 validity intervals.

Maps the reference's document-version lifecycle (models.py:29-46 ``versions``
table; main.py:202-285 update = full re-extract + new version row) onto an
append-only triple log, one ``run_seq`` per pipeline run:

- :func:`snapshot_diff` — the added/removed changelog between two runs
- :func:`scd2_intervals` — point-in-time validity intervals over the log

The latest-version (SURVEY JN3/W2) and keep-newest-K retention (A6/W3)
shapes run as the events twins ``w2_latest_event_per_user`` and
``w3_retention_tail`` in ``__spark_entry__.QUERIES``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def snapshot_diff(old: DataFrame, new: DataFrame, keys: list[str]) -> DataFrame:
    """Key-level diff between two snapshot states: rows only in ``new``
    are ``'added'``, rows only in ``old`` are ``'removed'`` — the
    changelog a MERGE against an Iceberg/Delta graph table would apply,
    and the reference's version-to-version story (models.py:29-46: an
    update replaces a doc's whole graph with a new version row) expressed
    as an auditable delta instead of a blind overwrite.

    Plan shape: both sides dedup to the key columns, then ONE
    hash-partitioned full-outer equi-join on the composite key — the only
    shuffle, AQE-sized; nothing but key columns crosses it, so at 100 TB
    the diff costs what the narrower of the two snapshot scans costs.
    """
    o = old.select(*keys).distinct().withColumn("__in_old", F.lit(1))
    n = new.select(*keys).distinct().withColumn("__in_new", F.lit(1))
    j = o.join(n, keys, "full_outer")
    return (
        j.where(F.col("__in_old").isNull() | F.col("__in_new").isNull())
        .select(
            *keys,
            F.when(F.col("__in_old").isNull(), F.lit("added"))
            .otherwise(F.lit("removed"))
            .alias("status"),
        )
    )


def scd2_intervals(runs: DataFrame) -> DataFrame:
    """Slowly-changing-dimension type-2 validity intervals over a
    triple append log — the point-in-time table a versioned KG serves
    ("what did the graph assert at run r?"): given (subj, pred, obj,
    run_seq) presence rows, emit one row per CONTIGUOUS presence
    segment with (first_seq, last_seq, is_current).  A triple that
    disappears and later reappears gets TWO intervals (the gap is the
    retraction window) — the classic gaps-and-islands shape, computed
    as ``run_seq - row_number()`` island keys per triple.

    Scale shape: one distinct projection + one window partitioned by
    the triple key (bounded by the run count per partition — never a
    global sort) + one map-side-combined min/max aggregate on
    (triple, island).  Only key columns and two ints ever shuffle.
    ``is_current`` = the segment reaches the newest run in the log,
    ``max(run_seq)``: a 1-row aggregate broadcast onto the segments, not
    a global window.

    Output: (subj, pred, obj, first_seq, last_seq, is_current).
    """
    pres = runs.select("subj", "pred", "obj", "run_seq").distinct()
    newest = runs.agg(F.max("run_seq").alias("__newest"))
    w = Window.partitionBy("subj", "pred", "obj").orderBy("run_seq")
    islands = pres.withColumn(
        "island", F.col("run_seq") - F.row_number().over(w)
    )
    return (
        islands.groupBy("subj", "pred", "obj", "island")
        .agg(
            F.min("run_seq").cast("long").alias("first_seq"),
            F.max("run_seq").cast("long").alias("last_seq"),
        )
        .crossJoin(F.broadcast(newest))
        .select(
            "subj",
            "pred",
            "obj",
            "first_seq",
            "last_seq",
            (F.col("last_seq") == F.col("__newest")).alias("is_current"),
        )
    )
