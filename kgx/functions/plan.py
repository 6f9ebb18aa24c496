"""Optimizer barriers for computed-column materialization.

Catalyst's CollapseProject inlines a computed column into every textual
reference downstream.  For scalar consumers SPARK-36718 guards against
duplicating non-cheap expressions, but a reference INSIDE a higher-order-
function lambda body slips through with a single textual occurrence — and
is then re-evaluated PER ARRAY ELEMENT at runtime.  Nest two HOF stages
(array built from a computed column, then a second lambda referencing that
array) and the cost multiplies: profiled on a winnowed-fingerprint
operator, 500 sub-KB documents ran for >10 MINUTES because every
sliding-window element re-evaluated the full k-gram md5 array, which
itself re-evaluated the regex-normalized text per gram — O(L²·regex)
per document instead of O(L).

:func:`project_barrier` is the surgical fix: an ``explode(array(struct))``
Generate node between the defining projection and its consumers.  Generate
evaluates its child once per row and emits the computed columns as plain
bound attributes; CollapseProject cannot inline across a Generate, so
downstream lambdas read row values instead of re-running expressions.
Cost: one extra narrow operator per row — no shuffle, no caching, no
memory pinning (unlike persist(), which needs lifecycle management).

:func:`materialize` is the other barrier: a stage boundary that later
plans read many times.  ``persist()`` would serve the rows, but its
InMemoryRelation carries the whole upstream plan, so every downstream SQL
execution and AQE re-plan re-renders it — on 1,000 documents the curation
funnel's last stage built a 38 MB plan string that way.  An eager ``localCheckpoint`` leaves
a short ``Scan ExistingRDD`` leaf instead; :func:`release` frees it.
Every pin in kgx goes through :func:`materialize`, so the pin policy lives
here and nowhere else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def project_barrier(df: DataFrame) -> DataFrame:
    """Materialize ``df``'s (possibly computed) columns as plain attributes
    before downstream projections consume them.  Schema-preserving,
    row-preserving, zero-shuffle."""
    return df.select(
        F.explode(F.array(F.struct(*[F.col(c) for c in df.columns]))).alias("_row")
    ).select("_row.*")


def materialize(df: DataFrame) -> DataFrame:
    """Pin ``df`` with an eager ``localCheckpoint``: one job computes its
    rows into executor storage, and the returned frame reads them back
    through a leaf scan with none of ``df``'s lineage in its plan.

    Trade-off: checkpoint blocks are not replicated, and the lineage that
    could recompute them is gone, so losing an executor fails the job
    instead of retrying it.  Jobs that must survive that keep durable
    snapshots (``resume=True``) as their recovery path; a deployment on
    preemptible executors changes this one function instead (e.g. to a
    reliable ``checkpoint()``).  Free the blocks with :func:`release` once
    the consumers have run."""
    return df.localCheckpoint(eager=True)


def release(df: DataFrame) -> None:
    """Drop the checkpoint blocks of a frame returned by :func:`materialize`
    (``DataFrame.unpersist`` only knows the cache manager's entries)."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(True)
