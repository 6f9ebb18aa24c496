"""End-to-end corpus curation job: the standard pre-training data funnel.

The KG pipeline (kgx/plans/pipeline.py) assumes a curated corpus; this job
produces one.  Stage order follows the published pipelines (C4, Gopher
§A.1, RefinedWeb): cheap per-document gates first, corpus-global passes on
the survivors, text rewrites last —

1. **quality gate** — Gopher/C4 composite rules
   (:func:`kgx.operators.textstats.quality_filter`), pure projection.
2. **exact dedup** — keep the min-doc_id copy of byte-identical texts
   (:func:`kgx.operators.dedup.exact_groups`), 60-bit-hash shuffle.
3. **near-dup clusters** — MinHash-LSH pair graph → connected components →
   keep one doc per cluster (:func:`kgx.operators.dedup.near_dup_clusters`).
4. **PII scrub** — redaction cascade rewrite
   (:func:`kgx.operators.curation.pii_scrub`).
5. **sentence prune** — corpus-wide keep-first-occurrence sentence dedup
   (:func:`kgx.operators.curation.sentence_prune`); documents whose every
   sentence was seen elsewhere drop out.

Stages 1–4 are one ordered table (:func:`_stages`) and stage 5 is
:func:`_final`.  :func:`run` (the counted, written job) and
:func:`funnel_final` (the lazy gate-query view) both walk them, pinning the
input and every stage boundary with an eager local checkpoint
(:func:`kgx.functions.plan.materialize`) of (doc_id, text), plus the pii
stage's redaction count.  So each stage's plan starts from a short leaf
scan.  :func:`run` reads every funnel count from the checkpoint job that
pins the boundary (a ``DataFrame.observe`` on the pinned frame), so the
metrics cost no job of their own.  Output: ``curated/``
parquet (doc_id, text) plus a one-row ``funnel`` table of per-stage
document counts — the number a 100 TB curation run reports to its
operators.

The reference has no corpus curation (one trusted document per request,
reference main.py:69-117); this job is the batch front door its extractor
never needed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Callable

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from kgx.functions.plan import materialize, release
from kgx.operators import curation, dedup, textstats
from kgx.plans import lineage


@dataclass
class CurationConfig:
    out_dir: str
    min_tokens: int = 20
    near_dup_threshold: float = 0.5
    scrub_pii: bool = True
    prune_sentences: bool = True
    #: commit per-stage survivor snapshots + funnel-lineage rows, and on
    #: restart skip every committed stage
    resume: bool = False
    #: extra keyword overrides for the quality gate (max_symbol_ratio etc.) —
    #: prose corpora with short sentences need a looser symbol cap than the
    #: Gopher default, which counts sentence-final periods as symbols.
    quality_kwargs: dict = field(default_factory=dict)


def _keep(docs: DataFrame, survivors: DataFrame) -> DataFrame:
    return docs.join(survivors.select("doc_id"), "doc_id", "left_semi")


def _stages(cfg: CurationConfig) -> list[tuple[str, str, Callable[[DataFrame], DataFrame]]]:
    """(stage, metric, build) in funnel order — the only place the order is
    written.  ``build`` maps the previous boundary (doc_id, text) to the
    stage's survivors; pii's survivors also carry ``n_pii``, the per-doc
    redaction count."""
    stages = [
        ("quality", "after_quality", lambda d: _keep(d, textstats.quality_filter(
            d, min_tokens=cfg.min_tokens, **cfg.quality_kwargs
        ).where("passes"))),
        ("exact_dedup", "after_exact_dedup", lambda d: _keep(
            d, dedup.exact_groups(d).where("doc_id = canonical_doc_id")
        )),
        ("near_dup", "after_near_dup", lambda d: _keep(
            d, dedup.near_dup_clusters(d, threshold=cfg.near_dup_threshold)
            .where("NOT is_duplicate")
        )),
    ]
    if cfg.scrub_pii:
        stages.append(("pii", "after_pii", lambda d: curation.pii_scrub(d).select(
            "doc_id", "n_pii", F.col("clean_text").alias("text")
        )))
    return stages


def _final(docs: DataFrame, cfg: CurationConfig) -> DataFrame:
    """The curated (doc_id, text): corpus-wide keep-first sentence prune
    (fully-pruned docs drop out), or the last boundary as is."""
    if not cfg.prune_sentences:
        return docs
    return (
        curation.sentence_prune(docs)
        .where("n_kept > 0")
        .select("doc_id", F.col("pruned_text").alias("text"))
    )


#: survivor tables checkpointed by funnel_final — bounded ((doc_id, text)
#: plus pii's count, never wider than the corpus); clear with
#: clear_funnel_cache()
_FUNNEL_CACHE: list[DataFrame] = []


def clear_funnel_cache() -> None:
    while _FUNNEL_CACHE:
        release(_FUNNEL_CACHE.pop())


def funnel_final(documents: DataFrame, cfg: CurationConfig) -> DataFrame:
    """The curated corpus as ONE DataFrame (doc_id, text): the gate-query
    view of :func:`run`, pinned in the same places.  The DuckDB oracle
    (kgx.oracles.curation_funnel_sql) replays the same five stages as CTEs.
    Call :func:`clear_funnel_cache` when done (mirrors __spark_entry__'s
    bounded extraction cache).

    Why every boundary is pinned: near-dup clustering reads its input ~6×
    and sentence prune 3×, so a lazy composition re-evaluates the
    quality+dedup chain multiplicatively (minutes instead of seconds at
    sf0.1); the quality gate's collapsed projection re-evaluates a computed
    input once per derived stat column (~25x at sf0.1 on the narrative
    corpus); and concurrent near-dup branches racing a cold lazy cache each
    recompute the whole upstream chain (~2× the stage-sequential cost at
    sf0.1).  The returned plan reads every boundary through a short
    ``Scan ExistingRDD`` leaf instead of embedding the upstream plans."""

    def _mark(df: DataFrame) -> DataFrame:
        df = materialize(df)
        _FUNNEL_CACHE.append(df)
        return df

    docs = _mark(documents)
    for _, _, build in _stages(cfg):
        docs = _mark(build(docs)).select("doc_id", "text")
    return _final(docs, cfg)


# ---------------------------------------------------------------------------
# per-stage checkpoint/resume (the funnel's analogue of kgx.plans.lineage)
# ---------------------------------------------------------------------------

#: stage-lineage row written AFTER a stage's snapshot commits — the same
#: write-output-then-commit-lineage ordering as kgx/plans/pipeline.py, so a
#: job killed mid-write never records a partial snapshot as done.  n_pii is
#: the stage's redaction count (0 for stages that redact nothing).
CURATION_LINEAGE_SCHEMA = (
    "stage string, metric string, n_docs long, n_pii long, finished_at timestamp"
)
_STAGE_LINEAGE_DIR = "funnel_lineage"


def _stage_snapshot_path(out_dir: str, stage: str) -> str:
    return os.path.join(out_dir, "stages", stage)


def _stage_lineage_path(out_dir: str) -> str:
    return os.path.join(out_dir, _STAGE_LINEAGE_DIR)


def read_stage_lineage(spark: SparkSession, out_dir: str) -> dict[str, dict]:
    """{stage: {"metric": ..., "n_docs": ..., "n_pii": ...}} for committed
    stages; empty on a fresh out_dir.  A lineage table that exists but
    cannot be read raises: treating it as empty would silently redo every
    committed stage."""
    table = lineage.read_or_empty(
        spark, _stage_lineage_path(out_dir), CURATION_LINEAGE_SCHEMA
    )
    return {r["stage"]: r.asDict() for r in table.collect()}


def run(spark: SparkSession, documents: DataFrame, cfg: CurationConfig) -> dict:
    """Run the funnel over ``documents`` (doc_id, text); writes ``curated/``
    and ``funnel/`` under ``cfg.out_dir`` and returns the metrics.

    Walks the same :func:`_stages` table as :func:`funnel_final`, pinning
    the input and every stage boundary.  Each boundary's document count,
    and the pii stage's redaction sum, are observed in the checkpoint job
    that pins it: no count runs a job of its own.  With
    ``cfg.resume``, every stage commits its survivor snapshot
    (``stages/<name>`` parquet, (doc_id, text) only) and then appends a
    funnel-lineage row; a restarted run loads the snapshot of the longest
    committed stage prefix and recomputes NOTHING before it — the funnel's
    per-stage analogue of the KG pipeline's per-bucket lineage (north rule:
    resume from checkpoint without recomputing completed work).
    Snapshot-then-lineage ordering makes a mid-write crash replay the
    interrupted stage instead of trusting partial output."""
    stages = _stages(cfg)
    done = read_stage_lineage(spark, cfg.out_dir) if cfg.resume else {}
    # longest committed prefix of THIS config's stage table
    n_done = 0
    while n_done < len(stages) and stages[n_done][0] in done:
        n_done += 1

    pinned: list[DataFrame] = []
    funnel: dict[str, int] = {}

    def _pin(df: DataFrame) -> tuple[DataFrame, dict]:
        """Pin ``df`` and return it with the boundary's numbers, observed
        in the checkpoint job itself: ``n_docs``, plus ``n_pii`` (the
        redaction sum) when the stage carries it."""
        seen = Observation()
        metrics = [F.count(F.lit(1)).alias("n_docs")]
        if "n_pii" in df.columns:
            metrics.append(F.coalesce(F.sum("n_pii"), F.lit(0)).alias("n_pii"))
        df = materialize(df.observe(seen, *metrics))
        pinned.append(df)
        return df, seen.get

    try:
        docs, seen = _pin(documents)
        funnel["input"] = seen["n_docs"]
        funnel["pii_redactions"] = 0
        for stage, metric, _ in stages[:n_done]:
            funnel[metric] = int(done[stage]["n_docs"])
            funnel["pii_redactions"] += int(done[stage]["n_pii"])
        if n_done:
            docs, _ = _pin(spark.read.parquet(
                _stage_snapshot_path(cfg.out_dir, stages[n_done - 1][0])
            ))

        for stage, metric, build in stages[n_done:]:
            survivors, seen = _pin(build(docs))
            funnel[metric] = seen["n_docs"]
            n_pii = seen.get("n_pii", 0)
            funnel["pii_redactions"] += n_pii
            docs = survivors.select("doc_id", "text")
            if cfg.resume:
                docs.write.mode("overwrite").parquet(
                    _stage_snapshot_path(cfg.out_dir, stage)
                )
                lineage.append_rows(
                    cfg.out_dir, _STAGE_LINEAGE_DIR, CURATION_LINEAGE_SCHEMA,
                    [{"stage": stage, "metric": metric, "n_docs": funnel[metric],
                      "n_pii": n_pii, "finished_at": datetime.now(timezone.utc)}],
                )

        final, seen = _pin(_final(docs, cfg))
        funnel["final_docs"] = seen["n_docs"]
        final.write.mode("overwrite").parquet(os.path.join(cfg.out_dir, "curated"))
        # one row, columns in name order, built from Arrow on the driver
        row = pa.Table.from_pylist([dict(sorted(funnel.items()))])
        spark.createDataFrame(row).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(cfg.out_dir, "funnel")
        )
    finally:
        for df in pinned:
            release(df)
    return funnel
