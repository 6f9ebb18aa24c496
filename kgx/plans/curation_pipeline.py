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

Each stage materializes its survivor set once (an eager local checkpoint
of (doc_id, text) — never wider, see :func:`kgx.functions.plan.materialize`),
so the funnel metrics cost no recomputation, downstream stages reuse the
stored survivors, and each stage's plan starts from a short leaf scan
instead of every upstream stage's plan.  Output: ``curated/`` parquet
(doc_id, text) plus a one-row ``funnel`` table recording per-stage document counts —
the number a 100 TB curation run reports to its operators.

The reference has no corpus curation (one trusted document per request,
reference main.py:69-117); this job is the batch front door its extractor
never needed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgx.functions.plan import materialize, release
from kgx.operators import curation, dedup, textstats
from kgx.plans.lineage import read_or_empty


@dataclass
class CurationConfig:
    out_dir: str
    min_tokens: int = 20
    near_dup_threshold: float = 0.5
    scrub_pii: bool = True
    prune_sentences: bool = True
    write: bool = True
    #: commit per-stage survivor snapshots + funnel-lineage rows, and on
    #: restart skip every committed stage (requires ``write``)
    resume: bool = False
    #: extra keyword overrides for the quality gate (max_symbol_ratio etc.) —
    #: prose corpora with short sentences need a looser symbol cap than the
    #: Gopher default, which counts sentence-final periods as symbols.
    quality_kwargs: dict = field(default_factory=dict)


# Shared stage builders — run() (count-instrumented, checkpointed) and
# funnel_final() (the lazy gate-query/oracle view) compose the SAME stages,
# so the metrics job and the correctness oracle can never drift.

def _stage_quality(documents: DataFrame, cfg: CurationConfig) -> DataFrame:
    passing = textstats.quality_filter(
        documents, min_tokens=cfg.min_tokens, **cfg.quality_kwargs
    ).where("passes").select("doc_id")
    return documents.join(passing, "doc_id", "left_semi")


def _stage_exact(docs: DataFrame) -> DataFrame:
    keep_exact = (
        dedup.exact_groups(docs)
        .where("doc_id = canonical_doc_id")
        .select("doc_id")
    )
    return docs.join(keep_exact, "doc_id", "left_semi")


def _stage_near_dup(docs: DataFrame, cfg: CurationConfig) -> DataFrame:
    keep_near = (
        dedup.near_dup_clusters(docs, threshold=cfg.near_dup_threshold)
        .where("NOT is_duplicate")
        .select("doc_id")
    )
    return docs.join(keep_near, "doc_id", "left_semi")


def _stage_pii(docs: DataFrame) -> DataFrame:
    """(doc_id, n_pii, text) — scrubbed text plus the per-doc redaction count."""
    return curation.pii_scrub(docs).select(
        "doc_id", "n_pii", F.col("clean_text").alias("text")
    )


def _stage_prune(docs_txt: DataFrame) -> DataFrame:
    return (
        curation.sentence_prune(docs_txt)
        .where("n_kept > 0")
        .select("doc_id", F.col("pruned_text").alias("text"))
    )


#: survivor tables checkpointed by funnel_final — bounded ((doc_id, text),
#: never wider than the corpus); clear with clear_funnel_cache()
_FUNNEL_CACHE: list[DataFrame] = []


def clear_funnel_cache() -> None:
    while _FUNNEL_CACHE:
        release(_FUNNEL_CACHE.pop())


def funnel_final(documents: DataFrame, cfg: CurationConfig) -> DataFrame:
    """The curated corpus as ONE DataFrame (doc_id, text): quality gate →
    exact dedup → near-dup keep-one → PII scrub → sentence prune.  This is
    the gate-query view of :func:`run` — the DuckDB oracle
    (kgx.oracles.curation_funnel_sql) replays the identical five-stage
    composition as CTEs.

    The survivor-set boundaries that the downstream plan references many
    times are pinned — near-dup clustering reads its input ~6× (shingles,
    sizes, signature verify, corpus map-back) and sentence prune reads its
    input 3× (instances, keep-key join, text rejoin), so a fully lazy
    composition re-evaluates the quality+dedup chain multiplicatively
    (measured: minutes instead of seconds at sf0.1).  Boundaries are
    (doc_id, text) only; call :func:`clear_funnel_cache` when done (mirrors
    __spark_entry__'s bounded extraction cache).

    Each boundary is an eager local checkpoint
    (:func:`kgx.functions.plan.materialize`), not a lazy cache: inside one
    fully-lazy job the near-dup plan references its input from several
    concurrent shuffle-map branches (signatures, two verification sides,
    the keep semi-join), and branches racing a COLD cache each recompute
    the whole upstream chain — measured ~2× the stage-sequential cost at
    sf0.1.  The returned plan reads every boundary through a short
    ``Scan ExistingRDD`` leaf, so it no longer embeds the upstream stages'
    plans (a persisted boundary's plan text grew to MBs by the prune)."""

    def _mark(df: DataFrame) -> DataFrame:
        df = materialize(df)
        _FUNNEL_CACHE.append(df)
        return df

    # the INPUT is pinned too: the quality gate derives ~10 stat columns
    # from text, and Catalyst's collapsed projection re-evaluates the input
    # plan once per derived column — multiplicative when the input is a
    # computed view (a rendered fixture, a decoded/normalized upstream)
    # rather than a bare parquet scan (measured ~25x at sf0.1 on the
    # narrative corpus).  Same bounded (doc_id, text) shape as the survivor
    # boundaries.
    docs_in = _mark(documents)
    exact = _mark(_stage_exact(_stage_quality(docs_in, cfg)))
    docs = _mark(_stage_near_dup(exact, cfg))
    docs_txt = _stage_pii(docs).select("doc_id", "text") if cfg.scrub_pii else docs
    if not cfg.prune_sentences:
        return docs_txt
    return _stage_prune(_mark(docs_txt) if cfg.scrub_pii else docs_txt)


# ---------------------------------------------------------------------------
# per-stage checkpoint/resume (the funnel's analogue of kgx.plans.lineage)
# ---------------------------------------------------------------------------

#: stage-lineage row written AFTER a stage's snapshot commits — the same
#: write-output-then-commit-lineage ordering as kgx/plans/pipeline.py, so a
#: job killed mid-write never records a partial snapshot as done.
CURATION_LINEAGE_SCHEMA = (
    "stage string, metric string, n_docs long, n_pii long, finished_at timestamp"
)


def _stage_snapshot_path(out_dir: str, stage: str) -> str:
    return os.path.join(out_dir, "stages", stage)


def _stage_lineage_path(out_dir: str) -> str:
    return os.path.join(out_dir, "funnel_lineage")


def read_stage_lineage(spark: SparkSession, out_dir: str) -> dict[str, dict]:
    """{stage: {"metric": ..., "n_docs": ..., "n_pii": ...}} for committed
    stages; empty on a fresh out_dir.  A lineage table that exists but
    cannot be read raises: treating it as empty would silently redo every
    committed stage."""
    lineage = read_or_empty(
        spark, _stage_lineage_path(out_dir), CURATION_LINEAGE_SCHEMA
    )
    return {r["stage"]: r.asDict() for r in lineage.collect()}


def run(spark: SparkSession, documents: DataFrame, cfg: CurationConfig) -> dict:
    """Run the funnel over ``documents`` (doc_id, text); returns metrics.

    With ``cfg.resume`` (requires ``cfg.write``), every stage commits its
    survivor snapshot (``stages/<name>`` parquet, (doc_id, text) only) and
    then appends a funnel-lineage row; a restarted run loads the snapshot of
    the longest committed stage prefix and recomputes NOTHING before it —
    the funnel's per-stage analogue of the KG pipeline's per-bucket lineage
    (north rule: resume from checkpoint without recomputing completed
    work).  Snapshot-then-lineage ordering makes a mid-write crash replay
    the interrupted stage instead of trusting partial output."""
    from datetime import datetime, timezone

    # (stage name, metric key, builder) in funnel order; pii is the one
    # stage that contributes an extra metric (redaction count)
    stage_defs: list[tuple[str, str]] = [
        ("quality", "after_quality"),
        ("exact_dedup", "after_exact_dedup"),
        ("near_dup", "after_near_dup"),
    ]
    if cfg.scrub_pii:
        stage_defs.append(("pii", "after_pii"))

    resume = cfg.resume and cfg.write
    done = read_stage_lineage(spark, cfg.out_dir) if resume else {}
    # longest committed prefix of THIS config's stage list
    start_idx = 0
    for name, _ in stage_defs:
        if name in done:
            start_idx += 1
        else:
            break

    # every stage boundary is pinned (see funnel_final) and released on
    # return; the input too, because the quality stage's collapsed
    # projection re-evaluates the input plan per derived stat column
    pinned: list[DataFrame] = []
    funnel: dict[str, int] = {}

    def _pin(df: DataFrame) -> DataFrame:
        df = materialize(df)
        pinned.append(df)
        return df

    def _commit(stage: str, metric: str, df: DataFrame, n_pii: int = 0) -> DataFrame:
        df = _pin(df)
        funnel[metric] = df.count()
        if resume:
            df.write.mode("overwrite").parquet(
                _stage_snapshot_path(cfg.out_dir, stage)
            )
            spark.createDataFrame(
                [(stage, metric, funnel[metric], n_pii,
                  datetime.now(timezone.utc))],
                CURATION_LINEAGE_SCHEMA,
            ).write.mode("append").parquet(_stage_lineage_path(cfg.out_dir))
        return df

    try:
        documents = _pin(documents)
        funnel["input"] = documents.count()

        if start_idx > 0:
            last_stage, _ = stage_defs[start_idx - 1]
            docs = _pin(
                spark.read.parquet(_stage_snapshot_path(cfg.out_dir, last_stage))
            )
            for name, metric in stage_defs[:start_idx]:
                funnel[metric] = int(done[name]["n_docs"])
                if name == "pii":
                    funnel["pii_redactions"] = int(done[name]["n_pii"])
            if last_stage == "pii":
                docs = docs.select("doc_id", "text")
        else:
            docs = documents

        for name, metric in stage_defs[start_idx:]:
            if name == "quality":
                docs = _commit(name, metric, _stage_quality(docs, cfg))
            elif name == "exact_dedup":
                # pinned: the near-dup stage reads its input ~6x — shingles,
                # sizes, verify, corpus map-back
                docs = _commit(name, metric, _stage_exact(docs))
            elif name == "near_dup":
                docs = _commit(name, metric, _stage_near_dup(docs, cfg))
            elif name == "pii":
                scrubbed = _pin(_stage_pii(docs))
                n_pii = int(
                    scrubbed.agg(F.coalesce(F.sum("n_pii"), F.lit(0))).collect()[0][0]
                )
                funnel["pii_redactions"] = n_pii
                docs = _commit(name, metric, scrubbed.select("doc_id", "text"), n_pii)

        # final: corpus-wide sentence prune (keep-first; fully-pruned docs
        # drop out) — its output IS the curated table, so no separate snapshot
        final = _pin(_stage_prune(docs) if cfg.prune_sentences else docs)
        funnel["final_docs"] = final.count()

        if cfg.write:
            final.write.mode("overwrite").parquet(os.path.join(cfg.out_dir, "curated"))
            spark.createDataFrame([funnel]).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(cfg.out_dir, "funnel")
            )
    finally:
        for df in pinned:
            release(df)
    return funnel
