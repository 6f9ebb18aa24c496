"""Per-layer metrics from a traced run (``--trace 1``).

Every span is recorded here, in the benchmark, around calls into a kgx
layer's public functions; nothing inside kgx is instrumented.  kgx layers
are lazy DataFrame constructors, so a lazy layer's span is the difference
between noop-sink runs (``write.format("noop")``) over successive prefixes
of the workload's plan.  Eager layers are timed around the call, and the
job's own ``stages`` dict and funnel counts are recorded as returned.

The traced call itself runs with the Spark scheduler counters read before
and after it and with ``lineage.append_lineage`` wrapped; its wall minus an
untraced call's wall, made just before, is the tracing overhead.
"""

from __future__ import annotations

import os
import statistics
import time

import catalog
import hostenv
import workloads

RULES_SAMPLE = 400  # documents timed through rules.extract_document
#: process age after which a traced run starts no optional layer; the
#: single-core call, the longest, took 20-25 s on a 4-core host
OPTIONAL_LAYERS_BY_S = 120


def _noop_s(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _materialize_s(df):
    """Persist ``df`` and count it: (persisted frame, rows, seconds)."""
    t0 = time.perf_counter()
    df = df.persist()
    rows = df.count()
    return df, rows, time.perf_counter() - t0


def _partition_skew(df, text_col: str) -> float:
    """max / mean text characters per partition of ``df`` (empty partitions
    count in the mean), the balance the extraction tasks see."""
    from pyspark.sql import functions as F

    per = (
        df.select(F.spark_partition_id().alias("p"), F.length(text_col).alias("n"))
        .groupBy("p")
        .agg(F.sum("n").alias("n"))
        .collect()
    )
    sizes = [r["n"] for r in per]
    return max(sizes) * df.rdd.getNumPartitions() / sum(sizes)


class _Scheduler:
    """Jobs, stages and tasks the Spark scheduler ran between enter and
    exit, from ``sparkContext.statusTracker()``."""

    def __init__(self, spark):
        self.tracker = spark.sparkContext.statusTracker()

    def __enter__(self):
        self.before = set(self.tracker.getJobIdsForGroup(None))
        return self

    def __exit__(self, *exc):
        jobs = set(self.tracker.getJobIdsForGroup(None)) - self.before
        stage_ids = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = tasks = failed = 0
        for s in stage_ids:
            info = self.tracker.getStageInfo(s)
            if info is not None and info.numCompletedTasks + info.numFailedTasks:
                stages += 1
                tasks += info.numCompletedTasks
                failed += info.numFailedTasks
        self.counts = {
            "spark.jobs": len(jobs),
            "spark.stages": stages,
            "spark.tasks": tasks,
            "spark.failed_tasks": failed,
        }
        return False


def _traced_call(runner, m: dict) -> dict:
    """The workload's entry point once more, with the scheduler counters
    read around it and ``lineage.append_lineage`` timed."""
    from kgx.plans import lineage

    real = lineage.append_lineage
    spans: list[float] = []

    def timed_append(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return real(*args, **kwargs)
        finally:
            spans.append(time.perf_counter() - t0)

    lineage.append_lineage = timed_append
    try:
        with _Scheduler(runner.spark) as sched:
            rec = runner.call()
    finally:
        lineage.append_lineage = real
    m.update(sched.counts)
    m["lineage.commit_s"] = sum(spans)
    return rec


def _kg_stage_metrics(runner, m: dict, traced: dict) -> None:
    """pipeline.run's own stage split, counts and table sizes."""
    from pyspark.sql import functions as F

    result = traced["result"]
    m["pipeline.extract_persist_graphs_write_s"] = result["stages"]["extract_persist_graphs_write"]
    m["pipeline.flat_writes_and_metrics_s"] = result["stages"]["flat_writes_and_metrics"]
    # the call's wall outside pipeline.run's stages: building the input
    # plan, bucketing, lineage bookkeeping and the result
    m["pipeline.driver_s"] = traced["wall_s"] - sum(result["stages"].values())
    m["pipeline.docs"], m["pipeline.triples"] = result["docs"], result["triples"]
    counts = runner.spark.read.parquet(os.path.join(runner.out_dir, "lineage")).agg(
        F.sum("nodes").alias("nodes"), F.sum("edges").alias("edges")
    ).collect()[0]
    m["pipeline.nodes"], m["pipeline.edges"] = int(counts["nodes"]), int(counts["edges"])
    for table in ("graphs", "nodes", "edges", "triples"):
        m[f"pipeline.{table}_mb"] = hostenv.tree_bytes(os.path.join(runner.out_dir, table)) / 1e6


def _kg_layers(runner, m: dict, traced: dict) -> None:
    """Lazy layers as noop-sink runs over successive prefixes of the plan
    ``pipeline.run`` executes on presplit input, the graphs write alone,
    and the pure-Python rule cost."""
    from kgx.operators import extract, rules, spans as spans_op

    spark, wl = runner.spark, runner.wl
    _kg_stage_metrics(runner, m, traced)
    raw = workloads.kg_raw(spark, wl, runner.src_dir)
    t_raw = _noop_s(raw)
    pre = workloads.kg_prepartitioned(raw, runner.n)
    t_pre = _noop_s(pre)
    parts = workloads.kg_spans(pre)
    t_parts = _noop_s(parts)
    m["pipeline.prepartition_s"] = t_pre - t_raw
    m["sources.spans_s"] = t_raw + t_parts - t_pre
    with_text = spans_op.with_doc_text(parts)
    t_text = _noop_s(with_text)
    t_graphs = _noop_s(extract.extract_graphs(with_text))
    m["spans.doc_text_s"] = t_text - t_parts
    m["extract.graphs_s"] = t_graphs - t_text
    m["pipeline.partition_skew"] = _partition_skew(with_text, "doc_text")

    # the graphs write alone: the committed graphs table, cached, written again
    graphs, _, _ = _materialize_s(spark.read.parquet(os.path.join(runner.out_dir, "graphs")))
    t0 = time.perf_counter()
    graphs.write.mode("overwrite").partitionBy("bucket").parquet(
        os.path.join(runner.out_dir, "graphs_rewrite")
    )
    m["pipeline.graphs_write_s"] = time.perf_counter() - t0
    graphs.unpersist()

    # pure-Python rule extraction over a fixed sample of the workload's texts
    sample = [
        r["doc_text"]
        for r in with_text.orderBy("doc_id").limit(RULES_SAMPLE).select("doc_text").collect()
    ]
    passes = []
    for _ in range(3):
        t0 = time.perf_counter()
        for text in sample:
            rules.extract_document(text)
        passes.append(time.perf_counter() - t0)
    m["rules.us_per_doc"] = statistics.median(passes) / len(sample) * 1e6
    m["extract.python_share"] = (
        m["rules.us_per_doc"] * 1e-6 * wl.docs / runner.n / m["extract.graphs_s"]
    )

    blocking = (
        "pipeline.driver_s", "sources.spans_s", "pipeline.prepartition_s",
        "spans.doc_text_s", "extract.graphs_s", "pipeline.graphs_write_s",
        "pipeline.flat_writes_and_metrics_s", "lineage.commit_s",
    )
    m["trace.accounted_share"] = sum(m[k] for k in blocking) / traced["wall_s"]


def _skew_layers(runner, m: dict) -> None:
    """The heavy-tailed input through the salted repartition ``pipeline.run``
    applies without presplit, as noop-sink prefixes: the shuffle's cost and
    the balance extraction then sees."""
    from pyspark.sql import functions as F

    from kgx.operators import spans as spans_op
    from kgx.plans import pipeline

    spans = workloads.kg_spans(workloads.kg_raw(runner.spark, runner.wl, runner.src_dir))
    t_spans = _noop_s(spans)
    cfg = workloads.kg_config(runner.wl, runner.out_dir, runner.n)
    parts = pipeline._bucketed(spans, cfg.n_buckets).repartition(
        cfg.n_buckets * cfg.salt_factor,
        "bucket",
        F.pmod(F.xxhash64("doc_id", F.lit(1)), F.lit(cfg.salt_factor)),
    )
    m["pipeline.salted_repartition_s"] = _noop_s(parts) - t_spans
    m["skew.partition_skew"] = _partition_skew(spans_op.with_doc_text(parts), "doc_text")


def _single_core_wall(runner) -> float:
    """One call on ``local[1]`` in the same JVM (its JIT already warm);
    leaves the runner on that session, which the caller stops."""
    runner.spark.stop()
    runner.spark, runner.n = workloads.start_spark(1), 1
    rec = runner.call()
    return rec.get("wall_s", float("nan"))


def _curation_layers(runner, m: dict, traced: dict) -> None:
    """The funnel's boundary counts as ``curation_pipeline.run`` returned
    them, then its stages composed from the same public functions, each
    boundary persisted and counted as the run does, and the curated table
    written."""
    from pyspark.sql import functions as F

    from kgx.operators import curation, dedup, textstats

    keys = ("after_quality", "after_exact_dedup", "after_near_dup", "after_pii", "final_docs")
    for key in keys:
        m[f"curation.{key}"] = traced["result"][key]
    cfg = workloads.curation_config(runner.out_dir)

    docs, _, m["curation.input_s"] = _materialize_s(
        workloads.curation_input(runner.spark, runner.src_dir)
    )
    quality = textstats.quality_filter(docs, min_tokens=cfg.min_tokens, **cfg.quality_kwargs)
    q, nq, m["textstats.quality_s"] = _materialize_s(
        docs.join(quality.where("passes").select("doc_id"), "doc_id", "left_semi")
    )
    exact = dedup.exact_groups(q).where("doc_id = canonical_doc_id").select("doc_id")
    e, ne, m["dedup.exact_s"] = _materialize_s(q.join(exact, "doc_id", "left_semi"))
    near = dedup.near_dup_clusters(e, threshold=cfg.near_dup_threshold)
    nd, nn, m["dedup.near_dup_s"] = _materialize_s(
        e.join(near.where("NOT is_duplicate").select("doc_id"), "doc_id", "left_semi")
    )
    pii, npii, m["curation.pii_s"] = _materialize_s(
        curation.pii_scrub(nd).select("doc_id", F.col("clean_text").alias("text"))
    )
    pruned, nfinal, m["curation.prune_s"] = _materialize_s(
        curation.sentence_prune(pii).where("n_kept > 0")
    )
    t0 = time.perf_counter()
    pruned.select("doc_id", F.col("pruned_text").alias("text")).write.mode("overwrite").parquet(
        os.path.join(runner.out_dir, "curated_rewrite")
    )
    m["curation.write_s"] = time.perf_counter() - t0
    for df in (docs, q, e, nd, pii, pruned):
        df.unpersist()
    if (nq, ne, nn, npii, nfinal) != tuple(m[f"curation.{k}"] for k in keys):
        raise RuntimeError(
            f"stage counts {(nq, ne, nn, npii, nfinal)} differ from the funnel's {traced['result']}"
        )
    stages = ("curation.input_s", "textstats.quality_s", "dedup.exact_s",
              "dedup.near_dup_s", "curation.pii_s", "curation.prune_s", "curation.write_s")
    m["trace.accounted_share"] = sum(m[k] for k in stages) / traced["wall_s"]


def traced_metrics(runners: list, record: dict) -> dict:
    """Every per-layer metric of the catalog for ``runners[0]``'s workload,
    plus the layers of the workloads traced with it (``runners[1:]``); a
    layer no traced call reaches reads 0.

    Calls 1-3 are the first call in this JVM, an untraced call and the
    traced call; their walls are the start of the warm-up curve."""
    runner = runners[0]
    m = {name: 0.0 for name, *_ in catalog.PER_LAYER}
    cold, untraced = runner.call(), runner.call()
    traced = _traced_call(runner, m)
    record["calls"] = [cold, untraced, traced]
    if "result" not in traced or "wall_s" not in untraced:
        # the failed calls are counted; no layer can be timed without them
        return catalog.with_units(m, catalog.PER_LAYER)
    m["trace.wall_s"] = traced["wall_s"]
    m["trace.overhead_s"] = traced["wall_s"] - untraced["wall_s"]
    if runner.wl.kind == "kg":
        _kg_layers(runner, m, traced)
    else:
        _curation_layers(runner, m, traced)
    # on a slow host the last, optional layers are skipped (left at 0, named
    # in the record) so that the run still ends within its time limit
    record["skipped"] = []
    for side in runners[1:]:
        if hostenv.process_age_s() > OPTIONAL_LAYERS_BY_S:
            record["skipped"].append(side.wl.name)
        else:
            _skew_layers(side, m)
    if runner.wl.kind == "kg":
        if hostenv.process_age_s() > OPTIONAL_LAYERS_BY_S:
            record["skipped"].append("single_core")
        else:
            # single-core baseline: the paper's N→4N efficiency on this host
            n = runner.n
            record["single_core_wall_s"] = wall_1 = _single_core_wall(runner)
            m["pipeline.scaling_eff"] = wall_1 / (n * untraced["wall_s"])
    return catalog.with_units(m, catalog.PER_LAYER)
