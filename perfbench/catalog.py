"""The benchmark's metric catalog: one source for run.py's output and for
BENCHMARK.json (written by manifest.py)."""

from __future__ import annotations

#: the metrics come from the first call in a fresh JVM (METHODS.md says
#: why); every call outlasts one second, so a benchmark run makes one call
RUN_SECONDS = 1

#: (name, unit, better, bound): bound is the share of the parent's median
#: by which the metric may worsen before a change counts as a regression
END_TO_END = (
    ("wall_s", "s", "lower", 0.25),
    ("docs_per_s", "1/s", "higher", 0.25),
    ("cpu_s", "s", "lower", 0.25),
    ("output_mb", "MB", "lower", 0.1),
    ("setup_s", "s", "lower", 0.25),
)

#: (name, unit, better) of the traced run; a layer a workload never calls
#: reads 0 there (METHODS.md lists which workload moves which metric)
PER_LAYER = (
    ("sources.spans_s", "s", "lower"),
    ("pipeline.prepartition_s", "s", "lower"),
    ("spans.doc_text_s", "s", "lower"),
    ("extract.graphs_s", "s", "lower"),
    ("extract.python_share", "ratio", "higher"),
    ("rules.us_per_doc", "us", "lower"),
    ("pipeline.driver_s", "s", "lower"),
    ("pipeline.extract_persist_graphs_write_s", "s", "lower"),
    ("pipeline.graphs_write_s", "s", "lower"),
    ("pipeline.flat_writes_and_metrics_s", "s", "lower"),
    ("pipeline.salted_repartition_s", "s", "lower"),
    ("pipeline.partition_skew", "ratio", "lower"),
    ("skew.partition_skew", "ratio", "lower"),
    ("pipeline.docs", "count", "higher"),
    ("pipeline.nodes", "count", "higher"),
    ("pipeline.edges", "count", "higher"),
    ("pipeline.triples", "count", "higher"),
    ("pipeline.graphs_mb", "MB", "lower"),
    ("pipeline.nodes_mb", "MB", "lower"),
    ("pipeline.edges_mb", "MB", "lower"),
    ("pipeline.triples_mb", "MB", "lower"),
    ("pipeline.scaling_eff", "ratio", "higher"),
    ("lineage.commit_s", "s", "lower"),
    ("curation.input_s", "s", "lower"),
    ("textstats.quality_s", "s", "lower"),
    ("dedup.exact_s", "s", "lower"),
    ("dedup.near_dup_s", "s", "lower"),
    ("curation.pii_s", "s", "lower"),
    ("curation.prune_s", "s", "lower"),
    ("curation.write_s", "s", "lower"),
    ("curation.after_quality", "count", "higher"),
    ("curation.after_exact_dedup", "count", "higher"),
    ("curation.after_near_dup", "count", "higher"),
    ("curation.after_pii", "count", "higher"),
    ("curation.final_docs", "count", "higher"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.failed_tasks", "count", "lower"),
    ("trace.wall_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.accounted_share", "ratio", "higher"),
)


def with_units(values: dict, catalog) -> dict:
    """{name: value} → {name: {"value", "unit"}} in catalog order."""
    return {name: {"value": values[name], "unit": unit} for name, unit, *_ in catalog if name in values}
