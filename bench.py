"""Per-round benchmark: headline KG pipeline + per-query timings.

Prints ONE JSON line:
    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": ..., "triples_per_sec": ...}

Env:
    SPARK_GRAFT_SF_DIR   input dir (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS     local[] parallelism (default: the CPU count)
    KGX_BENCH_REPLICATE  corpus replication factor for the headline pipeline
                         run (default 8 → 40k docs at sf0.1)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _warm_up(spark, qs, names, cpus: int, sf_dir: str) -> None:
    """Warm executors, Python workers and codegen before ``sf_dir`` is timed.

    One extraction pass spawns the Python workers, so the first timed query
    does not absorb worker-spawn/import costs.  Then ``names`` run once over
    the sf0.001 sibling of ``sf_dir``: the first execution of each query
    family pays Janino codegen compilation + JIT (measured ~30 s for the
    curation funnel's regex/lambda-heavy generated classes at sf0.1 — ~2x
    the warm run), and the smallest sf compiles the same generated classes
    over 10x less data.  A production job amortizes both to zero.  Skipped
    when that sibling is missing or is ``sf_dir`` itself; both caches are
    cleared after."""
    import __spark_entry__ as entrymod
    import pandas as pd

    from kgx.operators import extract

    warm = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [f"w{i}" for i in range(4 * cpus)],
                "doc_text": ["Warm Up works at Warm Corporation."] * (4 * cpus),
            }
        )
    ).repartition(2 * cpus)
    warm.mapInPandas(extract._extract_batches, schema=extract.GRAPH_SCHEMA).count()
    warm_dir = os.path.join(os.path.dirname(os.path.normpath(sf_dir)), "sf0.001")
    if os.path.isdir(warm_dir) and os.path.realpath(warm_dir) != os.path.realpath(sf_dir):
        for name in names:
            qs[name](spark, warm_dir).count()
    entrymod.clear_graph_cache()


def main() -> None:
    from kgx.session import default_parallelism, get_spark
    from perfbench import hostenv

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_parallelism()
    replicate_factor = int(os.environ.get("KGX_BENCH_REPLICATE", "8"))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    # host probe: a no-Spark busy loop alone and on every core at once,
    # recorded next to the timings so a slow host window can be told from a
    # slow change.  One loop's wall over the slowest all-core loop's wall is
    # the per-core retention ceiling any N-core scaling figure is bounded by
    one_core, all_cores = hostenv.host_probe(1), hostenv.host_probe(cpus)
    probe = {
        "one_core": one_core,
        "all_cores": all_cores,
        "retention_ceiling": round(
            one_core["busyloop_max_s"] / all_cores["busyloop_max_s"], 3
        ),
    }

    spark = get_spark(
        "kgx-bench", master=f"local[{cpus}]", shuffle_partitions=2 * cpus
    )

    import __spark_entry__ as entrymod

    # headline subset — one representative per operator family; every
    # registered query is checked by the oracle gate, not re-timed here
    headline = [
        "kg_triples",
        "link_canonical_triples",
        "dedup_minhash_lsh",
        "dedup_simhash_pairs",
        "emb_near_dup_pairs",
        "ann_topk",
        "emb_kmeans",
        "semdedup",
        "seq_pack",
        "text_stats",
        "curation_funnel",
        "a1_pricing_summary",
    ]
    qs = entrymod.queries()
    timings: dict[str, float] = {}
    _warm_up(spark, qs, headline, cpus, sf_dir)
    t_all = time.time()
    for name in headline:
        t0 = time.time()
        qs[name](spark, sf_dir).count()  # forces full execution, no collect
        timings[name] = round(time.time() - t0, 3)
        if name == "link_canonical_triples":
            # kg_triples + link_* share the extraction cache by design; no
            # later family reads it — release it so the dedup/funnel block
            # is not squeezed into a heap also holding 289k cached triples
            entrymod.clear_graph_cache()
    entrymod.clear_graph_cache()

    # headline: end-to-end pipeline (spans → extract → materialize + lineage)
    from kgx.plans import pipeline
    from kgx.sources import corpus, docs as docs_src

    out_dir = tempfile.mkdtemp(prefix="kgx_bench_")
    try:
        from pyspark.sql import functions as F

        n_buckets = max(2 * cpus, 16)
        # single-file input -> spread the raw rows BEFORE the xN replication
        # so scan+replicate+prepartition-shuffle-write parallelize (the sf
        # parquet is one sub-MB split)
        documents = corpus.replicate(
            docs_src.load_documents(spark, sf_dir).repartition(2 * cpus),
            replicate_factor,
        )
        # partition the cheap raw rows by final (bucket, salt) BEFORE span
        # synthesis: extraction + partitioned writes then run with zero
        # full-data shuffles (production analogue: Iceberg bucket(doc_id)).
        # salt_factor=1: the bench corpus is uniform and small enough that
        # extra salt slices tasks below ~200 docs, making them pure overhead
        # (measured 4x slower); salting is for heavy-tailed inputs.
        documents = pipeline.prepartition_raw(
            documents,
            n_buckets,
            salt_factor=1,
            final_doc_id=F.concat(F.lit("doc-"), F.col("doc_id").cast("string")),
        )
        docs = docs_src.spans_table(corpus.narrative_documents(documents))
        t0 = time.time()
        metrics = pipeline.run(
            spark,
            docs,
            pipeline.PipelineConfig(
                out_dir=out_dir, n_buckets=n_buckets, resume=False, presplit=True
            ),
        )
        pipeline_sec = time.time() - t0
        timings["kg_pipeline_e2e"] = round(pipeline_sec, 3)
        triples_per_sec = metrics["triples"] / pipeline_sec if pipeline_sec else 0.0
        total = round(time.time() - t_all, 3)
        # round-1 comparability: the r01 headline did not include
        # dedup_simhash_pairs / emb_near_dup_pairs (added round 2), so also
        # emit the sum over the original query set + pipeline
        r01_set = (
            "kg_triples", "link_canonical_triples", "dedup_minhash_lsh",
            "ann_topk", "text_stats", "a1_pricing_summary", "kg_pipeline_e2e",
        )
        r01_total = round(sum(timings[k] for k in r01_set if k in timings), 3)
        # "value" stays the ROUND-COMPARABLE number (the r01 headline set +
        # pipeline) so round-over-round regression reads apples-to-apples as
        # the benched surface grows; the widening families are reported under
        # value_full_queryset + per-query timings.
        print(
            json.dumps(
                {
                    "metric": "kg_construct_pipeline_and_queries",
                    "value": r01_total,
                    "value_full_queryset": total,
                    "value_r01_queryset": r01_total,
                    "unit": "sec",
                    "queries": timings,
                    "sf": sf,
                    "docs": metrics["docs"],
                    "triples": metrics["triples"],
                    "triples_per_sec": round(triples_per_sec, 1),
                    "replicate_factor": replicate_factor,
                    "cpus": cpus,
                    "host_probe": probe,
                }
            )
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
