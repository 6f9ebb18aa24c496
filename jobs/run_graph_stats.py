"""spark-submit entry point for KG graph analytics over PIPELINE OUTPUT.

Consumes the triples table a finished jobs/run_pipeline.py run materialized
(never re-extracting) and writes three analytics tables::

    spark-submit --py-files dist/kgx.zip jobs/run_graph_stats.py \\
        --graph /data/kg_out --out /data/kg_analytics \\
        --pagerank-iters 5 --checkpoint-every 0

Outputs: ``<out>/degrees`` (label, out_degree, in_degree, degree),
``<out>/pagerank`` (label, rank — integer-arithmetic, deterministic),
``<out>/triangles`` (label, triangles, degree), ``<out>/communities``
(label, community — deterministic LPA), ``<out>/kcore`` (label,
core_degree — peeled to the FIXPOINT, eager per-round checkpoints) and
``<out>/negatives`` (subj, pred, obj, sample_idx, neg_obj — contrastive
training samples).  Prints one JSON metrics line (node/edge counts,
top-ranked label, k-core rounds-to-fixpoint).
"""

from __future__ import annotations

import argparse
import json
import sys

from kgx.session import at_least


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--graph", required=True, help="pipeline --out dir (reads <graph>/triples)")
    p.add_argument("--out", required=True, help="analytics output root")
    p.add_argument("--pagerank-iters", type=at_least(0), default=5)
    p.add_argument("--checkpoint-every", type=at_least(0), default=0,
                   help="checkpoint cadence for deep pagerank runs (0 = off)")
    p.add_argument("--lpa-iters", type=at_least(0), default=3)
    p.add_argument("--kcore-k", type=at_least(1), default=2)
    p.add_argument("--negatives-k", type=at_least(0), default=2,
                   help="negative samples per distinct triple (0 = skip)")
    p.add_argument("--negatives-buckets", type=at_least(1), default=64)
    args = p.parse_args(argv)

    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from kgx.operators import graphstats
    from kgx.plans import pipeline
    from kgx.session import get_spark

    spark = get_spark("kgx-graph-stats")
    triples = pipeline.read_output(spark, args.graph, "triples")
    # one cached canonical edge list feeds all three analytics
    edges = graphstats.edge_list(triples).persist(StorageLevel.MEMORY_AND_DISK)

    degrees = graphstats.degree_stats(edges.select("subj", "obj"))
    ranks = graphstats.pagerank(
        edges.select("subj", "obj"),
        iters=args.pagerank_iters,
        checkpoint_every=args.checkpoint_every or None,
    )
    triangles = graphstats.triangle_counts(edges.select("subj", "obj"))
    communities = graphstats.label_propagation(
        edges.select("subj", "obj"), iters=args.lpa_iters
    )
    core, kcore_rounds = graphstats.kcore_fixpoint(
        edges.select("subj", "obj"), k=args.kcore_k
    )

    degrees.write.mode("overwrite").parquet(args.out + "/degrees")
    ranks.write.mode("overwrite").parquet(args.out + "/pagerank")
    triangles.write.mode("overwrite").parquet(args.out + "/triangles")
    communities.write.mode("overwrite").parquet(args.out + "/communities")
    core.write.mode("overwrite").parquet(args.out + "/kcore")
    if args.negatives_k:
        graphstats.negative_samples(
            triples, k=args.negatives_k, buckets=args.negatives_buckets
        ).write.mode("overwrite").parquet(args.out + "/negatives")

    top = (
        spark.read.parquet(args.out + "/pagerank")
        .orderBy(F.desc("rank"), "label")
        .first()
    )
    metrics = {
        "edges": edges.count(),
        "nodes": spark.read.parquet(args.out + "/degrees").count(),
        "triangle_participations": int(
            spark.read.parquet(args.out + "/triangles")
            .agg(F.coalesce(F.sum("triangles"), F.lit(0)))
            .collect()[0][0]
        ),
        "top_label": top["label"],
        "top_rank": int(top["rank"]),
        "pagerank_iters": args.pagerank_iters,
        "communities": spark.read.parquet(args.out + "/communities")
        .select("community").distinct().count(),
        "kcore_nodes": spark.read.parquet(args.out + "/kcore").count(),
        "kcore_rounds": kcore_rounds,
    }
    edges.unpersist()
    print(json.dumps(metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
