"""spark-submit entry point for KG-embedding training-data prep.

Consumes the triples table a finished jobs/run_pipeline.py run
materialized (never re-extracting — the run_graph_stats stance) and
writes the filtered contrastive training set a TransE-family trainer
consumes::

    spark-submit --py-files dist/kgx.zip jobs/run_embedding_prep.py \\
        --graph /data/kg_out --out /data/kg_training \\
        --negatives-k 2 --negatives-buckets 64

Output: ``<out>/training_pairs`` (subj, pred, obj, is_positive — every
distinct triple as a positive plus its hash-corrupted negatives, filtered
against the full positive set).  Prints one JSON metrics line.
"""

from __future__ import annotations

import argparse
import json
import sys

from kgx.session import at_least


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--graph", required=True,
                   help="pipeline --out dir (reads <graph>/triples)")
    p.add_argument("--out", required=True, help="training-data output root")
    p.add_argument("--negatives-k", type=at_least(1), default=2,
                   help="negatives per distinct triple")
    p.add_argument("--negatives-buckets", type=at_least(1), default=64)
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from kgx.operators import graphstats
    from kgx.plans import pipeline
    from kgx.session import get_spark

    spark = get_spark("kgx-embedding-prep")
    triples = pipeline.read_output(spark, args.graph, "triples")
    graphstats.training_pairs(
        triples, k=args.negatives_k, buckets=args.negatives_buckets
    ).write.mode("overwrite").parquet(args.out + "/training_pairs")

    counts = (
        spark.read.parquet(args.out + "/training_pairs")
        .agg(F.sum("is_positive").alias("pos"), F.count("*").alias("n"))
        .collect()[0]
    )
    print(json.dumps({
        "training_pairs": int(counts["n"]),
        "positives": int(counts["pos"] or 0),
        "negatives_k": args.negatives_k,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
