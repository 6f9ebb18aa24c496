"""spark-submit entry point for KG-embedding training-data prep.

Consumes the triples table a finished jobs/run_pipeline.py run
materialized (never re-extracting — the run_graph_stats stance) and
writes the three training-data tables a node2vec / TransE trainer
consumes::

    spark-submit --py-files dist/kgx.zip jobs/run_embedding_prep.py \\
        --graph /data/kg_out --out /data/kg_training \\
        --walk-length 8 --walks-per-node 4 --window 2 --seed 0

Outputs: ``<out>/walks`` (start_label, walk_id, walk, walk_len — the
deterministic walk corpus, reproducible by (seed, walk_id); uniform
DeepWalk sampling by default (``node2vec_walks`` with weights 1/1/1),
node2vec second-order bias with
``--biased --w-return/--w-near/--w-far``),
``<out>/skipgram_pairs`` (center, context, n_pairs — windowed pair
counts, the node2vec co-occurrence table), ``<out>/training_pairs``
(subj, pred, obj, is_positive — the filtered TransE contrastive set)
and ``<out>/transe_margin`` (the epoch-zero per-predicate energy audit
a trainer logs before its first gradient step, computed from the
training_pairs table it just wrote).  Prints one JSON metrics line.
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
    p.add_argument("--walk-length", type=at_least(1), default=8)
    p.add_argument("--walks-per-node", type=at_least(1), default=4)
    p.add_argument("--window", type=at_least(1), default=2)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--negatives-k", type=at_least(0), default=2,
                   help="negatives per distinct triple (0 = skip the "
                        "training_pairs table)")
    p.add_argument("--negatives-buckets", type=at_least(1), default=64)
    p.add_argument("--embedding-dim", type=at_least(1), default=8,
                   help="hash-embedding dims for the transe_margin audit")
    p.add_argument("--embedding-modulus", type=at_least(1), default=1024)
    p.add_argument("--biased", action="store_true",
                   help="node2vec second-order biased walks instead of "
                        "the uniform DeepWalk sampler")
    # the weights default to None so one given without --biased is caught
    weights = {"w_return": 1, "w_near": 4, "w_far": 2}
    p.add_argument("--w-return", type=int,
                   help="node2vec return weight (~1/p), --biased only (default 1)")
    p.add_argument("--w-near", type=int,
                   help="node2vec distance-1 weight, --biased only (default 4)")
    p.add_argument("--w-far", type=int,
                   help="node2vec distance-2 weight (~1/q), --biased only (default 2)")
    args = p.parse_args(argv)
    if not args.biased and any(getattr(args, k) is not None for k in weights):
        p.error("--w-return/--w-near/--w-far apply only to --biased walks")
    # equal weights are the uniform DeepWalk sampler
    for k, default in (weights if args.biased else dict.fromkeys(weights, 1)).items():
        if getattr(args, k) is None:
            setattr(args, k, default)

    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from kgx.operators import graphstats
    from kgx.plans import pipeline
    from kgx.session import get_spark

    spark = get_spark("kgx-embedding-prep")
    triples = pipeline.read_output(spark, args.graph, "triples")
    # the walk corpus feeds BOTH its own write and the skip-gram pass —
    # persist the bounded (labels + short array) table once
    walks = graphstats.node2vec_walks(
        triples,
        length=args.walk_length,
        walks_per_node=args.walks_per_node,
        seed=args.seed,
        w_return=args.w_return,
        w_near=args.w_near,
        w_far=args.w_far,
    ).persist(StorageLevel.MEMORY_AND_DISK)

    walks.write.mode("overwrite").parquet(args.out + "/walks")
    pairs = graphstats.walk_skipgram_pairs(walks, window=args.window)
    pairs.write.mode("overwrite").parquet(args.out + "/skipgram_pairs")
    if args.negatives_k:
        graphstats.training_pairs(
            triples, k=args.negatives_k, buckets=args.negatives_buckets
        ).write.mode("overwrite").parquet(args.out + "/training_pairs")
        # epoch-zero audit FROM the table just written (never re-deriving
        # the contrastive set — the read_output stance this job opens with)
        graphstats.transe_margin(
            spark.read.parquet(args.out + "/training_pairs"),
            dim=args.embedding_dim,
            modulus=args.embedding_modulus,
        ).write.mode("overwrite").parquet(args.out + "/transe_margin")

    walk_stats = walks.agg(
        F.count("*").alias("n"), F.sum("walk_len").alias("tokens")
    ).collect()[0]
    pair_stats = (
        spark.read.parquet(args.out + "/skipgram_pairs")
        .agg(F.count("*").alias("n"), F.sum("n_pairs").alias("occ"))
        .collect()[0]
    )
    metrics = {
        "walks": int(walk_stats["n"]),
        "walk_tokens": int(walk_stats["tokens"]),
        "walk_length": args.walk_length,
        "walks_per_node": args.walks_per_node,
        "seed": args.seed,
        "biased": bool(args.biased),
        # the bias weights are corpus-determining exactly like seed /
        # walk_length — record them so biased runs are reproducible
        # from the manifest alone
        "walk_weights": (
            {"w_return": args.w_return, "w_near": args.w_near,
             "w_far": args.w_far}
            if args.biased else None
        ),
        "skipgram_pairs_distinct": int(pair_stats["n"]),
        "skipgram_pair_occurrences": int(pair_stats["occ"]),
        "training_pairs": (
            int(spark.read.parquet(args.out + "/training_pairs").count())
            if args.negatives_k
            else 0
        ),
        "transe_preds": (
            int(spark.read.parquet(args.out + "/transe_margin").count())
            if args.negatives_k
            else 0
        ),
    }
    walks.unpersist()
    print(json.dumps(metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
