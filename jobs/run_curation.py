"""spark-submit entry point for the corpus-curation funnel.

Runs the pre-training data funnel (quality gate → exact dedup → near-dup
clusters → PII scrub → sentence prune) over a raw (doc_id, text) corpus
and writes ``<out>/curated`` plus a one-row ``<out>/funnel`` metrics
table::

    spark-submit --py-files dist/kgx.zip --driver-memory 8g \\
        jobs/run_curation.py \\
        --input /data/raw_documents_parquet --out /data/curated_out \\
        --min-tokens 50 --near-dup-threshold 0.5

The curated output is the corpus the KG pipeline (jobs/run_pipeline.py)
expects as its input.
"""

from __future__ import annotations

import argparse
import json
import sys

from kgx.session import at_least


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="documents parquet (doc_id, text)")
    p.add_argument("--out", required=True, help="output root directory")
    p.add_argument("--min-tokens", type=at_least(0), default=20)
    p.add_argument("--near-dup-threshold", type=float, default=0.5)
    p.add_argument("--no-pii-scrub", action="store_true")
    p.add_argument("--no-sentence-prune", action="store_true")
    p.add_argument("--resume", action="store_true",
                   help="commit per-stage snapshots; skip stages already committed in --out")
    args = p.parse_args(argv)
    if not 0 < args.near_dup_threshold <= 1:
        p.error(f"--near-dup-threshold must be in (0, 1], got {args.near_dup_threshold}")

    from kgx.plans.curation_pipeline import CurationConfig, run
    from kgx.session import get_spark

    spark = get_spark("kgx-curation")
    documents = spark.read.parquet(args.input).select("doc_id", "text")
    metrics = run(
        spark,
        documents,
        CurationConfig(
            out_dir=args.out,
            min_tokens=args.min_tokens,
            near_dup_threshold=args.near_dup_threshold,
            scrub_pii=not args.no_pii_scrub,
            prune_sentences=not args.no_sentence_prune,
            resume=args.resume,
        ),
    )
    print(json.dumps(metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
