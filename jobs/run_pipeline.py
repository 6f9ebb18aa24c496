"""spark-submit entry point for the KG construction pipeline.

Deployment shape required by the north rule::

    python tools/package.py                       # builds dist/kgx.zip
    spark-submit --py-files dist/kgx.zip --driver-memory 8g \\
        jobs/run_pipeline.py \\
        --input  /data/docs_spans_parquet \\
        --out    /data/kg_out \\
        --buckets 4096 --canonicalize --validate

On a cluster the input is the Iceberg/parquet spans table
(doc_id, spans array<struct<kind,text,media_ref,offset>>).  For sandbox runs
``--derive-corpus`` accepts a documents.parquet (doc_id, text) and derives
the deterministic narrative spans table first.

Re-running with the same ``--out`` resumes from per-bucket lineage and
recomputes nothing already committed.
"""

from __future__ import annotations

import argparse
import json
import sys

from kgx.session import at_least


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="spans parquet/Iceberg path")
    p.add_argument("--out", required=True, help="output root directory")
    p.add_argument("--buckets", type=at_least(1), default=64)
    p.add_argument("--salt-factor", type=at_least(1), default=4)
    p.add_argument("--run-id", default=None)
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--validate", action="store_true")
    p.add_argument("--canonicalize", action="store_true")
    p.add_argument("--minhash-linking", action="store_true")
    p.add_argument(
        "--derive-corpus",
        action="store_true",
        help="input is documents.parquet (doc_id, text); derive spans first",
    )
    p.add_argument(
        "--presplit",
        action="store_true",
        help="input is already partitioned by (bucket, salt) of doc_id "
        "(e.g. an Iceberg bucket(N, doc_id) table) — the pipeline then runs "
        "with zero full-data shuffles.  With --derive-corpus, the raw rows "
        "are pre-partitioned before span synthesis.",
    )
    args = p.parse_args(argv)

    from kgx.plans import pipeline

    cfg = pipeline.PipelineConfig(
        out_dir=args.out,
        n_buckets=args.buckets,
        salt_factor=args.salt_factor,
        resume=not args.no_resume,
        run_id=args.run_id,
        presplit=args.presplit,
        validate=args.validate,
        canonicalize=args.canonicalize,
        use_minhash_linking=args.minhash_linking,
    )

    from kgx.session import get_spark

    # keeps the master, shuffle and memory settings spark-submit was given,
    # but not a cluster default that changes answers
    spark = get_spark("kgx-pipeline")

    from kgx.sources import corpus, docs as docs_src

    if args.derive_corpus:
        raw = spark.read.parquet(args.input)
        if args.presplit:
            raw = pipeline.prepartition_raw(
                raw,
                args.buckets,
                salt_factor=args.salt_factor,
                final_doc_id=docs_src.span_doc_id(),
            )
        docs = docs_src.spans_table(corpus.narrative_documents(raw))
    else:
        docs = spark.read.parquet(args.input)

    metrics = pipeline.run(spark, docs, cfg)
    print(json.dumps(metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
