"""spark-submit entry point for the training-data export stage.

Takes a curated (doc_id, text) corpus (the output of jobs/run_curation.py),
shards it deterministically, and writes::

    <out>/shards/shard=N/    the sharded corpus (doc_id, text, n_tokens)
    <out>/manifest/          per-shard manifests (docs, tokens, chars,
                             order-independent doc-set checksum)
    <out>/packing/           concat-then-chunk sequence-pack layout
                             (per-doc shard / start_tok / seq span)
    <out>/mix_plan/          per-source token-budget sampling rates
                             (only when the input carries a source column)

Usage::

    spark-submit --py-files dist/kgx.zip jobs/run_export.py \\
        --input /data/curated/curated --out /data/export \\
        --n-shards 1024 --capacity 2048

The manifest checksum lets any later reader (or a resumed export) verify a
shard holds exactly the doc set the manifest recorded — the same
write-then-audit stance as the KG pipeline's per-bucket lineage.
"""

from __future__ import annotations

import argparse
import json
import sys

from kgx.session import at_least


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="curated parquet (doc_id, text[, source])")
    p.add_argument("--out", required=True, help="output root directory")
    p.add_argument("--n-shards", type=at_least(1), default=8)
    p.add_argument("--capacity", type=at_least(1), default=2048,
                   help="tokens per packed training sequence")
    p.add_argument("--master", default=None, help="override (sandbox runs)")
    args = p.parse_args(argv)

    from kgx.operators import packing
    from kgx.session import get_spark

    spark = get_spark("kgx-export", master=args.master)
    try:
        docs = spark.read.parquet(args.input)

        sharded = packing.with_shard(docs, args.n_shards).join(
            docs.select("doc_id", "text"), "doc_id"
        )
        sharded.write.mode("overwrite").partitionBy("shard").parquet(
            f"{args.out}/shards"
        )
        packing.shard_manifest(docs, args.n_shards).write.mode("overwrite").parquet(
            f"{args.out}/manifest"
        )
        packing.seq_pack(docs, args.capacity, args.n_shards).write.mode(
            "overwrite"
        ).parquet(f"{args.out}/packing")
        if "source" in docs.columns:
            packing.token_mix_plan(docs).write.mode("overwrite").parquet(
                f"{args.out}/mix_plan"
            )

        manifest = {
            r["shard"]: {"docs": r["n_docs"], "tokens": r["n_tokens"]}
            for r in spark.read.parquet(f"{args.out}/manifest").collect()
        }
        # with_shard drops 0-token docs by contract (nothing to pack) —
        # count them so the export summary audits the gap between the
        # curated input and what landed in shards/manifests.
        n_input = docs.count()
        n_sharded = sum(m["docs"] for m in manifest.values())
        print(json.dumps({
            "shards": len(manifest),
            "docs": n_sharded,
            "tokens": sum(m["tokens"] for m in manifest.values()),
            "input_docs": n_input,
            "dropped_empty_docs": n_input - n_sharded,
        }))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
