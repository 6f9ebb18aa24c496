"""Pin per-query wall minima across host windows (bench hygiene).

The shared host's deliverable CPU swings 1.5-5x between minutes
(BENCH/BASELINE.md methodology), so a single bench draw cannot distinguish
a plan regression from a degraded window.  This tool re-times a chosen
subset of bench.py's headline queries under the exact bench conditions
(same warm-up, same cache discipline, probe-stamped) for several
interleaved repetitions and appends one JSON line per rep to
``BENCH/query_minima.jsonl`` — the per-query minimum across that file is
the comparable number, exactly like BENCH/scaling_samples.jsonl for the
scaling table.

Usage:
    python tools/pin_query_minima.py [query ...] [--reps N] [--sf-dir DIR]

Defaults: kg_triples link_canonical_triples (the two round-3 draws with no
pinned minimum), 3 reps, sf0.1, ``--cpus`` from
``kgx.session.default_parallelism()`` (``SPARK_GRAFT_CPUS``, else the CPU
count).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
REPO = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
OUT = os.path.join(REPO, "BENCH", "query_minima.jsonl")


def main() -> None:
    from kgx.session import default_parallelism, get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*",
                    default=["kg_triples", "link_canonical_triples"])
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--cpus", type=int, default=default_parallelism())
    args = ap.parse_args()

    import bench  # repo-root module: reuse the probe and the warm-up

    probe = bench._cpu_probe()

    spark = get_spark(
        "kgx-pin", master=f"local[{args.cpus}]",
        shuffle_partitions=2 * args.cpus,
    )
    import __spark_entry__ as entrymod

    from kgx.plans.curation_pipeline import clear_funnel_cache

    qs = entrymod.queries()
    # bench.py's warm-up, so the first timed rep is not a cold-JVM artifact
    bench._warm_up(spark, qs, args.queries, args.cpus, args.sf_dir)

    reps = []
    for rep in range(args.reps):
        timings = {}
        # bench.py ordering semantics: queries in the listed order share the
        # extraction cache within a rep (kg_triples pays it, link_* reuses),
        # then the cache clears so the next rep re-pays it
        for name in args.queries:
            t0 = time.time()
            qs[name](spark, args.sf_dir).count()
            timings[name] = round(time.time() - t0, 3)
        entrymod.clear_graph_cache()
        clear_funnel_cache()
        reps.append(timings)
        print(f"rep {rep}: {timings}", file=sys.stderr)

    row = {
        "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "sf_dir": args.sf_dir,
        "cpus": args.cpus,
        "host_probe": probe,
        "reps": reps,
    }
    with open(OUT, "a") as f:
        f.write(json.dumps(row) + "\n")
    minima = {
        q: min(r[q] for r in reps) for q in args.queries
    }
    print(json.dumps({"session_minima": minima, "probe": probe}))
    spark.stop()


if __name__ == "__main__":
    main()
