"""Per-round benchmark: the ``kg_build`` pipeline call and one headline
query per operator family, each checked against its DuckDB oracle.

A front end with no set-up of its own: the pipeline call is perfbench's
``kg_build`` job over ``$SPARK_GRAFT_SF_DIR/documents.parquet``
(``perfbench.workloads.run_job``, checked by ``oracle_checksum``), and each
query wall is the Spark side of ``tools/compare_oracle.compare`` (rows,
schema and value hash checked).  Run from the repository root::

    SPARK_GRAFT_SF_DIR=<sf dir> python bench.py

The last stdout line is one JSON object with ``metric``, ``value`` (the
summed seconds of every timed item), ``unit``, per-item ``queries`` walls
and ``correct`` flags, and the ``perfbench.hostenv`` host probe.  The exit
code is 1 if any check fails.

Env:
    SPARK_GRAFT_SF_DIR   input dir (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS     local[] parallelism (default: the CPU count)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

#: one representative per operator family; every registered query is
#: checked by the oracle gate, these are also timed
HEADLINE = (
    "kg_triples",
    "link_canonical_triples",
    "dedup_minhash_lsh",
    "quality_filter",
    "curation_funnel",
    "a1_pricing_summary",
)


def main() -> int:
    import __spark_entry__ as entrymod
    from kgx.session import default_parallelism
    from perfbench import hostenv, workloads
    from tools import compare_oracle

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_parallelism()
    wl = workloads.WORKLOADS["kg_build"]

    # the busy loop alone and on every core: its ratio is the per-core
    # retention ceiling any N-core scaling figure on this host is bound by
    one_core, all_cores = hostenv.host_probe(1), hostenv.host_probe(cpus)
    probe = {
        "one_core": one_core,
        "all_cores": all_cores,
        "retention_ceiling": round(
            one_core["busyloop_max_s"] / all_cores["busyloop_max_s"], 3
        ),
    }

    # the DuckDB oracle answer is computed while the JVM starts
    with ThreadPoolExecutor(1) as pool:
        oracle = pool.submit(workloads.oracle_checksum, wl, sf_dir)
        spark = workloads.start_spark(cpus)
    out_dir = tempfile.mkdtemp(prefix="kgx_bench_")
    walls: dict[str, float] = {}
    correct: dict[str, bool] = {}
    try:
        expected = oracle.result()
        t0 = time.perf_counter()
        metrics = workloads.run_job(spark, wl, sf_dir, out_dir, cpus)
        walls["kg_pipeline_e2e"] = round(time.perf_counter() - t0, 3)
        correct["kg_pipeline_e2e"] = workloads.output_checksum(wl, out_dir) == expected

        con = compare_oracle.connect(sf_dir)
        for name in HEADLINE:
            r = compare_oracle.compare(spark, con, sf_dir, name)
            walls[name] = round(r["walls"][0], 3)
            correct[name] = all(r[c][0] == r[c][1] for c in compare_oracle.CHECKS)
            if name == "link_canonical_triples":
                # kg_triples and link_* share the extraction cache; no later
                # family reads it, so the rest run without it on the heap
                entrymod.clear_graph_cache()
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
        workloads.stop_spark(spark)

    print(
        json.dumps(
            {
                "metric": "kg_construct_pipeline_and_queries",
                "value": round(sum(walls.values()), 3),
                "unit": "sec",
                "queries": walls,
                "correct": correct,
                "sf": sf_dir.rstrip("/").split("sf")[-1],
                "docs": metrics["docs"],
                "triples": metrics["triples"],
                "triples_per_sec": round(metrics["triples"] / walls["kg_pipeline_e2e"], 1),
                "cpus": cpus,
                "host_probe": probe,
            }
        )
    )
    return 0 if all(correct.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
