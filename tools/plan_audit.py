"""Regenerate docs/PLANS.md — formatted-explain excerpts for key queries."""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

KEEP = (
    "Scan parquet", "ReadSchema", "PushedFilters", "Join", "InPandas",
    "Exchange", "HashAggregate", "Window", "Generate", "TakeOrdered",
    "InMemoryTableScan", "Scan ExistingRDD",
)

SECTIONS = [
    ("kg_triples",
     "One MapInPandas node feeds the whole graph family; scan reads ONLY (doc_id, text)."),
    ("jn6_customers_no_orders",
     "Filter pushed into the orders scan; anti join broadcast (BuildRight)."),
    ("a1_pricing_summary",
     "Partial HashAggregate before the exchange (map-side combine); 5-column pruned scan."),
    ("dedup_minhash_lsh",
     "Signatures are per-row array aggregates (no exchange until the band bucket join)."),
    ("jn2_graph_fetch",
     "Zero-exchange array projection of the extraction output (round 2: the "
     "former explode+groupBy+3-way join collapsed into per-row higher-order "
     "array functions; list order comes from the arrays themselves)."),
    ("link_minhash_pairs",
     "Label MinHash-LSH: per-row signature aggregates, banded bucket join "
     "with skew cap, exact-Jaccard verification restricted to candidates."),
    ("fn_scalar_suite",
     "Whole scalar family in one projection over a 2-column pruned scan — "
     "zero exchanges."),
    ("token_counts",
     "Dual tokenizer counts (whitespace + BPE-ish regex) in one zero-"
     "exchange projection; regex runs JVM-side inside codegen."),
    ("quality_filter",
     "Gopher/C4 composite gate: all seven rule verdicts + composed "
     "fail_reasons in ONE codegen projection — zero exchanges, no Python."),
    ("dedup_clusters",
     "Corpus keep-one dedup: LSH-bucketed pair graph (skew-capped band "
     "join), connected components over pairs only, then a doc_id equi-join "
     "back to the corpus — no CartesianProduct at any stage.  The pair graph "
     "is small here, so union-find runs on the driver and returns an Arrow "
     "local table in the doc_id type: the join back broadcasts it, with no "
     "cast.  Round 4: the hashed-shingle table is localCheckpointed once and "
     "feeds the signature aggregate plus both verification join sides (in "
     "the pair job, before this plan) — the tokenize+shingle+md5 pass runs "
     "once, not three times."),
    ("media_decode_real",
     "LIVE image decode (round 4): blob synthesis and the stdlib BMP/PPM "
     "parse are two MapInPandas nodes in one pipelined stage over a "
     "2-column pruned projection — binary bytes stream through Arrow, "
     "zero exchanges."),
    ("video_frames_real",
     "LIVE video frame explode (round 4): AVI synthesis and the stdlib "
     "RIFF parse+explode are two MapInPandas nodes in one pipelined stage "
     "— each container's 1→N frame rows stream out through Arrow batches, "
     "zero exchanges, worker memory flat per batch."),
    ("media_resize_real",
     "LIVE thumbnail loop (round 4): decode → nearest-neighbor resample → "
     "re-encode → re-decode all inside one MapInPandas over the 2-column "
     "blob projection — zero exchanges."),
    ("graph_label_prop",
     "Frequency-vote LPA, 3 unrolled rounds: per round one label equi-join "
     "of the undirected edge list against the (node, community) table, a "
     "partial-aggregated vote count, and a per-node top-1 window that "
     "reuses the same hash partitioning — nothing wider than two label "
     "columns crosses an exchange."),
    ("pii_scrub",
     "PII redaction cascade + audit counts in one codegen projection — "
     "zero exchanges; the pass can front the raw corpus scan."),
    ("sentence_prune",
     "CCNet removal pass: exploded sentences shed their text before any "
     "exchange (hash/key bigints only); text moves once, in the final "
     "doc_id equi-join that rebuilds pruned documents."),
    ("contamination",
     "Decontamination screen: benchmark n-gram hash set broadcast "
     "(bounded by eval-suite size); the train side never shuffles before "
     "the join."),
    ("curation_funnel",
     "End-to-end curation funnel: survivor-set boundaries are "
     "`plan.materialize` checkpoints, so the plan starts at Scan ExistingRDD "
     "leaves (the near-dup and prune stages read their inputs 6x/3x without "
     "replaying upstream stages); connected components run on the sparse "
     "pair graph only; no CartesianProduct anywhere."),
    ("graph_pagerank",
     "Integer PageRank, 5 unrolled rounds: each iteration is one label "
     "equi-join of the edge list against the (label, rank) bigint table "
     "plus one partial-aggregated exchange — the plan a 10^12-doc KG "
     "needs, with checkpoint_every lineage truncation for deep runs."),
    ("vocab_topk",
     "Vocabulary head: partial HashAggregate collapses hot tokens "
     "map-side; the global head is TakeOrderedAndProject (per-partition "
     "heaps), not a full sort."),
    ("graph_random_walks",
     "Round 5 (DeepWalk walk corpus: node2vec_walks with equal weights, "
     "so no step joins the predecessor's adjacency): length−1 unrolled "
     "steps, each ONE label equi-join of the walk frontier against the "
     "lazy adjacency aggregate (every step probes the same exchange, "
     "which Spark reuses); the distinct edge list below is "
     "localCheckpointed so the "
     "extraction subtree runs once; frontier rows carry only labels and "
     "a ≤ length-string array."),
    ("walk_skipgram_pairs",
     "Round 5 (node2vec pair table): skip-gram windows enumerate IN-ROW "
     "over each walk array (nested HOFs + one Generate, no self-join), "
     "then ONE map-side-"
     "combined count aggregate; the only full-width exchange carries "
     "pre-combined (center, context) rows."),
    ("seq_pack",
     "Concat-then-chunk packing: ONE hash exchange on shard, then a "
     "per-shard running-sum window — never a global sort/single-partition "
     "window."),
    ("token_mix",
     "Source-mixing plan: two map-side-combined aggregates over the "
     "corpus; the |sources|-row rate table broadcasts back for the "
     "sampling audit."),
    ("fingerprints_winnowed",
     "Round 3: the two project_barrier Generate nodes pin norm and "
     "gram_hashes as bound attributes — without them CollapseProject "
     "re-evaluated the gram array per sliding-window element "
     "(O(L^2) regex per doc; >10 min for 500 sub-KB docs)."),
    ("funnel_export",
     "The composed curation-to-export plan: funnel survivor boundaries are "
     "`plan.materialize` checkpoints (Scan ExistingRDD), then one shard-keyed "
     "exchange feeds both the manifest aggregate and the packing window."),
    ("repetition_stats",
     "Round 5 (Gopher repetition signals): tokenization hoisted behind "
     "project_barrier Generates so the gram lambdas slice a bound array "
     "(inlined split would re-tokenize per gram position); both shuffles "
     "carry (doc_id, 60-bit hash) bigints — text never crosses an "
     "exchange."),
]


def main() -> None:
    from kgx.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("plan-audit")
    sf = "/root/testdata/sf0.01"
    qs = entrymod.queries()

    def trimmed(df) -> str:
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        # expression ids (name#123) change with every run; keep the names
        plan = re.sub(r"#\d+", "#N", plan)
        lines = [l.rstrip()[:160] for l in plan.splitlines() if any(k in l for k in KEEP)]
        return "\n".join(lines[:40])

    parts = [
        f"## {name}\n\n{note}\n\n```\n{trimmed(qs[name](spark, sf))}\n```\n"
        for name, note in SECTIONS
    ]
    doc = (
        f"# Physical plan audit (sf0.01, {spark.sparkContext.master})\n\n"
        '`explain("formatted")` excerpts for representative queries — the evidence\n'
        "that plans are the ones a 100 TB run needs: pruned scans, pushed filters,\n"
        "broadcast small sides, partial aggregation, and exactly one Python crossing\n"
        "in the extraction family. Regenerate with `python tools/plan_audit.py`.\n\n"
        + "\n".join(parts)
    )
    docs_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "docs"
    )
    os.makedirs(docs_dir, exist_ok=True)
    # hand-written plan narratives (sections without an explain excerpt)
    # live in PLANS_epilogue.md so a regenerate never clobbers them
    epilogue = os.path.join(docs_dir, "PLANS_epilogue.md")
    if os.path.exists(epilogue):
        with open(epilogue) as f:
            doc = doc.rstrip() + "\n\n" + f.read()
    with open(os.path.join(docs_dir, "PLANS.md"), "w") as f:
        f.write(doc)
    print("docs/PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
