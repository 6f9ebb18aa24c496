"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG pipeline (documents → interleaved
spans → Arrow-batched extraction → label-resolved triples) at sf0.001.
``QUERIES`` is the one query registry: every implemented operator from
SURVEY.md §2 over the driver testdata, paired with its DuckDB-equivalent SQL
generated from the same pattern tables the engine executes (kgx.oracles).
``queries()`` and ``oracle_sql()`` are its two driver views.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgx import oracles as O


def _narrative(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kgx.sources import corpus, docs as docs_src

    return corpus.narrative_documents(docs_src.load_documents(spark, sf_dir))


def _spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kgx.sources import docs as docs_src

    return docs_src.spans_table(_narrative(spark, sf_dir))


#: One cached extraction output at a time, shared by every query over the
#: same (session, sf_dir).  The extraction mapInPandas pass is by far the
#: most expensive stage, and ~10 gate queries consume its output — caching it
#: once cuts the correctness/bench walls accordingly.  Bounded by
#: construction: inserting a new entry unpersists and evicts the previous
#: one, so repeated runs over many sf dirs cannot accumulate executor memory
#: (the round-1 per-query ``.cache()`` calls leaked exactly that way).
_GRAPH_CACHE: dict = {}


def _evict_graphs() -> None:
    while _GRAPH_CACHE:
        _GRAPH_CACHE.popitem()[1].unpersist()


def clear_graph_cache() -> None:
    """Free the extraction cache and the curation funnel's checkpoints.
    Needs the live session that filled them; an unpersist or release that
    fails raises."""
    from kgx.plans.curation_pipeline import clear_funnel_cache

    _evict_graphs()
    clear_funnel_cache()


def _graphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    from kgx.operators import extract, spans as spans_op

    key = (id(spark), sf_dir)
    cached = _GRAPH_CACHE.get(key)
    if cached is not None:
        return cached
    # the sf dirs are single parquet files → a single input split; spread the
    # Arrow extraction across cores (the pipeline's salted repartition plays
    # this role in production)
    spread = _spans(spark, sf_dir).repartition(
        2 * spark.sparkContext.defaultParallelism, "doc_id"
    )
    built = extract.extract_graphs(spans_op.with_doc_text(spread)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    _evict_graphs()  # graphs only: a live funnel frame keeps its checkpoints
    _GRAPH_CACHE[key] = built
    return built


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_kg_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved span table (SURVEY §2.1 S1-S6, §1.1). Zero-shuffle synthesis."""
    from kgx.operators import spans as spans_op

    return spans_op.explode_spans(_spans(spark, sf_dir))


def q_kg_doc_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-order invariant under forced shuffle (SURVEY §2.7 W5): explode →
    repartition → offset-sorted reassembly → rebuild text."""
    from kgx.operators import spans as spans_op

    flat = spans_op.explode_spans(_spans(spark, sf_dir)).repartition(16)
    rebuilt = spans_op.reassemble_spans(flat)
    return spans_op.with_doc_text(rebuilt).select("doc_id", "doc_text")


def q_kg_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mention detect → stop-word filter → first-occurrence dedup → cap 15
    (SURVEY §2.2 P1-P3, §2.3 R2)."""
    g = _graphs(spark, sf_dir)
    return g.select("doc_id", F.posexplode("nodes").alias("pos", "n")).select(
        "doc_id",
        F.col("n.label").alias("label"),
        (F.col("pos") + 1).cast("int").alias("mention_rank"),
    )


def q_kg_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node table with synthetic ids + entity typing (SURVEY §2.3 R3, R4)."""
    from kgx.operators import extract

    return extract.nodes_table(_graphs(spark, sf_dir))


def q_kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-resolved (subj, pred, obj) triples — the P/R comparison unit
    (SURVEY §2.3 R5-R8, §2.5 JN1, §2.8 X2)."""
    from kgx.operators import extract

    return extract.triples_table(_graphs(spark, sf_dir))


def q_link_canonical_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alias-stem candidates → connected-components merge → content-derived
    canonical ids (SURVEY §2.5 JN4, §2.12)."""
    from kgx.operators import extract, linking

    return linking.canonical_map(extract.nodes_table(_graphs(spark, sf_dir)))


def q_link_canonical_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triples rewritten through the canonical map + dedup (SURVEY §2.12).
    The shared _graphs cache feeds both the map and the rewrite — no extra
    per-query cache to leak."""
    from kgx.operators import extract, linking

    g = _graphs(spark, sf_dir)
    cmap = linking.canonical_map(extract.nodes_table(g))
    return linking.canonical_triples(extract.triples_table(g), cmap)


def q_link_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH similarity candidates over char shingles (SURVEY §2.5 JN5).
    md5-derived universal-hash MinHash + banded LSH + exact-Jaccard verify —
    fully deterministic and mirrored by a DuckDB oracle (kgx.oracles
    .link_minhash_sql), unlike the round-1 pyspark.ml implementation."""
    from kgx.operators import extract, linking

    labels = linking.distinct_labels(extract.nodes_table(_graphs(spark, sf_dir)))
    return linking.minhash_edges(labels, min_jaccard=0.7)


# --- training-data pipeline extras (raw documents / embeddings tables) ----

def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kgx.sources import docs as docs_src

    return docs_src.load_documents(spark, sf_dir)


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kgx.sources.docs import spread_small_scan

    return spread_small_scan(spark, spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def q_dedup_exact(spark, sf_dir):
    """Exact dedup groups by 60-bit content hash (shuffle carries the hash,
    not the text)."""
    from kgx.operators import dedup

    return dedup.exact_groups(_documents(spark, sf_dir))


def q_dedup_jaccard_pairs(spark, sf_dir):
    """Exact word-3-gram Jaccard similarity join via inverted shingle index,
    with the hot-shingle guard ON (``max_shingle_df=50``): shingles occurring
    in more than 50 docs are dropped before the self-join, bounding the
    inverted-index blowup on boilerplate-heavy corpora.  The driver corpus'
    max shingle df is 7, so the guard is semantics-neutral here — the oracle
    applies the identical cutoff."""
    from kgx.operators import dedup

    return dedup.ngram_jaccard_pairs(
        _documents(spark, sf_dir), threshold=0.5, max_shingle_df=50
    )


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash signatures (zero-shuffle array aggregates) → banded LSH
    buckets → exact-Jaccard-verified near-dup pairs."""
    from kgx.operators import dedup

    return dedup.minhash_lsh_pairs(_documents(spark, sf_dir), threshold=0.5)


def q_dedup_clusters(spark, sf_dir):
    """Corpus near-dup clustering: LSH pairs -> connected components ->
    canonical doc per cluster, every doc covered (keep-one dedup policy)."""
    from kgx.operators import dedup

    return dedup.near_dup_clusters(_documents(spark, sf_dir), threshold=0.5)


def q_dedup_simhash_pairs(spark, sf_dir):
    """64-bit SimHash fingerprints, banded candidates, Hamming <= 3, with
    the band-bucket skew guard ON (``max_bucket=200``, mirroring the MinHash
    guard): a boilerplate cluster can no longer enumerate O(B²) rows in one
    15-bit bucket.  At the sf0.01 gate scale the largest band bucket is far
    below the cap, so the guard is semantics-neutral there (identical 2932
    rows) and the oracle applies the identical cutoff; at sf0.1 the corpus
    HAS near-identical flood clusters and the cap drops them (34k vs 272k
    uncapped pairs) — the designed behavior."""
    from kgx.operators import dedup

    return dedup.simhash_pairs(_documents(spark, sf_dir), max_bucket=200)


def q_ann_topk(spark, sf_dir):
    """Brute-force cosine top-k (quantized integer dot products — exact and
    engine-portable)."""
    from kgx.operators import similarity

    return similarity.cosine_topk(_embeddings(spark, sf_dir))


def q_ann_ivf_topk(spark, sf_dir):
    """IVF-bucketed ANN: nprobe cells per query, exact rerank inside."""
    from kgx.operators import similarity

    return similarity.ivf_topk(_embeddings(spark, sf_dir), target_cell_size=32)


def q_emb_near_dup_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs above a floor."""
    from kgx.operators import similarity

    return similarity.embedding_near_dup_pairs(
        _embeddings(spark, sf_dir), target_cell_size=32
    )


def q_emb_kmeans(spark, sf_dir):
    """Integer-arithmetic Lloyd's k-means over the embedding column
    (SemDeDup-style corpus clustering; broadcast centroids, map-side-combined
    posexplode update — shuffle per round is partitions x k x dim rows)."""
    from kgx.operators import clustering

    return clustering.kmeans_assign(
        _embeddings(spark, sf_dir), rounds=2, target_cluster_size=64
    )


def q_seq_pack_interleaved(spark, sf_dir):
    """Multimodal sequence packing over the interleaved span table: media
    spans cost a fixed vision-encoder token budget (576 = 24x24 patches);
    per-doc cost from the span array with zero explode, then the per-shard
    packing window."""
    from kgx.operators import packing

    return packing.seq_pack_interleaved(
        _spans(spark, sf_dir), capacity=4096, n_shards=8, media_token_cost=576
    )


def q_media_captions(spark, sf_dir):
    """Interleaved caption mining: nearest text spans around each media span
    (MMC4/OBELICS-style image-text pair extraction); window keyed on the
    explicit span_pos — the north-rule span-order invariant."""
    from kgx.operators import media, spans as spans_op

    flat = spans_op.explode_spans(_spans(spark, sf_dir))
    return media.media_caption_pairs(flat)


def q_hll_registers(spark, sf_dir):
    """HyperLogLog register sketch of distinct event ids — engine-neutral
    md5-60 hashing + bin()-based leading-zero rank, so the register table
    (the mergeable state a 100 TB job stores) is oracle-replayable; shuffle
    carries <= partitions x m pre-combined rows."""
    from kgx.operators import sketches
    from kgx.sources.docs import spread_small_scan

    ev = spread_small_scan(spark, spark.read.parquet(f"{sf_dir}/events.parquet"))
    return sketches.hll_registers(ev, "cast(event_id as string)", m=64)


def q_cm_registers(spark, sf_dir):
    """Count-min counter table over event ids (NEW r4) — the frequency
    sibling of the HLL sketch: one md5 per row feeds a depth-4
    universal-hash family, counters are element-wise-sum mergeable, and
    the shuffle carries <= partitions x depth x width pre-combined rows."""
    from kgx.operators import sketches
    from kgx.sources.docs import spread_small_scan

    ev = spread_small_scan(spark, spark.read.parquet(f"{sf_dir}/events.parquet"))
    return sketches.cm_registers(
        ev, "cast(user_id as string)", depth=4, width=256
    )


def q_inverted_postings(spark, sf_dir):
    """Inverted token index (token, doc_id, tf, df) — retrieval-side
    companion to ANN; df cutoffs bound posting lists like the hot-shingle
    guard."""
    from kgx.operators import indexing

    return indexing.inverted_postings(_documents(spark, sf_dir), min_df=2, max_df=400)


def q_lm_trigram_counts(spark, sf_dir):
    """Trigram LM count table with Kneser-Ney continuation counts."""
    from kgx.operators import indexing

    return indexing.lm_ngram_counts(_documents(spark, sf_dir), n=3, min_count=2)


#: bm25_topk gate parameters — shared by the query and its oracle so they
#: can never drift; 'dup' is the one rare token in the driver vocabulary
#: (df/N ≈ 0.05 → idf_bits 5), the others are common (idf_bits 1), so the
#: ranking exercises both idf extremes plus tf/length normalization.
BM25_GATE = dict(query_terms=["dup", "window", "join", "hash"], k=25)


def q_bm25_topk(spark, sf_dir):
    """Fixed-point BM25 top-k keyword retrieval (NEW r5) — targeted data
    selection over the inverted index: bigint score (log2-bit-length idf,
    milli-scaled saturation/length-norm ratio), TakeOrderedAndProject
    top-k, deterministic (score DESC, doc_id) tie-break."""
    from kgx.operators import indexing

    return indexing.bm25_topk(_documents(spark, sf_dir), **BM25_GATE)


def q_graph_random_walks(spark, sf_dir):
    """DeepWalk-style deterministic walk corpus over the extracted KG
    (NEW r5) — graph→sequence export for skip-gram training: md5-60
    step choices over sorted adjacency arrays, one equi-join per step."""
    from kgx.operators import extract, graphstats

    return graphstats.random_walks(
        extract.triples_table(_graphs(spark, sf_dir)),
        length=4,
        walks_per_node=2,
    )


def q_walk_skipgram_pairs(spark, sf_dir):
    """Skip-gram (center, context) pair counts over the deterministic
    walk corpus (NEW r5) — in-row window enumeration, one map-side-
    combined count shuffle: the node2vec training table."""
    from kgx.operators import extract, graphstats

    return graphstats.walk_skipgram_pairs(
        graphstats.random_walks(
            extract.triples_table(_graphs(spark, sf_dir)),
            length=4,
            walks_per_node=2,
        ),
        window=2,
    )


def q_unigram_surprisal(spark, sf_dir):
    """Per-doc mean unigram surprisal in quantized bits (NEW r5) — the
    CCNet-style perplexity quality screen run from the corpus's own
    unigram counts; all-bigint log2-bit-length arithmetic."""
    from kgx.operators import indexing

    return indexing.unigram_surprisal(_documents(spark, sf_dir))


def q_semdedup(spark, sf_dir):
    """SemDeDup: k-means bucketing + within-cluster cosine ball, keep-first
    (cluster equi-join is the only shuffle beyond k-means; k sized so
    clusters stay bounded at corpus scale)."""
    from kgx.operators import clustering

    return clustering.semdedup(
        _embeddings(spark, sf_dir), rounds=2, min_cosine=0.4,
        target_cluster_size=64,
    )


def q_seq_pack(spark, sf_dir):
    """Concat-then-chunk sequence packing into 128-token training sequences,
    windowed PER SHARD (never a global sort)."""
    from kgx.operators import packing

    return packing.seq_pack(_documents(spark, sf_dir), capacity=128, n_shards=8)


def q_shard_manifest(spark, sf_dir):
    """Per-shard export manifest with an order-independent doc-set
    checksum."""
    from kgx.operators import packing

    return packing.shard_manifest(_documents(spark, sf_dir), n_shards=8)


def q_token_mix(spark, sf_dir):
    """Source-mixing plan on a token budget: largest budget every source can
    supply at its target weight, exact-bigint rates, hash-Bernoulli audit."""
    from kgx.operators import packing

    return packing.token_mix_plan(_documents(spark, sf_dir))


def q_text_stats(spark, sf_dir):
    """Token/char/punct counts + rational-arithmetic quality score."""
    from kgx.operators import textstats

    return textstats.text_stats(_documents(spark, sf_dir))


def q_repetition_stats(spark, sf_dir):
    """Gopher-style within-document repetition signals (Rae et al. 2021):
    top word-2-gram character fraction + duplicate-3-gram instance fraction
    — the repetition half of the Gopher quality suite, as hash-only-shuffle
    relational aggregates (kgx.operators.textstats.repetition_stats)."""
    from kgx.operators import textstats

    return textstats.repetition_stats(_documents(spark, sf_dir))


def q_quality_filter(spark, sf_dir):
    """Gopher/C4 composite quality gate: named rule verdicts per doc."""
    from kgx.operators import textstats

    return textstats.quality_filter(_documents(spark, sf_dir), min_tokens=20)


def q_token_counts(spark, sf_dir):
    """Whitespace + BPE-ish-regex token budgeting (training-data pipeline)."""
    from kgx.operators import textstats

    return textstats.token_counts(_documents(spark, sf_dir))


def q_vocab_topk(spark, sf_dir):
    """Tokenizer-prep vocabulary head: global top-200 tokens by count with
    document frequency (map-side combine then TakeOrderedAndProject)."""
    from kgx.operators import textstats

    return textstats.vocab_topk(_documents(spark, sf_dir), k=200)


def q_pii_scrub(spark, sf_dir):
    """PII redaction cascade (email/SSN/phone/IPv4) with per-category counts
    over a planted-PII fixture — the driver corpus is clean word salad, so
    the fixture suffix (one dialect-neutral SQL string shared with the
    oracle) plants deterministic PII in 2 of 3 docs.  Pure projection."""
    from kgx.operators import curation

    docs = _documents(spark, sf_dir).selectExpr(
        "doc_id", curation.pii_fixture_expr() + " AS text"
    )
    return curation.pii_scrub(docs)


def q_sentence_dedup(spark, sf_dir):
    """Cross-document duplicate-sentence stats (CCNet/RefinedWeb pass) over
    the narrative corpus; shuffles carry 60-bit hashes, never text."""
    from kgx.operators import curation
    from kgx.sources import corpus

    return curation.sentence_dedup_stats(
        corpus.narrative_documents(_documents(spark, sf_dir))
    )


def q_sentence_prune(spark, sf_dir):
    """Removal half of the CCNet sentence dedup: keep each sentence's first
    global occurrence, rebuild per-doc text; text crosses only the final
    doc_id equi-join — every other exchange carries bigints."""
    from kgx.operators import curation
    from kgx.sources import corpus

    return curation.sentence_prune(
        corpus.narrative_documents(_documents(spark, sf_dir))
    )


def q_graph_degrees(spark, sf_dir):
    """KG degree statistics over the distinct global label edge list (graph
    analytics on the materialized triples; two hash aggregates + one label
    equi-join, bigint-only exchanges past the edge list)."""
    from kgx.operators import extract, graphstats

    return graphstats.degree_stats(extract.triples_table(_graphs(spark, sf_dir)))


def q_graph_pagerank(spark, sf_dir):
    """Deterministic integer-arithmetic PageRank (5 rounds, damping 0.85 in
    basis points) over the KG edge list — the iterative-algorithm pattern:
    a fixed per-iteration join+aggregate plan over (label, rank) bigints,
    bit-identical to the unrolled-CTE DuckDB oracle."""
    from kgx.operators import extract, graphstats

    return graphstats.pagerank(extract.triples_table(_graphs(spark, sf_dir)))


def q_graph_entity_pmi(spark, sf_dir):
    """Document-level entity co-occurrence with exact-integer lift scores
    (NEW r4): the edge-weighting signal for entity linking / KG
    completion, in floor-divided basis points so the oracle matches where
    a float log never would.  Pair enumeration is in-row over the per-doc
    sorted label array (bounded by the P3 mention cap) — no self-join."""
    from kgx.operators import extract, graphstats

    return graphstats.entity_cooccurrence(
        extract.nodes_table(_graphs(spark, sf_dir)), min_co=2
    )


def q_graph_label_prop(spark, sf_dir):
    """Deterministic frequency-vote label propagation over the extracted
    KG (NEW r4): the community-granularity sibling of the canonicalization
    CC merge — per round one keyed join + count + per-node top-1 window,
    tie-broken (votes DESC, community ASC) so the unrolled DuckDB oracle
    matches bit-for-bit."""
    from kgx.operators import extract, graphstats

    return graphstats.label_propagation(
        extract.triples_table(_graphs(spark, sf_dir)), iters=3
    )


def q_graph_triangles(spark, sf_dir):
    """Per-node triangle participation + degree over the undirected KG edge
    set (a<b<c two-equi-join enumeration; exact integers so downstream
    clustering coefficients never hash-drift).  The narrative KG is
    near-bipartite (triangles legitimately ~0) — planted-graph semantics are
    covered in test_graphstats."""
    from kgx.operators import extract, graphstats

    return graphstats.triangle_counts(extract.triples_table(_graphs(spark, sf_dir)))


def q_graph_link_candidates(spark, sf_dir):
    """Common-neighbor link-prediction candidates over the KG (NEW r4):
    in-row wedge enumeration from sorted neighbor arrays with a
    max_degree hub cap (a degree-d hub would emit d² pairs — same
    quadratic-flood guard as the LSH band caps), exact Jaccard in floor
    basis points, is_edge flag for KG-completion filtering."""
    from kgx.operators import extract, graphstats

    return graphstats.common_neighbor_candidates(
        extract.triples_table(_graphs(spark, sf_dir)), max_degree=64, min_common=2
    )


def q_kg_version_diff(spark, sf_dir):
    """Snapshot changelog between two simulated pipeline runs (NEW r4):
    the old run pre-dates the `acquired` extraction pattern and misses
    the doc_id % 3 = 0 docs; the new run retired doc_id % 5 = 4.  One
    full-outer join on the triple key over the SAME persisted extraction
    (both filters are post-extraction slices — no double extract);
    'added'/'removed' rows are the MERGE delta an Iceberg graph table
    would apply."""
    from kgx.operators import extract
    from kgx.plans import versions

    t = extract.triples_table(_graphs(spark, sf_dir))
    dnum = "cast(substr(doc_id, 5) as bigint)"  # doc_id = 'doc-<n>'
    old = t.where(f"pred != 'acquired' AND {dnum} % 3 != 0")
    new = t.where(f"{dnum} % 5 != 4")
    return versions.snapshot_diff(old, new, ["doc_id", "subj", "pred", "obj"])


def q_kg_negative_samples(spark, sf_dir):
    """Hash-bucketed negative sampling for KG-embedding training (NEW
    r4): k=2 corrupted objects per distinct triple, chosen by pure md5-60
    arithmetic over a per-bucket-numbered node table — bounded per-bucket
    sorts instead of a global row_number, broadcast bucket sizes, one
    (bucket, idx) equi-join."""
    from kgx.operators import extract, graphstats

    return graphstats.negative_samples(
        extract.triples_table(_graphs(spark, sf_dir)), k=2, buckets=64
    )


def q_kg_training_pairs(spark, sf_dir):
    """The composed KG-embedding training set (NEW r4): distinct triples
    as positives UNION their k=2 hash-corrupted negatives — what a
    TransE-family trainer consumes, produced in one lazy plan over the
    persisted extraction."""
    from kgx.operators import extract, graphstats

    return graphstats.training_pairs(
        extract.triples_table(_graphs(spark, sf_dir)), k=2, buckets=64
    )


def q_kg_transe_margin(spark, sf_dir):
    """Per-predicate TransE energy audit of the composed training set
    (NEW r5): L1 energy of every positive/negative pair under
    deterministic hash-derived integer embeddings, aggregated to the
    epoch-zero margin table a KG-embedding trainer logs before its first
    gradient step.  One pure integer projection + one map-side-combined
    aggregate on the 16-value pred key over training_pairs' bounded
    plan."""
    from kgx.operators import extract, graphstats

    return graphstats.transe_margin(
        graphstats.training_pairs(
            extract.triples_table(_graphs(spark, sf_dir)), k=2, buckets=64
        ),
        dim=8,
        modulus=1024,
    )


def q_pq_codes(spark, sf_dir):
    """Product-quantization codes over the embeddings table (NEW r5):
    per-subspace integer Lloyd's k-means, argmin-L2 code per (vector,
    subspace) — the compression half of IVF-PQ beside ann_ivf_topk's
    coarse quantizer.  Broadcast m·k codebook, map-side-combined min_by
    argmin, bit-exact unrolled-CTE oracle."""
    from kgx.operators.clustering import pq_codes

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return pq_codes(emb, m=8, k=16, rounds=2)


def q_pq_topk(spark, sf_dir):
    """PQ asymmetric-distance top-k search (NEW r5): queries score every
    database vector by summing broadcast-LUT subspace distances over its
    m compressed codes — the retrieval half of IVF-PQ beside
    ann_topk/ann_ivf_topk.  Map-side-combined score aggregate; codebook
    pinned once for its two consumers."""
    from kgx.operators.clustering import pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return pq_topk(emb, n_queries=8, k=5, m=8, k_codes=16, rounds=2)


def q_ann_ivfpq_topk(spark, sf_dir):
    """Composed IVF-PQ search (NEW r5): coarse IVF probes restrict each
    query to nprobe cells, candidates ranked by PQ asymmetric distance —
    the full billion-vector ANN architecture, completing
    ann_topk (exact) → ann_ivf_topk (probed exact) → pq_topk (global
    ADC) → this (probed ADC)."""
    from kgx.operators.clustering import ivf_pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_pq_topk(
        emb, n_queries=8, k=5, n_centroids=16, nprobe=4,
        m=8, k_codes=16, rounds=2,
    )


def q_ann_recall(spark, sf_dir):
    """Per-query recall@k audit of the IVF index vs the exact baseline
    (NEW r5): both sides rank by the identical quantized cosine, so any
    miss is attributable to the probe set alone — the quality dial that
    sizes nprobe in production.  Pure composition of two bounded top-k
    plans."""
    from kgx.operators.similarity import ivf_recall

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_recall(emb, n_queries=8, k=5, n_centroids=16, nprobe=4)


def q_graph_two_hop(spark, sf_dir):
    """Per-node two-hop neighborhood size over the extracted KG (NEW
    r5): in-row path enumeration under the hub cap, one distinct pair
    shuffle, one anti-join dropping 1-hop edges — the graph-expansion
    signal that prices traversal workloads."""
    from kgx.operators import extract, graphstats

    return graphstats.two_hop_stats(
        extract.triples_table(_graphs(spark, sf_dir)), max_degree=64
    )


def q_graph_node2vec_walks(spark, sf_dir):
    """node2vec second-order biased walk corpus (NEW r5): the DeepWalk
    sampler upgraded with integer return/near/far weights — one corpus
    dials between BFS-like and DFS-like neighborhoods.  In-row
    cumulative-weight fold, two adjacency equi-joins per step; the
    oracle replays the fold relationally (window prefix-sums),
    bit-for-bit."""
    from kgx.operators import extract, graphstats

    return graphstats.node2vec_walks(
        extract.triples_table(_graphs(spark, sf_dir)),
        length=4, walks_per_node=2, seed=0,
        w_return=1, w_near=4, w_far=2,
    )


def q_lsh_recall(spark, sf_dir):
    """Blocking-quality audit of MinHash-LSH vs the exact Jaccard join
    (NEW r5): the dedup counterpart of ann_recall and the dial that
    sizes bands/num_hashes — every miss is attributable to banding or
    the bucket cap.  Pure composition of two bounded pair plans."""
    from kgx.operators import dedup

    return dedup.lsh_blocking_recall(
        _documents(spark, sf_dir), threshold=0.5, max_shingle_df=50,
        num_hashes=16, bands=8, max_bucket=200,
    )


def q_dataset_split(spark, sf_dir):
    """Deterministic train/val/test split audit (NEW r5): each doc's
    split is a pure md5 function of its id — leakage-safe under re-runs
    and appends — and this table verifies per-source share_bp.  One
    integer projection + two count aggregates."""
    from kgx.operators import curation

    return curation.dataset_split(
        _documents(spark, sf_dir), val_bp=500, test_bp=500,
        strat_col="source",
    )


def q_kg_scd2_intervals(spark, sf_dir):
    """SCD2 validity intervals over three simulated pipeline runs (NEW
    r5): the kg_version_diff slices stamped run_seq 1..3, then
    gaps-and-islands per triple — the point-in-time table a versioned
    KG serves.  One bounded window (≤ 3 rows per triple) + one
    map-side-combined min/max aggregate."""
    from kgx.functions.plan import materialize
    from kgx.operators import extract
    from kgx.plans import versions

    t = materialize(extract.triples_table(_graphs(spark, sf_dir)))
    dnum = "cast(substr(doc_id, 5) as bigint)"  # doc_id = 'doc-<n>'
    runs = (
        t.where(f"pred != 'acquired' AND {dnum} % 3 != 0")
        .withColumn("run_seq", F.lit(1).cast("long"))
        .unionByName(
            t.where(f"{dnum} % 5 != 4")
            .withColumn("run_seq", F.lit(2).cast("long"))
        )
        .unionByName(t.withColumn("run_seq", F.lit(3).cast("long")))
    )
    return versions.scd2_intervals(runs)


def q_graph_kcore(spark, sf_dir):
    """Synchronous k-core peel over the extracted KG (NEW r4): bounded
    peel rounds drop nodes whose residual degree falls below k — the
    "dense enough to trust" filter run before entity embedding.  Per
    round one count aggregate + two LEFT SEMI joins, all keyed on labels;
    the unrolled DuckDB oracle replays the identical rounds."""
    from kgx.operators import extract, graphstats

    return graphstats.kcore(extract.triples_table(_graphs(spark, sf_dir)), k=2, iters=4)


def q_curation_funnel(spark, sf_dir):
    """END-TO-END curation funnel over the narrative corpus (SURVEY training-
    data family, composed): quality gate (prose-adjusted symbol cap) → exact
    dedup → MinHash-LSH near-dup connected-components keep-one → PII scrub →
    keep-first sentence prune.  One lazy DataFrame — the plan the 100 TB
    curation job runs, minus the per-stage counts; every exchange before the
    final text rejoin carries bigint keys only."""
    from kgx.plans.curation_pipeline import CurationConfig, funnel_final
    from kgx.sources import corpus

    cfg = CurationConfig(
        out_dir="", min_tokens=20, quality_kwargs={"max_symbol_ratio": 0.2}
    )
    return funnel_final(
        corpus.narrative_documents(_documents(spark, sf_dir)), cfg
    )


def q_funnel_export(spark, sf_dir):
    """The full pretraining story COMPOSED end-to-end: the five-stage
    curation funnel's survivors flow into the deterministic sharder, the
    per-shard manifest (order-independent doc-set checksum) and the
    concat-then-chunk packing window — one lazy plan from raw corpus to
    export accounting.  Per shard: docs/tokens/chars/checksum plus the
    packed-sequence count and how many docs span a chunk boundary.  The
    oracle (kgx.oracles.funnel_export_sql) replays the identical
    composition with the funnel nested as a CTE."""
    from kgx.operators import packing
    from kgx.plans.curation_pipeline import CurationConfig, funnel_final
    from kgx.sources import corpus

    cfg = CurationConfig(
        out_dir="", min_tokens=20, quality_kwargs={"max_symbol_ratio": 0.2}
    )
    curated = funnel_final(
        corpus.narrative_documents(_documents(spark, sf_dir)), cfg
    )
    man = packing.shard_manifest(curated, n_shards=8)
    pack = packing.seq_pack(curated, capacity=128, n_shards=8)
    pstats = pack.groupBy("shard").agg(
        (F.max("last_seq") + 1).cast("long").alias("n_seqs"),
        F.sum((F.col("n_seqs") > 1).cast("long")).cast("long").alias("spanning_docs"),
    )
    return man.join(pstats, "shard")


def q_balanced_sample(spark, sf_dir):
    """Balance-to-minority stratified sampling over the domain fixture
    strata (deterministic hash-Bernoulli; integer-bp rates)."""
    from kgx.operators import curation

    docs = _documents(spark, sf_dir)
    strata = docs.selectExpr(
        "doc_id", curation.DOMAIN_FIXTURE_EXPR + " AS stratum"
    )
    return curation.balanced_sample(docs, strata)


def q_contamination(spark, sf_dir):
    """n-gram decontamination screen vs the deterministic benchmark slice
    (doc_id % 19 = 0).  n=3 suits this corpus' tiny vocabulary — production
    eval screens use 8-13-grams — and the benchmark hash set is broadcast
    (bounded by eval-suite size by construction)."""
    from kgx.operators import curation

    return curation.contamination_screen(_documents(spark, sf_dir), n=3)


def q_hll_by_group(spark, sf_dir):
    """Per-group HLL registers (NEW r4): distinct users per event type as
    one register sketch per group — the dashboard-rollup state (still one
    map-side-combined aggregate over groups × m keys; per-group max-merge
    AND cross-group union-merge both tested)."""
    from kgx.operators import sketches
    from kgx.sources.docs import spread_small_scan

    ev = spread_small_scan(spark, spark.read.parquet(f"{sf_dir}/events.parquet"))
    return sketches.hll_registers_grouped(
        ev, "event_type", "cast(user_id as string)", m=64
    )


def q_cm_heavy_hitters(spark, sf_dir):
    """Heavy-hitter candidates consumed from the count-min sketch
    in-engine (NEW r4): estimate = min over depth cells via a broadcast
    register join, threshold filter, exact count beside — the
    sketch-screen-then-exact-recount two-phase pattern on one oracle-
    replayable table (est >= exact on every row by construction)."""
    from kgx.operators import sketches
    from kgx.sources.docs import spread_small_scan

    ev = spread_small_scan(spark, spark.read.parquet(f"{sf_dir}/events.parquet"))
    return sketches.cm_heavy_hitters(
        ev, "cast(user_id as string)", threshold=75, depth=4, width=256
    )


def q_hist_registers(spark, sf_dir):
    """Log2 histogram of event values in cents (NEW r4) — the
    distribution sibling of the HLL/count-min/Bloom registers (≤65 bins,
    element-wise-sum mergeable, ±2× quantile bounds driver-side without a
    global sort).  floor(value * 100) is IEEE-identical cross-engine
    where round() would not be."""
    from kgx.operators import sketches
    from kgx.sources.docs import spread_small_scan

    ev = spread_small_scan(spark, spark.read.parquet(f"{sf_dir}/events.parquet"))
    return sketches.hist_registers(ev, "cast(floor(value * 100) as bigint)")


def q_bloom_registers(spark, sf_dir):
    """Bloom-filter bitmap of the benchmark slice's shingle hashes (NEW
    r4) — the membership sibling of the HLL/count-min sketches: 32-bit
    words, double-hashed positions, element-wise bit_or mergeable.  The
    kilobyte register table is what a 100 TB decontamination pass
    broadcasts instead of the raw benchmark hash set."""
    from kgx.operators import sketches
    from kgx.operators.dedup import shingle_table

    sh = shingle_table(_documents(spark, sf_dir), n=3)
    bench = sh.where(F.col("doc_id") % 19 == 0)
    return sketches.bloom_registers(
        bench, "shingle_hash", m_bits=65536, k=4, pre_hashed=True
    )


def q_bloom_contamination(spark, sf_dir):
    """Bloom-probe decontamination screen (NEW r4): every train shingle
    checks its k bits against the broadcast benchmark bitmap — no false
    negatives (superset of the exact `contamination` screen's hits), a
    bounded false-positive rate, and the corpus side shuffles nothing
    wider than two bigints."""
    from kgx.operators import sketches
    from kgx.operators.dedup import shingle_table

    sh = shingle_table(_documents(spark, sf_dir), n=3)
    bench = sh.where(F.col("doc_id") % 19 == 0)
    regs = sketches.bloom_registers(
        bench, "shingle_hash", m_bits=65536, k=4, pre_hashed=True
    )
    return sketches.bloom_probe(
        sh.where(F.col("doc_id") % 19 != 0), regs, m_bits=65536, k=4
    )


def q_asof_last_click(spark, sf_dir):
    """Distributed as-of join (union + per-key window, ONE shuffle): for
    every purchase event, the user's latest click at-or-before it.  The
    DuckDB oracle uses native ASOF JOIN — an independent implementation,
    not a transliteration.  Both sides pre-dedup per (user_id, ts) by max
    event_id so tie semantics are engine-independent."""
    from pyspark.sql.window import Window

    from kgx.operators.temporal import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    one = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    ev = (
        ev.withColumn("__rn", F.row_number().over(one))
        .where("__rn = 1")
        .drop("__rn")
    )
    purchases = ev.where("event_type = 'purchase'").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("purchase_ts")
    )
    clicks = ev.where("event_type = 'click'").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")
    )
    return asof_join(
        purchases,
        clicks,
        key="user_id",
        left_ts="purchase_ts",
        right_ts="click_ts",
        payload=["click_id", "click_ts"],
        how="inner",
    )


def q_sessions(spark, sf_dir):
    """Gap-based sessionization (6 h inactivity gap) via Spark's native
    session_window aggregate; the oracle re-derives the same sessions with
    the gaps-and-islands window cascade — an independent formulation."""
    from kgx.operators.temporal import sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize(ev, key="user_id", ts="ts", gap_sec=21600)


def q_range_clicks_before_purchase(spark, sf_dir):
    """Binned range join (equi-join on (key, time-bin), exact filter, zero
    nested loops): every click within 24 h before each purchase.  The
    DuckDB oracle is the plain inequality join."""
    from kgx.operators.temporal import range_join_binned

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    purchases = ev.where("event_type = 'purchase'").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("purchase_ts")
    )
    clicks = ev.where("event_type = 'click'").select(
        "user_id", F.col("ts").alias("click_ts2"), F.col("event_id").alias("click_id")
    )
    out = range_join_binned(
        purchases,
        clicks.withColumnRenamed("click_ts2", "ts"),
        key="user_id",
        left_ts="purchase_ts",
        right_ts="ts",
        window_sec=86400,
        payload=["click_id"],
    )
    return out.select("user_id", "purchase_id", "purchase_ts", "click_id")


def q_fingerprints_winnowed(spark, sf_dir):
    """MOSS-style winnowed rolling-hash fingerprints (partial-overlap
    detection; zero shuffle until the tiny (doc_id, hash) distinct)."""
    from kgx.operators import textstats

    return textstats.winnowed_fingerprints(_documents(spark, sf_dir))


def q_language_id(spark, sf_dir):
    """Stop-word-marker language guess (deterministic argmax)."""
    from kgx.operators import textstats

    return textstats.language_id(_documents(spark, sf_dir))


def q_fingerprints(spark, sf_dir):
    """Normalized md5 content fingerprints."""
    from kgx.operators import textstats

    return textstats.fingerprints(_documents(spark, sf_dir))


def q_media_inventory(spark, sf_dir):
    """Typed media metadata over interleaved media spans."""
    from kgx.operators import media, spans as spans_op

    return media.media_inventory(spans_op.explode_spans(_spans(spark, sf_dir)))


# --- JSON ops / validation / CSV-prose (SURVEY §2.4, §2.2 P7-P9, §2.1 S5) --

def q_j1_props_parse(spark, sf_dir):
    """JSON scalar parse (SURVEY J1) — from_json/get_json_object, no UDF."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select(
        "event_id",
        F.expr("cast(get_json_object(props, '$.k') as int)").alias("k"),
    )


def q_j3_graph_coercion(spark, sf_dir):
    """JSON graph parse + default coercion + endpoint validation (SURVEY
    J1/J3/P4): deterministic graph JSON built per event; 1-in-3 edges
    reference a missing node and must be dropped."""
    from kgx.oracles import GRAPH_JSON_EXPR
    from kgx.operators import jsonio

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", F.expr("cast(get_json_object(props, '$.k') as int)").alias("k")
    )
    j = ev.withColumn(
        "graph_json", F.expr(GRAPH_JSON_EXPR.format(k="cast(k as string)"))
    )
    coerced = jsonio.coerce_graph(jsonio.parse_graph_json(j, "graph_json"))
    return coerced.select(
        "event_id",
        F.size("nodes").cast("int").alias("n_nodes"),
        F.size("edges").cast("int").alias("n_edges"),
        F.expr("array_join(transform(nodes, n -> n.type), ',')").alias("node_types"),
        F.expr("array_join(transform(edges, e -> e.relationship), ',')").alias("rels"),
    )


def q_p9_graph_checks(spark, sf_dir):
    """Per-doc sanity validation metrics (SURVEY P7-P9)."""
    from kgx.operators import validate

    return validate.graph_checks(_graphs(spark, sf_dir))


def q_j2_json_repair(spark, sf_dir):
    """LLM-style JSON repair chain (SURVEY J2): bare keys/values + trailing
    commas + prose prefix → valid JSON, both engines running the same
    regexp_replace cascade rendered per dialect."""
    from kgx.operators import jsonio
    from kgx.oracles import BROKEN_JSON_EXPR

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", F.expr("cast(get_json_object(props, '$.k') as int)").alias("k")
    )
    broken = BROKEN_JSON_EXPR.replace("{k}", "k")
    fixed = ev.withColumn("broken", F.expr(broken)).withColumn(
        "fixed", F.expr(jsonio.repair_json_expr("broken", dialect="spark"))
    )
    parsed = fixed.withColumn(
        "p", F.from_json("fixed", "k string, name string, tags array<string>")
    )
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k_str"),
        F.col("p.name").alias("name"),
        F.expr("array_join(p.tags, '|')").alias("tags"),
    )


def q_p10_media_security(spark, sf_dir):
    """File-security predicates (SURVEY P10) over media refs with planted
    dangerous/suspicious/unknown-extension variants."""
    from kgx.operators import media, security, spans as spans_op
    from kgx.oracles import _P10_VARIANT

    inv = media.media_inventory(spans_op.explode_spans(_spans(spark, sf_dir)))
    variant = _P10_VARIANT.format(dot=r"\\.", flag="")
    refs = inv.select("doc_id", "span_pos", F.expr(variant).alias("media_ref"))
    out = security.classify_refs(refs)
    return out.withColumnRenamed("media_ref", "ref")


def q_s5_csv_prose(spark, sf_dir):
    """Reference CSV semantics: rows flattened to comma-joined prose lines,
    batched into documents (SURVEY S5; reference services.py:55-62)."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    line = (
        "concat_ws(', ', cast(c_custkey as string), c_name, "
        "cast(c_nationkey as string), cast(c_acctbal as string), c_mktsegment)"
    )
    return (
        c.select(
            F.expr("c_custkey div 50").alias("prose_doc_id"),
            F.struct(F.col("c_custkey").alias("k"), F.expr(line).alias("l")).alias("s"),
        )
        .groupBy("prose_doc_id")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list(s)), x -> x.l), '\n')"
            ).alias("text")
        )
    )


def q_media_decode_real(spark, sf_dir):
    """LIVE image decode over real bytes (NEW r4): deterministic BMP/PPM
    blobs synthesized per media span (the object-store-fetch stand-in)
    flow through Arrow as a binary column and are parsed back by the
    stdlib codecs (kgx.sources.miniimage).  The oracle recomputes dims /
    fill color / container format from the shared md5-60 derivation."""
    from kgx.operators import media, spans as spans_op

    inv = media.media_inventory(spans_op.explode_spans(_spans(spark, sf_dir)))
    return media.decode_media_bytes(media.synthesize_media_blobs(inv))


def q_audio_decode_real(spark, sf_dir):
    """LIVE audio decode over real bytes (NEW r4): deterministic 16-bit
    PCM WAVs synthesized per audio span flow through Arrow as a binary
    column and are parsed back by the stdlib RIFF codec
    (kgx.sources.miniwav).  The oracle recomputes channel
    count / frames / duration / amplitude from the shared md5-60
    derivation."""
    from kgx.operators import media, spans as spans_op

    inv = media.media_inventory(spans_op.explode_spans(_spans(spark, sf_dir)))
    return media.decode_audio_bytes(media.synthesize_audio_blobs(inv))


def q_media_resize_real(spark, sf_dir):
    """LIVE thumbnailing over real bytes (NEW r4): synthesized BMP/PPM
    blobs are decoded, nearest-neighbor aspect-fit resampled to 8×8, RE-
    ENCODED in the same container, and decoded back — the whole loop on
    real bytes.  The oracle recomputes target dims from the
    shared aspect-fit integer formula and the thumb means from the solid
    fill (nearest-neighbor preserves solid fills exactly)."""
    from kgx.operators import media, spans as spans_op

    inv = media.media_inventory(spans_op.explode_spans(_spans(spark, sf_dir)))
    return media.resize_media_real(
        media.synthesize_media_blobs(inv), max_w=8, max_h=8
    )


def q_video_decode_real(spark, sf_dir):
    """LIVE video decode over real bytes (NEW r4): deterministic
    uncompressed AVI containers synthesized per video span flow through
    Arrow as a binary column and are parsed back by the stdlib RIFF/AVI
    codec (kgx.sources.miniavi).  The oracle recomputes
    dims / fps / frame count / whole-video channel means from the shared
    md5-60 derivation (solid per-frame fills make the floor-means exact)."""
    from kgx.operators import media, spans as spans_op

    inv = media.media_inventory(spans_op.explode_spans(_spans(spark, sf_dir)))
    return media.decode_video_bytes(media.synthesize_video_blobs(inv))


def q_video_frames_real(spark, sf_dir):
    """LIVE 1→N frame explode over real video bytes (NEW r4): each AVI row
    yields one row per contained frame with exact integer timestamps and
    per-frame channel means — frames stream out through Arrow batches."""
    from kgx.operators import media, spans as spans_op

    inv = media.media_inventory(spans_op.explode_spans(_spans(spark, sf_dir)))
    return media.video_frame_means(media.synthesize_video_blobs(inv))


def q_s7_llm_fake_edges(spark, sf_dir):
    """S7/S8 LLM source through its full downstream path: deterministic fake
    responder (rule engine serialized as a fenced-JSON model reply) → J1
    fence strip + multi-strategy parse → J3 coercion defaults → P4 endpoint
    validation → exploded (src, dst, relationship) node-id edge table.  The
    oracle recomputes the identical edges relationally, so the whole LLM
    plumbing chain is value-hash-checked, not just unit-tested."""
    from kgx.operators import spans as spans_op
    from kgx.sources import llm

    docs = spans_op.with_doc_text(_spans(spark, sf_dir)).select("doc_id", "doc_text")
    g = llm.llm_graphs(docs, fake=True)
    return g.select("doc_id", F.explode("edges").alias("e")).select(
        "doc_id",
        F.col("e.source").alias("src"),
        F.col("e.target").alias("dst"),
        F.col("e.relationship").alias("relationship"),
    )


def q_s2_binary_ingest(spark, sf_dir):
    """S2/S3 binary-file ingest (reference services.py:20-62): documents
    materialized as raw files (even ids → length-prefixed KGXB binary
    container, odd ids → plain .txt), scanned with binaryFile and
    text-extracted through the extension-dispatched parser registry in one
    Arrow crossing.  The oracle recomputes the same subset relationally from
    the documents table."""
    from kgx.sources import binary

    fix_dir = binary.ensure_binary_fixture(sf_dir, max_doc_id=400)
    files = binary.load_binary_docs(spark, fix_dir, glob="doc_*")
    return binary.extract_binary_text(files)


def q_jn2_graph_fetch(spark, sf_dir):
    """JN2 graph fetch + A4 list assembly + W1 ordering (reference
    database_service.py:175-235): every document with its node and triple
    sets assembled into ordered lists, empty graphs preserved with zero
    counts.

    Round 2 rewrite: the extraction output already carries the per-doc node
    and triple ARRAYS in n1..n15 order, so the round-1 explode → two
    groupBy aggregations → three-way join (3 shuffles + a per-query cache)
    collapses into one zero-exchange projection with higher-order array
    functions — the plan you'd want at any scale."""
    g = _graphs(spark, sf_dir)
    return g.select(
        "doc_id",
        F.size("nodes").cast("long").alias("n_nodes"),
        F.expr(
            "array_join(transform(nodes, n -> concat(n.node_id, ':', n.label)), '|')"
        ).alias("node_list"),
        F.size("triples").cast("long").alias("n_triples"),
        F.expr(
            "array_join(array_sort(transform(triples, "
            "t -> concat(t.subj, '>', t.pred, '>', t.obj))), '|')"
        ).alias("triple_list"),
    )


def q_fn_scalar_suite(spark, sf_dir):
    """§2.9 scalar-function family in one projection: sha2/md5 content hashes
    (security.py:284-294, 258), 2000-char prompt truncation (services.py:375),
    regexp_replace sanitizer (validators.py:76), concat_ws update-path append
    (main.py:235), lower/trim normalization. Zero shuffles."""
    d = _documents(spark, sf_dir)
    return d.select(
        "doc_id",
        F.sha2(F.col("text"), 256).alias("sha256_hex"),
        F.md5(F.col("text")).alias("md5_hex"),
        F.length(F.substring("text", 1, 2000)).cast("int").alias("prompt_chars"),
        F.md5(F.regexp_replace("text", "[^A-Za-z0-9 ]", "_")).alias("sanitized_md5"),
        F.length(F.concat_ws("\n", F.col("text"), F.lit("appended update text")))
        .cast("int")
        .alias("updated_chars"),
        F.lower(F.trim(F.substring("text", 1, 40))).alias("head_norm"),
    )


def q_p6_p8_text_gate(spark, sf_dir):
    """P6/P8 ingest predicates (empty short-circuit services.py:81-83; 1 MB
    cap validators.py:392-412) over deterministically planted empty /
    whitespace-only / oversize variants."""
    d = _documents(spark, sf_dir)
    t = (
        F.when(F.col("doc_id") % 31 == 7, F.lit("   "))
        .when(F.col("doc_id") % 31 == 13, F.lit(""))
        .when(
            F.col("doc_id") % 31 == 1,
            F.concat(F.col("text"), F.expr("repeat('x', 1000001)")),
        )
        .otherwise(F.col("text"))
    )
    v = d.select("doc_id", t.alias("t"))
    return v.select(
        "doc_id",
        F.when(F.length(F.trim("t")) == 0, F.lit("empty"))
        .when(F.length("t") > 1000000, F.lit("oversize"))
        .otherwise(F.lit("valid"))
        .alias("gate"),
        F.length("t").cast("long").alias("n_chars"),
    )


def q_a7_bucket_metrics(spark, sf_dir):
    """Per-partition lineage metrics (SURVEY A7, north rule): docs, nodes,
    edges, triples per bucket.  The engine's pipeline buckets by
    xxhash64(doc_id); this oracle-checkable twin uses the md5-60 hash family
    (kgx.functions.hashing) so DuckDB reproduces the same buckets."""
    from kgx.functions import hashing

    g = _graphs(spark, sf_dir)
    bucket = F.expr(f"pmod({hashing.spark_md5_60('doc_id')}, 8)").cast("int")
    return (
        g.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count("*").alias("docs"),
            F.sum(F.size("nodes")).alias("nodes"),
            F.sum(F.size("edges")).alias("edges"),
            F.sum(F.size("triples")).alias("triples"),
        )
    )


# --- relational operator family (SURVEY §2.5 JN3/JN6, §2.6 A1-A3/A6,
# --- §2.7 W1-W3) over the TPC-H-ish tables ---------------------------------

def q_latest_event_per_user(spark, sf_dir):
    """Top-1-per-group window (latest-version lookup, SURVEY JN3/W2)."""
    from pyspark.sql.window import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("user_id", "event_id",
                F.expr("unix_micros(cast(ts as timestamp))").alias("ts_us"),
                "event_type", "value")
    )


def q_retention_tail(spark, sf_dir):
    """Delete-set beyond newest K per group (cleanup job, SURVEY A6/W3)."""
    from pyspark.sql.window import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where("rn > 3")
        .select("user_id", "event_id")
    )


def q_user_type_stats(spark, sf_dir):
    """Counts/sums/averages per group (SURVEY A1/A2). Money is quantized to
    integer cents so cross-engine float-summation order can't diverge."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n"),
        F.expr("cast(sum(cast(round(value * 100) as bigint)) as bigint)").alias("sum_cents"),
    ).select(
        "user_id", "event_type", "n", "sum_cents",
        ((F.col("sum_cents").cast("double") / F.lit(100.0)) / F.col("n")).alias("avg_value"),
    )


def q_customers_no_orders(spark, sf_dir):
    """Anti join (SURVEY JN6): customers with no URGENT orders (the
    all-orders variant is empty at every sf — a vacuous check)."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        "o_orderpriority = '1-URGENT'"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


def q_customers_with_orders(spark, sf_dir):
    """Semi join (SURVEY JN6, edge-endpoint validation shape P4)."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey").distinct()


def q_latest_order_per_customer(spark, sf_dir):
    """Max-per-group (next-version computation, SURVEY A3)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return o.groupBy("o_custkey").agg(
        F.max("o_orderkey").alias("max_orderkey"), F.count("*").alias("n_orders")
    )


def q_pricing_summary(spark, sf_dir):
    """Wide partial-aggregation scan (map-side combine; quantized sums)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.expr("cast(sum(cast(round(l_quantity * 100) as bigint)) as bigint)").alias("qty_cents"),
        F.expr("cast(sum(cast(round(l_extendedprice * 100) as bigint)) as bigint)").alias("price_cents"),
        F.expr("cast(sum(cast(round(l_discount * 10000) as bigint)) as bigint)").alias("disc_bp"),
    )


def q_a8_event_value_quantiles(spark, sf_dir):
    """Exact per-group quantiles (median/p90 via Spark's exact `percentile`,
    matching DuckDB's quantile_cont linear interpolation bit-for-bit on the
    same doubles), quantized to micro-units for the value hash.  Partial
    aggregation does NOT apply to exact percentiles — the group's values
    must co-locate — which is why the group key (event_type, 5 values) must
    be low-cardinality relative to the corpus; for high-cardinality keys
    use approx_percentile instead (not oracle-comparable)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.expr("cast(round(min(value) * 1000000) as bigint)").alias("min_u"),
        F.expr("cast(round(max(value) * 1000000) as bigint)").alias("max_u"),
        F.expr("cast(round(percentile(value, 0.5) * 1000000) as bigint)").alias("p50_u"),
        F.expr("cast(round(percentile(value, 0.9) * 1000000) as bigint)").alias("p90_u"),
    )


def q_a9_rollup_order_stats(spark, sf_dir):
    """Multi-dimensional rollup (status × priority → status → grand total)
    in one pass — Spark's Expand feeds a single partially-aggregated
    shuffle; integer cents keep the sums engine-exact.  NULL grouping
    columns are the rollup subtotal markers, coalesced to '∅' so the
    cross-engine hash compare is unambiguous."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.expr(
                "cast(sum(cast(round(o_totalprice * 100) as bigint)) as bigint)"
            ).alias("price_cents"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("∅")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("∅")).alias("priority"),
            "n_orders",
            "price_cents",
        )
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_kg_triples(spark, "/root/testdata/sf0.001")


#: The one query registry: ``(name, engine query, DuckDB oracle)`` rows.  The
#: oracle is a ``kgx.oracles`` function, or a ``partial`` of it carrying only
#: the arguments that differ from its defaults.  THE ORDER IS LOAD-BEARING:
#: the driver's correctness gate records the FIRST 50 rows only.
QUERIES = (
    ("kg_spans", q_kg_spans, O.spans_sql),
    ("kg_doc_text", q_kg_doc_text, O.doc_text_sql),
    ("kg_mentions", q_kg_mentions, O.mentions_sql),
    ("kg_nodes", q_kg_nodes, O.nodes_sql),
    ("kg_triples", q_kg_triples, O.triples_sql),
    ("link_canonical_map", q_link_canonical_map, O.canonical_map_sql),
    ("link_canonical_triples", q_link_canonical_triples, O.canonical_triples_sql),
    ("link_minhash_pairs", q_link_minhash_pairs, O.link_minhash_sql),
    ("dedup_exact", q_dedup_exact, O.dedup_exact_sql),
    ("dedup_jaccard_pairs", q_dedup_jaccard_pairs, O.dedup_jaccard_sql),
    ("dedup_minhash_lsh", q_dedup_minhash_lsh, O.dedup_minhash_sql),
    ("dedup_clusters", q_dedup_clusters, O.dedup_clusters_sql),
    ("dedup_simhash_pairs", q_dedup_simhash_pairs, O.dedup_simhash_sql),
    ("ann_topk", q_ann_topk, O.ann_topk_sql),
    ("ann_ivf_topk", q_ann_ivf_topk, partial(O.ann_ivf_sql, target_cell_size=32)),
    (
        "emb_near_dup_pairs",
        q_emb_near_dup_pairs,
        partial(O.emb_near_dup_sql, target_cell_size=32),
    ),
    ("text_stats", q_text_stats, O.text_stats_sql),
    ("quality_filter", q_quality_filter, partial(O.quality_filter_sql, min_tokens=20)),
    ("token_counts", q_token_counts, O.token_counts_sql),
    ("vocab_topk", q_vocab_topk, O.vocab_topk_sql),
    ("pii_scrub", q_pii_scrub, O.pii_scrub_sql),
    ("sentence_dedup", q_sentence_dedup, O.sentence_dedup_sql),
    ("sentence_prune", q_sentence_prune, O.sentence_prune_sql),
    ("curation_funnel", q_curation_funnel, O.curation_funnel_sql),
    ("funnel_export", q_funnel_export, O.funnel_export_sql),
    ("graph_degrees", q_graph_degrees, O.graph_degrees_sql),
    ("graph_pagerank", q_graph_pagerank, O.graph_pagerank_sql),
    ("graph_triangles", q_graph_triangles, O.graph_triangles_sql),
    ("balanced_sample", q_balanced_sample, O.balanced_sample_sql),
    ("contamination", q_contamination, partial(O.contamination_sql, n=3)),
    ("fingerprints_winnowed", q_fingerprints_winnowed, O.winnowed_fingerprints_sql),
    ("language_id", q_language_id, O.language_id_sql),
    ("video_decode_real", q_video_decode_real, O.video_decode_real_sql),
    ("media_inventory", q_media_inventory, O.media_inventory_sql),
    ("asof_last_click", q_asof_last_click, O.asof_last_click_sql),
    (
        "range_clicks_before_purchase",
        q_range_clicks_before_purchase,
        O.range_clicks_sql,
    ),
    ("sessions", q_sessions, partial(O.sessions_sql, gap_sec=21600)),
    ("w2_latest_event_per_user", q_latest_event_per_user, O.latest_event_sql),
    ("w3_retention_tail", q_retention_tail, O.retention_tail_sql),
    ("ann_ivfpq_topk", q_ann_ivfpq_topk, O.ann_ivfpq_sql),
    ("jn6_customers_no_orders", q_customers_no_orders, O.customers_no_orders_sql),
    ("s2_binary_ingest", q_s2_binary_ingest, O.binary_ingest_sql),
    ("graph_kcore", q_graph_kcore, O.graph_kcore_sql),
    ("a1_pricing_summary", q_pricing_summary, O.pricing_summary_sql),
    (
        "a8_event_value_quantiles",
        q_a8_event_value_quantiles,
        O.event_value_quantiles_sql,
    ),
    (
        "bloom_contamination",
        q_bloom_contamination,
        partial(O.bloom_contamination_sql, n=3),
    ),
    ("jn2_graph_fetch", q_jn2_graph_fetch, O.graph_fetch_sql),
    ("a7_bucket_metrics", q_a7_bucket_metrics, O.bucket_metrics_sql),
    ("fn_scalar_suite", q_fn_scalar_suite, O.scalar_suite_sql),
    ("p6_p8_text_gate", q_p6_p8_text_gate, O.text_gate_sql),
    # ---- end of the driver gate; the rotation remainder follows (docs/COVERAGE.md)
    ("j1_props_parse", q_j1_props_parse, O.props_parse_sql),
    ("j2_json_repair", q_j2_json_repair, O.json_repair_sql),
    ("j3_graph_coercion", q_j3_graph_coercion, O.graph_coercion_sql),
    ("p9_graph_checks", q_p9_graph_checks, O.graph_checks_sql),
    ("p10_media_security", q_p10_media_security, O.media_security_sql),
    ("s5_csv_prose", q_s5_csv_prose, O.csv_prose_sql),
    ("jn6_customers_with_orders", q_customers_with_orders, O.customers_with_orders_sql),
    ("s7_llm_fake_edges", q_s7_llm_fake_edges, O.llm_edges_sql),
    ("media_decode_real", q_media_decode_real, O.media_decode_real_sql),
    ("audio_decode_real", q_audio_decode_real, O.audio_decode_real_sql),
    ("video_frames_real", q_video_frames_real, O.video_frames_real_sql),
    ("media_resize_real", q_media_resize_real, O.media_resize_real_sql),
    ("fingerprints", q_fingerprints, O.fingerprints_sql),
    ("graph_label_prop", q_graph_label_prop, O.graph_label_prop_sql),
    ("graph_entity_pmi", q_graph_entity_pmi, O.entity_pmi_sql),
    ("a3_latest_order_per_customer", q_latest_order_per_customer, O.latest_order_sql),
    ("a9_rollup_order_stats", q_a9_rollup_order_stats, O.rollup_order_stats_sql),
    ("kg_version_diff", q_kg_version_diff, O.kg_version_diff_sql),
    ("graph_link_candidates", q_graph_link_candidates, O.graph_link_candidates_sql),
    ("kg_training_pairs", q_kg_training_pairs, O.kg_training_pairs_sql),
    ("kg_negative_samples", q_kg_negative_samples, O.kg_negative_samples_sql),
    ("emb_kmeans", q_emb_kmeans, partial(O.emb_kmeans_sql, target_cluster_size=64)),
    (
        "semdedup",
        q_semdedup,
        partial(O.semdedup_sql, min_cosine=0.4, target_cluster_size=64),
    ),
    (
        "inverted_postings",
        q_inverted_postings,
        partial(O.inverted_postings_sql, min_df=2, max_df=400),
    ),
    ("media_captions", q_media_captions, O.media_caption_pairs_sql),
    ("seq_pack_interleaved", q_seq_pack_interleaved, O.seq_pack_interleaved_sql),
    ("hll_registers", q_hll_registers, O.hll_registers_sql),
    (
        "cm_registers",
        q_cm_registers,
        partial(O.cm_registers_sql, col_expr="cast(user_id as varchar)"),
    ),
    ("bloom_registers", q_bloom_registers, partial(O.bloom_registers_sql, n=3)),
    ("hist_registers", q_hist_registers, O.hist_registers_sql),
    ("cm_heavy_hitters", q_cm_heavy_hitters, O.cm_heavy_hitters_sql),
    ("hll_by_group", q_hll_by_group, O.hll_grouped_sql),
    ("lm_trigram_counts", q_lm_trigram_counts, O.lm_ngram_counts_sql),
    ("seq_pack", q_seq_pack, O.seq_pack_sql),
    ("shard_manifest", q_shard_manifest, O.shard_manifest_sql),
    ("token_mix", q_token_mix, O.token_mix_sql),
    ("repetition_stats", q_repetition_stats, O.repetition_sql),
    ("bm25_topk", q_bm25_topk, partial(O.bm25_topk_sql, **BM25_GATE)),
    ("unigram_surprisal", q_unigram_surprisal, O.unigram_surprisal_sql),
    ("graph_random_walks", q_graph_random_walks, O.graph_random_walks_sql),
    ("walk_skipgram_pairs", q_walk_skipgram_pairs, O.walk_skipgram_pairs_sql),
    ("kg_transe_margin", q_kg_transe_margin, O.kg_transe_margin_sql),
    ("pq_codes", q_pq_codes, O.pq_codes_sql),
    ("pq_topk", q_pq_topk, O.pq_topk_sql),
    ("ann_recall", q_ann_recall, O.ann_recall_sql),
    ("graph_two_hop", q_graph_two_hop, O.graph_two_hop_sql),
    ("a2_user_type_stats", q_user_type_stats, O.user_type_stats_sql),
    ("graph_node2vec_walks", q_graph_node2vec_walks, O.node2vec_walks_sql),
    ("lsh_recall", q_lsh_recall, O.lsh_recall_sql),
    ("dataset_split", q_dataset_split, O.dataset_split_sql),
    ("kg_scd2_intervals", q_kg_scd2_intervals, O.kg_scd2_sql),
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered engine query, in ``QUERIES`` order (first 50 = the
    driver gate).  Each rotated-out row is verifiable in one command:
    ``python tools/compare_oracle.py /root/testdata/sf0.01 <name>``."""
    return {n: f for n, f, _ in QUERIES}


def oracle_sql() -> dict[str, str]:
    """The DuckDB oracle SQL of every ``QUERIES`` row, keyed by name."""
    return {n: o() for n, _, o in QUERIES}
