"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG pipeline (documents → interleaved
spans → Arrow-batched extraction → label-resolved triples) at sf0.001.
``QUERIES`` is the one query registry: every implemented operator from
SURVEY.md §2 over the driver testdata, paired with its DuckDB-equivalent SQL
generated from the same pattern tables the engine executes (kgx.oracles).
A row is ``(name, input, op, params, oracle)``: the engine query is
``op(input(spark, sf_dir), **params)`` and the oracle SQL is
``oracle(**params)``, so each parameter is written once.  ``queries()`` and
``oracle_sql()`` are its two driver views.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kgx import oracles as O
from kgx.functions import hashing
from kgx.functions.plan import materialize
from kgx.operators import (
    curation, dedup, extract, graphstats, jsonio, linking, media, packing,
    security, spans as spans_op, textstats, validate,
)
from kgx.plans import versions
from kgx.plans.curation_pipeline import (
    CurationConfig, clear_funnel_cache, funnel_final,
)
from kgx.sources import binary, corpus, docs as docs_src, llm


# ---------------------------------------------------------------------------
# inputs: (spark, sf_dir) → the frame a row's op reads
# ---------------------------------------------------------------------------

def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return docs_src.load_documents(spark, sf_dir)


def _narrative(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus.narrative_documents(_documents(spark, sf_dir))


def _spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return docs_src.spans_table(_narrative(spark, sf_dir))


def _location(spark: SparkSession, sf_dir: str) -> tuple[SparkSession, str]:
    """The session and sf dir themselves, for queries over several tables."""
    return spark, sf_dir


def _table(name: str) -> Callable[[SparkSession, str], DataFrame]:
    """One sf-dir table as scanned: a single split per file."""
    return lambda spark, sf_dir: spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _then(src: Callable, op: Callable) -> Callable[[SparkSession, str], DataFrame]:
    """``op`` over the frame of input ``src``."""
    return lambda spark, sf_dir: op(src(spark, sf_dir))


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
    _evict_graphs()
    clear_funnel_cache()


def _graphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

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


_triples = _then(_graphs, extract.triples_table)
_nodes = _then(_graphs, extract.nodes_table)
_labels = _then(_nodes, linking.distinct_labels)
_flat_spans = _then(_spans, spans_op.explode_spans)
_media = _then(_flat_spans, media.media_inventory)
_image_blobs = _then(_media, media.synthesize_media_blobs)
_audio_blobs = _then(_media, media.synthesize_audio_blobs)
_video_blobs = _then(_media, media.synthesize_video_blobs)
_events = _table("events")


# ---------------------------------------------------------------------------
# queries that compose more than one operator
# ---------------------------------------------------------------------------

def q_kg_doc_text(flat: DataFrame) -> DataFrame:
    """Span-order invariant under forced shuffle (SURVEY §2.7 W5): explode →
    repartition → offset-sorted reassembly → rebuild text."""
    rebuilt = spans_op.reassemble_spans(flat.repartition(16))
    return spans_op.with_doc_text(rebuilt).select("doc_id", "doc_text")


def q_kg_mentions(g: DataFrame) -> DataFrame:
    """Mention detect → stop-word filter → first-occurrence dedup → cap 15
    (SURVEY §2.2 P1-P3, §2.3 R2)."""
    return g.select("doc_id", F.posexplode("nodes").alias("pos", "n")).select(
        "doc_id",
        F.col("n.label").alias("label"),
        (F.col("pos") + 1).cast("int").alias("mention_rank"),
    )


def q_link_canonical_triples(g: DataFrame) -> DataFrame:
    """Triples rewritten through the canonical map + dedup (SURVEY §2.12);
    the shared extraction cache feeds both the map and the rewrite."""
    cmap = linking.canonical_map(extract.nodes_table(g))
    return linking.canonical_triples(extract.triples_table(g), cmap)


def q_pii_scrub(docs: DataFrame) -> DataFrame:
    """PII redaction over a planted-PII fixture: the driver corpus is clean
    word salad, so the fixture suffix (one dialect-neutral SQL string shared
    with the oracle) plants deterministic PII in 2 of 3 docs."""
    return curation.pii_scrub(
        docs.selectExpr("doc_id", curation.pii_fixture_expr() + " AS text")
    )


def q_curation_funnel(
    narrative: DataFrame, min_tokens: int, max_symbol_ratio: float
) -> DataFrame:
    """The five-stage curation funnel (quality → exact dedup → near-dup
    keep-one → PII scrub → sentence prune) as one DataFrame."""
    cfg = CurationConfig(
        out_dir="", min_tokens=min_tokens,
        quality_kwargs={"max_symbol_ratio": max_symbol_ratio},
    )
    return funnel_final(narrative, cfg)


def q_funnel_export(
    narrative: DataFrame, n_shards: int, capacity: int, min_tokens: int,
    max_symbol_ratio: float,
) -> DataFrame:
    """The funnel's survivors flow into the per-shard manifest and the
    concat-then-chunk packing window: per shard docs/tokens/chars/checksum
    plus the packed-sequence count and the docs that span a chunk boundary."""
    curated = q_curation_funnel(narrative, min_tokens, max_symbol_ratio)
    man = packing.shard_manifest(curated, n_shards=n_shards)
    pack = packing.seq_pack(curated, capacity=capacity, n_shards=n_shards)
    pstats = pack.groupBy("shard").agg(
        (F.max("last_seq") + 1).cast("long").alias("n_seqs"),
        F.sum((F.col("n_seqs") > 1).cast("long")).cast("long").alias("spanning_docs"),
    )
    return man.join(pstats, "shard")


def q_walk_skipgram_pairs(
    triples: DataFrame, length: int, walks_per_node: int, seed: int, window: int
) -> DataFrame:
    """Skip-gram (center, context) pair counts over the uniform walk corpus."""
    walks = graphstats.node2vec_walks(
        triples, length=length, walks_per_node=walks_per_node, seed=seed,
        w_return=1, w_near=1, w_far=1,
    )
    return graphstats.walk_skipgram_pairs(walks, window=window)


def q_graph_kcore(triples: DataFrame, k: int, max_rounds: int) -> DataFrame:
    """The k-core the graph-stats job writes, peeled for at most
    ``max_rounds`` rounds (the round count is the job's metric, not a row)."""
    return graphstats.kcore_fixpoint(triples, k=k, max_rounds=max_rounds)[0]


def q_kg_transe_margin(
    triples: DataFrame, k: int, buckets: int, dim: int, modulus: int
) -> DataFrame:
    """Per-predicate TransE energy audit of the composed training set."""
    pairs = graphstats.training_pairs(triples, k=k, buckets=buckets)
    return graphstats.transe_margin(pairs, dim=dim, modulus=modulus)


#: Two simulated earlier pipeline runs as slices of one extraction: the old
#: run pre-dates the `acquired` pattern and misses doc_id % 3 = 0, the new
#: run retired doc_id % 5 = 4 (doc_id = 'doc-<n>').
_DNUM = "cast(substr(doc_id, 5) as bigint)"
_OLD_RUN = f"pred != 'acquired' AND {_DNUM} % 3 != 0"
_NEW_RUN = f"{_DNUM} % 5 != 4"


def q_kg_version_diff(triples: DataFrame) -> DataFrame:
    """Snapshot changelog between the old and the new run: one full-outer
    join on the triple key; 'added'/'removed' rows are the MERGE delta."""
    return versions.snapshot_diff(
        triples.where(_OLD_RUN), triples.where(_NEW_RUN),
        ["doc_id", "subj", "pred", "obj"],
    )


def q_kg_scd2_intervals(triples: DataFrame) -> DataFrame:
    """SCD2 validity intervals over the old, new and current runs stamped
    run_seq 1..3."""
    t = materialize(triples)
    runs = (
        t.where(_OLD_RUN)
        .withColumn("run_seq", F.lit(1).cast("long"))
        .unionByName(t.where(_NEW_RUN).withColumn("run_seq", F.lit(2).cast("long")))
        .unionByName(t.withColumn("run_seq", F.lit(3).cast("long")))
    )
    return versions.scd2_intervals(runs)


def q_balanced_sample(docs: DataFrame) -> DataFrame:
    """Balance-to-minority sampling over the domain fixture strata."""
    strata = docs.selectExpr("doc_id", curation.DOMAIN_FIXTURE_EXPR + " AS stratum")
    return curation.balanced_sample(docs, strata)


# --- JSON ops / validation / CSV-prose (SURVEY §2.4, §2.2 P7-P9, §2.1 S5) --

def q_j1_props_parse(ev: DataFrame) -> DataFrame:
    """JSON scalar parse (SURVEY J1) — from_json/get_json_object, no UDF."""
    return ev.select(
        "event_id",
        F.expr("cast(get_json_object(props, '$.k') as int)").alias("k"),
    )


def q_j3_graph_coercion(ev: DataFrame) -> DataFrame:
    """JSON graph parse + default coercion + endpoint validation (SURVEY
    J1/J3/P4): deterministic graph JSON built per event; 1-in-3 edges
    reference a missing node and must be dropped."""
    ev = ev.select(
        "event_id", F.expr("cast(get_json_object(props, '$.k') as int)").alias("k")
    )
    j = ev.withColumn(
        "graph_json", F.expr(O.GRAPH_JSON_EXPR.format(k="cast(k as string)"))
    )
    coerced = jsonio.coerce_graph(jsonio.parse_graph_json(j, "graph_json"))
    return coerced.select(
        "event_id",
        F.size("nodes").cast("int").alias("n_nodes"),
        F.size("edges").cast("int").alias("n_edges"),
        F.expr("array_join(transform(nodes, n -> n.type), ',')").alias("node_types"),
        F.expr("array_join(transform(edges, e -> e.relationship), ',')").alias("rels"),
    )


def q_j2_json_repair(ev: DataFrame) -> DataFrame:
    """LLM-style JSON repair chain (SURVEY J2): bare keys/values + trailing
    commas + prose prefix → valid JSON, both engines running the same
    regexp_replace cascade rendered per dialect."""
    ev = ev.select(
        "event_id", F.expr("cast(get_json_object(props, '$.k') as int)").alias("k")
    )
    broken = O.BROKEN_JSON_EXPR.replace("{k}", "k")
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


def q_p10_media_security(inv: DataFrame) -> DataFrame:
    """File-security predicates (SURVEY P10) over media refs with planted
    dangerous/suspicious/unknown-extension variants."""
    variant = O._P10_VARIANT.format(dot=r"\\.", flag="")
    refs = inv.select("doc_id", "span_pos", F.expr(variant).alias("media_ref"))
    out = security.classify_refs(refs)
    return out.withColumnRenamed("media_ref", "ref")


def q_s5_csv_prose(c: DataFrame, rows_per_doc: int) -> DataFrame:
    """Reference CSV semantics: rows flattened to comma-joined prose lines,
    batched into documents (SURVEY S5; reference services.py:55-62)."""
    line = (
        "concat_ws(', ', cast(c_custkey as string), c_name, "
        "cast(c_nationkey as string), cast(c_acctbal as string), c_mktsegment)"
    )
    return (
        c.select(
            F.expr(f"c_custkey div {rows_per_doc}").alias("prose_doc_id"),
            F.struct(F.col("c_custkey").alias("k"), F.expr(line).alias("l")).alias("s"),
        )
        .groupBy("prose_doc_id")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list(s)), x -> x.l), '\n')"
            ).alias("text")
        )
    )


def q_s7_llm_fake_edges(sp: DataFrame) -> DataFrame:
    """S7/S8 LLM source through its full downstream path: fake responder →
    fence strip + parse → coercion → endpoint validation → exploded
    (src, dst, relationship) edges, so the whole LLM plumbing chain is
    value-hash-checked, not just unit-tested."""
    docs = spans_op.with_doc_text(sp).select("doc_id", "doc_text")
    g = llm.llm_graphs(docs, fake=True)
    return g.select("doc_id", F.explode("edges").alias("e")).select(
        "doc_id",
        F.col("e.source").alias("src"),
        F.col("e.target").alias("dst"),
        F.col("e.relationship").alias("relationship"),
    )


def q_s2_binary_ingest(at: tuple[SparkSession, str], max_doc_id: int) -> DataFrame:
    """S2/S3 binary-file ingest (reference services.py:20-62): documents
    materialized as raw files, scanned with binaryFile and text-extracted
    through the extension-dispatched parser registry in one Arrow
    crossing."""
    spark, sf_dir = at
    fix_dir = binary.ensure_binary_fixture(sf_dir, max_doc_id=max_doc_id)
    files = binary.load_binary_docs(spark, fix_dir, glob="doc_*")
    return binary.extract_binary_text(files)


def q_jn2_graph_fetch(g: DataFrame) -> DataFrame:
    """JN2 graph fetch + A4 list assembly + W1 ordering (reference
    database_service.py:175-235): every document with its ordered node and
    triple lists, empty graphs kept with zero counts.  The extraction output
    already carries the per-doc arrays in n1..n15 order, so this is one
    zero-exchange projection."""
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


def q_fn_scalar_suite(d: DataFrame) -> DataFrame:
    """§2.9 scalar-function family in one projection: sha2/md5 content hashes
    (security.py:284-294, 258), 2000-char prompt truncation (services.py:375),
    regexp_replace sanitizer (validators.py:76), concat_ws update-path append
    (main.py:235), lower/trim normalization. Zero shuffles."""
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


def q_p6_p8_text_gate(d: DataFrame) -> DataFrame:
    """P6/P8 ingest predicates (empty short-circuit services.py:81-83; 1 MB
    cap validators.py:392-412) over deterministically planted empty /
    whitespace-only / oversize variants."""
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


def q_a7_bucket_metrics(g: DataFrame) -> DataFrame:
    """Per-partition lineage metrics (SURVEY A7, north rule): docs, nodes,
    edges, triples per bucket.  The engine's pipeline buckets by
    xxhash64(doc_id); this oracle-checkable twin uses the md5-60 hash family
    (kgx.functions.hashing) so DuckDB reproduces the same buckets."""
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

def q_latest_event_per_user(ev: DataFrame) -> DataFrame:
    """Top-1-per-group window (latest-version lookup, SURVEY JN3/W2)."""
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("user_id", "event_id",
                F.expr("unix_micros(cast(ts as timestamp))").alias("ts_us"),
                "event_type", "value")
    )


def q_retention_tail(ev: DataFrame, keep: int) -> DataFrame:
    """Delete-set beyond newest K per group (cleanup job, SURVEY A6/W3)."""
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(f"rn > {keep}")
        .select("user_id", "event_id")
    )


def q_user_type_stats(ev: DataFrame) -> DataFrame:
    """Counts/sums/averages per group (SURVEY A1/A2). Money is quantized to
    integer cents so cross-engine float-summation order can't diverge."""
    return ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n"),
        F.expr("cast(sum(cast(round(value * 100) as bigint)) as bigint)").alias("sum_cents"),
    ).select(
        "user_id", "event_type", "n", "sum_cents",
        ((F.col("sum_cents").cast("double") / F.lit(100.0)) / F.col("n")).alias("avg_value"),
    )


def q_customers_no_orders(at: tuple[SparkSession, str]) -> DataFrame:
    """Anti join (SURVEY JN6): customers with no URGENT orders (the
    all-orders variant is empty at every sf — a vacuous check)."""
    spark, sf_dir = at
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        "o_orderpriority = '1-URGENT'"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


def q_customers_with_orders(at: tuple[SparkSession, str]) -> DataFrame:
    """Semi join (SURVEY JN6, edge-endpoint validation shape P4)."""
    spark, sf_dir = at
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey").distinct()


def q_latest_order_per_customer(o: DataFrame) -> DataFrame:
    """Max-per-group (next-version computation, SURVEY A3)."""
    return o.groupBy("o_custkey").agg(
        F.max("o_orderkey").alias("max_orderkey"), F.count("*").alias("n_orders")
    )


def q_pricing_summary(li: DataFrame) -> DataFrame:
    """Wide partial-aggregation scan (map-side combine; quantized sums)."""
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.expr("cast(sum(cast(round(l_quantity * 100) as bigint)) as bigint)").alias("qty_cents"),
        F.expr("cast(sum(cast(round(l_extendedprice * 100) as bigint)) as bigint)").alias("price_cents"),
        F.expr("cast(sum(cast(round(l_discount * 10000) as bigint)) as bigint)").alias("disc_bp"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    q_kg_triples = queries()["kg_triples"]
    return q_kg_triples(spark, "/root/testdata/sf0.001")


#: the MinHash-LSH parameters of the two near-dup rows
_MINHASH = dict(num_hashes=16, bands=8, threshold=0.5, max_bucket=200)

#: The one query registry: ``(name, input, op, params, oracle)`` rows.  A
#: parameter that exists on one side only (a dialect's column expression, a
#: fixed key column) is bound there with ``partial``.  THE ORDER IS
#: LOAD-BEARING: the driver's correctness gate records the FIRST 50 rows only.
QUERIES = (
    ("kg_spans", _spans, spans_op.explode_spans, {}, O.spans_sql),
    ("kg_doc_text", _flat_spans, q_kg_doc_text, {}, O.doc_text_sql),
    ("kg_mentions", _graphs, q_kg_mentions, {}, O.mentions_sql),
    ("kg_nodes", _graphs, extract.nodes_table, {}, O.nodes_sql),
    ("kg_triples", _graphs, extract.triples_table, {}, O.triples_sql),
    ("link_canonical_map", _nodes, linking.canonical_map, {}, O.canonical_map_sql),
    ("link_canonical_triples", _graphs, q_link_canonical_triples, {},
     O.canonical_triples_sql),
    ("link_minhash_pairs", _labels, linking.minhash_edges, dict(min_jaccard=0.7),
     O.link_minhash_sql),
    ("dedup_exact", _documents, dedup.exact_groups, {}, O.dedup_exact_sql),
    ("dedup_minhash_lsh", _documents, dedup.minhash_lsh_pairs, _MINHASH,
     O.dedup_minhash_sql),
    ("dedup_clusters", _documents, dedup.near_dup_clusters, _MINHASH,
     O.dedup_clusters_sql),
    ("text_stats", _documents, textstats.text_stats, {}, O.text_stats_sql),
    ("quality_filter", _documents, textstats.quality_filter,
     dict(min_tokens=20, max_tokens=100_000, min_mean_word_len=3.0,
          max_mean_word_len=10.0, max_symbol_ratio=0.1, min_unique_ratio=0.3,
          min_stop_hits=2),
     partial(O.quality_filter_sql, src="documents")),
    ("token_counts", _documents, textstats.token_counts, {}, O.token_counts_sql),
    ("vocab_topk", _documents, textstats.vocab_topk, dict(k=200), O.vocab_topk_sql),
    ("pii_scrub", _documents, q_pii_scrub, {}, O.pii_scrub_sql),
    ("sentence_dedup", _narrative, curation.sentence_dedup_stats, {},
     O.sentence_dedup_sql),
    ("sentence_prune", _narrative, curation.sentence_prune, {}, O.sentence_prune_sql),
    ("curation_funnel", _narrative, q_curation_funnel,
     dict(min_tokens=20, max_symbol_ratio=0.2), O.curation_funnel_sql),
    ("funnel_export", _narrative, q_funnel_export,
     dict(n_shards=8, capacity=128, min_tokens=20, max_symbol_ratio=0.2),
     O.funnel_export_sql),
    ("graph_degrees", _triples, graphstats.degree_stats, {}, O.graph_degrees_sql),
    ("graph_pagerank", _triples, graphstats.pagerank,
     dict(iters=5, scale=10**9, damping_bp=8500), O.graph_pagerank_sql),
    # the narrative KG is near-bipartite, so ~0 triangles is right here;
    # test_graphstats covers planted triangles
    ("graph_triangles", _triples, graphstats.triangle_counts, {},
     O.graph_triangles_sql),
    ("balanced_sample", _documents, q_balanced_sample, {}, O.balanced_sample_sql),
    # n=3 suits this corpus' tiny vocabulary; eval screens use 8-13-grams
    ("contamination", _documents, curation.contamination_screen,
     dict(bench_mod=19, n=3), O.contamination_sql),
    ("fingerprints_winnowed", _documents, textstats.winnowed_fingerprints,
     dict(k=8, window=4), O.winnowed_fingerprints_sql),
    ("language_id", _documents, textstats.language_id, {}, O.language_id_sql),
    ("video_decode_real", _video_blobs, media.decode_video_bytes, {},
     O.video_decode_real_sql),
    ("media_inventory", _flat_spans, media.media_inventory, {}, O.media_inventory_sql),
    ("w2_latest_event_per_user", _events, q_latest_event_per_user, {},
     O.latest_event_sql),
    ("w3_retention_tail", _events, q_retention_tail, dict(keep=3),
     O.retention_tail_sql),
    ("jn6_customers_no_orders", _location, q_customers_no_orders, {},
     O.customers_no_orders_sql),
    ("s2_binary_ingest", _location, q_s2_binary_ingest, dict(max_doc_id=400),
     O.binary_ingest_sql),
    ("graph_kcore", _triples, q_graph_kcore, dict(k=2, max_rounds=4),
     O.graph_kcore_sql),
    ("a1_pricing_summary", _table("lineitem"), q_pricing_summary, {},
     O.pricing_summary_sql),
    ("jn2_graph_fetch", _graphs, q_jn2_graph_fetch, {}, O.graph_fetch_sql),
    ("a7_bucket_metrics", _graphs, q_a7_bucket_metrics, {}, O.bucket_metrics_sql),
    ("fn_scalar_suite", _documents, q_fn_scalar_suite, {}, O.scalar_suite_sql),
    ("p6_p8_text_gate", _documents, q_p6_p8_text_gate, {}, O.text_gate_sql),
    ("j1_props_parse", _events, q_j1_props_parse, {}, O.props_parse_sql),
    ("j2_json_repair", _events, q_j2_json_repair, {}, O.json_repair_sql),
    ("j3_graph_coercion", _events, q_j3_graph_coercion, {}, O.graph_coercion_sql),
    ("p9_graph_checks", _graphs, validate.graph_checks, {}, O.graph_checks_sql),
    ("p10_media_security", _media, q_p10_media_security, {}, O.media_security_sql),
    ("s5_csv_prose", _table("customer"), q_s5_csv_prose, dict(rows_per_doc=50),
     O.csv_prose_sql),
    ("jn6_customers_with_orders", _location, q_customers_with_orders, {},
     O.customers_with_orders_sql),
    ("s7_llm_fake_edges", _spans, q_s7_llm_fake_edges, {}, O.llm_edges_sql),
    ("media_decode_real", _image_blobs, media.decode_media_bytes, {},
     O.media_decode_real_sql),
    ("audio_decode_real", _audio_blobs, media.decode_audio_bytes, {},
     O.audio_decode_real_sql),
    ("video_frames_real", _video_blobs, media.video_frame_means, {},
     O.video_frames_real_sql),
    # ---- end of the driver gate; the rotation remainder follows (docs/COVERAGE.md)
    ("media_resize_real", _image_blobs, media.resize_media_real,
     dict(max_w=8, max_h=8), O.media_resize_real_sql),
    ("fingerprints", _documents, textstats.fingerprints, {}, O.fingerprints_sql),
    ("graph_label_prop", _triples, graphstats.label_propagation, dict(iters=3),
     O.graph_label_prop_sql),
    ("a3_latest_order_per_customer", _table("orders"), q_latest_order_per_customer,
     {}, O.latest_order_sql),
    ("kg_version_diff", _triples, q_kg_version_diff, {}, O.kg_version_diff_sql),
    ("kg_training_pairs", _triples, graphstats.training_pairs, dict(k=2, buckets=64),
     O.kg_training_pairs_sql),
    ("kg_negative_samples", _triples, graphstats.negative_samples,
     dict(k=2, buckets=64), O.kg_negative_samples_sql),
    ("media_captions", _flat_spans, media.media_caption_pairs, {},
     O.media_caption_pairs_sql),
    # media spans cost a fixed vision-encoder budget: 576 = 24x24 patches
    ("seq_pack_interleaved", _spans, packing.seq_pack_interleaved,
     dict(capacity=4096, n_shards=8, media_token_cost=576),
     O.seq_pack_interleaved_sql),
    ("seq_pack", _documents, packing.seq_pack, dict(capacity=128, n_shards=8),
     O.seq_pack_sql),
    ("shard_manifest", _documents, packing.shard_manifest, dict(n_shards=8),
     O.shard_manifest_sql),
    ("token_mix", _documents, packing.token_mix_plan, {}, O.token_mix_sql),
    ("repetition_stats", _documents, textstats.repetition_stats,
     dict(top_n=2, dup_n=3), O.repetition_sql),
    # equal weights: uniform DeepWalk steps
    ("graph_random_walks", _triples,
     partial(graphstats.node2vec_walks, w_return=1, w_near=1, w_far=1),
     dict(length=4, walks_per_node=2, seed=0), O.graph_random_walks_sql),
    ("walk_skipgram_pairs", _triples, q_walk_skipgram_pairs,
     dict(length=4, walks_per_node=2, seed=0, window=2), O.walk_skipgram_pairs_sql),
    ("kg_transe_margin", _triples, q_kg_transe_margin,
     dict(k=2, buckets=64, dim=8, modulus=1024), O.kg_transe_margin_sql),
    ("a2_user_type_stats", _events, q_user_type_stats, {}, O.user_type_stats_sql),
    ("graph_node2vec_walks", _triples, graphstats.node2vec_walks,
     dict(length=4, walks_per_node=2, seed=0, w_return=1, w_near=4, w_far=2),
     O.node2vec_walks_sql),
    ("dataset_split", _documents, curation.dataset_split,
     dict(val_bp=500, test_bp=500, strat_col="source", seed="split"),
     O.dataset_split_sql),
    ("kg_scd2_intervals", _triples, q_kg_scd2_intervals, {}, O.kg_scd2_sql),
)


def _query(src: Callable, op: Callable, params: dict) -> Callable:
    return lambda spark, sf_dir: op(src(spark, sf_dir), **params)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered engine query, in ``QUERIES`` order (first 50 = the
    driver gate).  Each rotated-out row is verifiable in one command:
    ``python tools/compare_oracle.py /root/testdata/sf0.01 <name>``."""
    return {n: _query(src, op, params) for n, src, op, params, _ in QUERIES}


def oracle_sql() -> dict[str, str]:
    """The DuckDB oracle SQL of every ``QUERIES`` row, keyed by name."""
    return {n: oracle(**params) for n, _, _, params, oracle in QUERIES}
