"""Document deduplication — exact groups, MinHash-LSH pairs and near-dup
clusters.

Core operators a 100 TB training-data pipeline needs in front of the KG
extractor (duplicate web pages would otherwise dominate both compute and the
resulting graph).  All variants are pure DataFrame/SQL built-ins — no Python
UDFs anywhere — and every hash is md5-derived so the DuckDB oracle reproduces
results bit-for-bit (kgx.functions.hashing).

Scale design:
- exact: one shuffle on a 60-bit text hash (not the text itself).
- MinHash-LSH: signatures are computed per-row with higher-order array
  functions (aggregate over the shingle array — zero shuffle), then ONE
  shuffle on (band, band_hash) buckets.  Candidates are verified with true
  Jaccard before reporting, so precision is exact and recall is the standard
  LSH s-curve.
- clusters: connected components over the verified LSH pairs, one
  canonical document per component.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgx.functions import hashing
from kgx.functions import plan as plan_fn
from kgx.functions.arrays import unordered_pairs


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_groups(documents: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, text_hash, canonical_doc_id, group_size).

    canonical = min doc_id per identical text.  The shuffle key is the 60-bit
    hash, so the exchange carries ~16 bytes/row regardless of document size.
    """
    h = documents.select(
        "doc_id", F.expr(hashing.spark_md5_60("text")).alias("text_hash")
    )
    grp = h.groupBy("text_hash").agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count("*").alias("group_size"),
    )
    return h.join(grp, "text_hash").select(
        "doc_id", "text_hash", "canonical_doc_id", "group_size"
    )


# ---------------------------------------------------------------------------
# shingles (shared by MinHash-LSH and the contamination screen)
# ---------------------------------------------------------------------------

def _toks_shingle_expr(n: int) -> str:
    """Distinct word n-gram shingle strings over a pre-materialized
    ``toks`` array attribute (:func:`_tokenized`).  Guarded: Spark's
    sequence(1, 0) would DESCEND, so docs shorter than ``n`` tokens
    short-circuit to an empty array.  Slice per element is an O(n)
    bound-array copy, so shingling is linear in document length."""
    return (
        f"CASE WHEN size(toks) < {n} THEN array() "
        f"ELSE array_distinct(transform(sequence(1, size(toks) - {n - 1}), "
        f"i -> array_join(slice(toks, i, {n}), ' '))) END"
    )


def _tokenized(documents: DataFrame, id_col: str) -> DataFrame:
    """(id_col, toks array<string>) — the split hoisted behind a
    materialization barrier (kgx.functions.plan.project_barrier) so shingle
    lambdas reference a bound attribute, never re-tokenizing per element."""
    from kgx.functions.plan import project_barrier

    return project_barrier(
        documents.selectExpr(id_col, "split(text, ' ') AS toks")
    )


def char_shingle_expr(col: str, n: int = 3) -> str:
    """Distinct character n-gram shingles of ``lower(col)`` padded with
    '^^'/'$$' (padding guarantees >= n chars, so no empty shingle sets and
    boundary characters weigh in — same scheme for short strings like entity
    labels in both engines)."""
    p = f"concat('^^', lower({col}), '$$')"
    return (
        f"array_distinct(transform(sequence(1, length({p}) - {n - 1}), "
        f"i -> substring({p}, i, {n})))"
    )


def shingle_table(documents: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle_hash) — exploded distinct word n-gram shingles,
    hashed to 60 bits."""
    return (
        _tokenized(documents, "doc_id")
        .select("doc_id", F.expr(_toks_shingle_expr(n)).alias("shingles"))
        .select("doc_id", F.explode("shingles").alias("shingle"))
        .select("doc_id", F.expr(hashing.spark_md5_60("shingle")).alias("shingle_hash"))
    )


# ---------------------------------------------------------------------------
# MinHash + banded LSH
# ---------------------------------------------------------------------------

def hashed_shingles(
    documents: DataFrame,
    n: int = 3,
    shingle_expr: str | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, hs array<bigint>) — the distinct-shingle hash SET per doc,
    one md5-60 per shingle, zero shuffle; docs with no shingles are dropped
    (shorter than n tokens)."""
    if shingle_expr is None:
        src = _tokenized(documents, id_col)
        expr = _toks_shingle_expr(n)
    else:
        src, expr = documents, shingle_expr
    return (
        src.select(id_col, F.expr(expr).alias("shingles"))
        .where(F.size("shingles") > 0)
        .select(
            id_col,
            F.expr(
                f"transform(shingles, s -> {hashing.spark_md5_60('s')})"
            ).alias("hs"),
        )
    )


def _signatures_from(sets_: DataFrame, num_hashes: int, id_col: str) -> DataFrame:
    """(id, sig array<bigint>) from a prebuilt (id, hs) hashed-shingle
    table — per-row computation, zero shuffle.

    One md5-60 base hash per shingle (:func:`hashed_shingles`), then the
    whole signature via the universal-hash family sig[s] = min over shingles
    of (a_s * h + b_s) mod p (kgx.functions.hashing.minhash_derived) — 16x
    fewer md5 evaluations than hashing each (seed, shingle) pair.  Taking
    the hashed table lets minhash_lsh_pairs derive sigs AND verification
    sets from ONE evaluation of the shingle pipeline."""
    mins = ", ".join(
        "aggregate(hs, cast(9223372036854775807 as bigint), "
        f"(acc, x) -> least(acc, {hashing.minhash_derived('x', s)}))"
        for s in range(num_hashes)
    )
    return sets_.select(id_col, F.expr(f"array({mins})").alias("sig"))


def minhash_lsh_pairs(
    documents: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int = 200,
    shingle_expr: str | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Banded-LSH candidate generation + exact Jaccard verification.

    Output: (doc_a, doc_b, jaccard) — LSH-candidate pairs whose TRUE n-gram
    Jaccard ≥ threshold.  One shuffle to bucket, one to verify.

    ``max_bucket`` is the LSH skew guard: a band bucket holding more than
    that many documents is a low-information collision (common min-shingles),
    and its within-bucket pair count grows quadratically — it is dropped
    before pair enumeration.  True near-duplicates still collide in their
    other (b-1) discriminative bands, and every surviving candidate is
    verified with exact Jaccard anyway.

    Plan shape (reworked in round 2 after stage profiling): the signature
    pipeline is evaluated ONCE — buckets come from a single
    groupBy(band, band_hash) + collect_list whose in-bucket pairs are
    enumerated with array higher-order functions (bounded by
    ``max_bucket``² per bucket), replacing the earlier bucket SELF-JOIN
    that re-evaluated the signature plan on both sides; verification
    carries each candidate's distinct-shingle hash array (identical set to
    the old exploded shingle_table) and computes exact Jaccard with
    ``array_intersect`` on the candidate rows only, replacing three more
    full re-evaluations of the shingle pipeline (sizes + two exploded join
    sides).  Same output bit-for-bit, ~4× less work: the corpus-wide cost
    is one shingle+hash pass and one minhash pass, and the only shuffles
    carry (band, band_hash, id) buckets and candidate-id arrays.
    """
    rows = num_hashes // bands
    # pinned: the signature aggregate and both verification join sides
    # read the (id, hs) table, each exchanging on a different key; A/B at
    # sf0.1, 6 rounds: minima 3.26 s pinned vs 3.58 s lazy
    sets_all = plan_fn.materialize(
        hashed_shingles(documents, n, shingle_expr, id_col)
    )
    sigs = _signatures_from(sets_all, num_hashes, id_col)
    banded = sigs.select(
        id_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), b -> "
                f"md5(array_join(transform(slice(sig, b * {rows} + 1, {rows}), "
                f"v -> cast(v as string)), '_')))"
            )
        ).alias("band", "band_hash"),
    )
    buckets = (
        banded.groupBy("band", "band_hash")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .where((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    cands = (
        buckets.select(
            F.explode(
                F.expr(unordered_pairs("ids", "named_struct('doc_a', x, 'doc_b', y)"))
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    # exact-Jaccard verification restricted to the candidate pairs — the
    # whole point of LSH is to never materialize the full similarity join.
    # hs is a distinct set by construction (both shingle expressions
    # array_distinct before hashing), so array_intersect sizes equal the
    # old relational hash-equality join counts.  Both sides read the (materialized)
    # shingle table built above — not a fresh pipeline.
    sa = sets_all.select(F.col(id_col).alias("doc_a"), F.col("hs").alias("ha"))
    sb = sets_all.select(F.col(id_col).alias("doc_b"), F.col("hs").alias("hb"))
    stats = (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr("size(array_intersect(ha, hb))").cast("long").alias("inter"),
            F.expr("size(ha)").cast("long").alias("na"),
            F.expr("size(hb)").cast("long").alias("nb"),
        )
    )
    # project_barrier pins `inter`: without it CollapseProject inlines the
    # array_intersect into the jaccard filter (which Catalyst then fuses
    # into the join CONDITION), evaluating the O(na+nb) set-build up to 4×
    # per candidate row — measured 3.5-6.4 s → 2.3-2.8 s at sf0.1, where
    # boilerplate band collisions make |candidates| ≈ 116k (round-5 plan
    # audit; same trap class as the winnowed-fingerprint HOF fix).
    return (
        plan_fn.project_barrier(stats)
        .withColumn("jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def near_dup_clusters(
    documents: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int = 200,
) -> DataFrame:
    """Corpus-level near-duplicate clustering: MinHash-LSH pairs →
    connected components → one canonical document per cluster.

    This is the "dedup the corpus" end-to-end: near-dup similarity is not
    transitive (A~B, B~C does not imply A~C above threshold), so pairwise
    output alone under-removes; the standard resolution (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better") is to take
    connected components of the near-dup graph and keep one representative
    per component.  Output covers EVERY document:

        (doc_id, canonical_doc_id, cluster_size, is_duplicate)

    with ``canonical_doc_id`` = minimum doc_id of the cluster,
    singletons mapping to themselves, ``is_duplicate`` marking the rows a
    keep-one policy would drop.

    Scale shape: the pair graph is LSH-bucketed and Jaccard-verified
    (sparse — |pairs| ≪ |corpus|), CC runs on that graph only (driver
    union-find below the edge threshold, large-star/small-star above), and
    the map back to the corpus is a plain doc_id equi-join AQE can
    broadcast when the component map is small.  The window count shuffles
    only (doc_id, canonical_doc_id) pairs, never text.
    """
    from kgx.operators.linking import connected_components

    pairs = minhash_lsh_pairs(
        documents, n, num_hashes, bands, threshold, max_bucket
    )
    edges = pairs.select(
        F.col("doc_a").alias("src_label"), F.col("doc_b").alias("dst_label")
    )
    cc = connected_components(edges).withColumnRenamed("label", "doc_id")
    from pyspark.sql import Window

    mapped = (
        documents.select("doc_id")
        .join(cc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("canonical_doc_id"),
        )
    )
    w = Window.partitionBy("canonical_doc_id")
    return mapped.select(
        "doc_id",
        "canonical_doc_id",
        F.count("*").over(w).alias("cluster_size"),
        (F.col("doc_id") != F.col("canonical_doc_id")).alias("is_duplicate"),
    )

