"""Entity linking & canonicalization (north-star NEW operators).

The reference never merges entities across documents — node ids are per-doc
(reference models.py:49-68).  At 10^12-doc scale the same real-world entity
surfaces under many labels ("Acme Corporation", "Acme Corp", "Acme Inc"), so
the north star adds:

1. alias-dictionary candidates — broadcast equi-join on normalized stems
   (SURVEY §2.5 JN4)
2. MinHash-LSH similarity candidates over character shingles
   (SURVEY §2.5 JN5; the same md5-derived universal-hash MinHash + banded
   LSH machinery as kgx.operators.dedup — deterministic and DuckDB-oracle
   reproducible)
3. connected-components merge over the candidate edge list via the
   large-star/small-star algorithm (Kiveris et al., "Connected Components in
   MapReduce and Beyond") — pure DataFrame self-joins + aggregations, pinned
   per round to truncate lineage; converges in
   O(log n) rounds, no GraphFrames dependency
4. content-derived canonical ids (sha2 of the component-minimum label) —
   stable across runs/partitions, never ``monotonically_increasing_id``.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructField, StructType

from kgx.functions.plan import materialize

#: org-suffix vocabulary used by the deterministic alias normalizer; matches
#: the corpus generator's org name shapes plus common real-world suffixes.
ORG_SUFFIXES = (
    "corporation", "corp", "incorporated", "inc", "systems", "ltd", "llc", "company", "co",
)

_SUFFIX_RX = r"\s+(?:" + "|".join(ORG_SUFFIXES) + r")\.?$"


def normalized_stem(col):
    """lower → strip one trailing org suffix → collapse whitespace."""
    c = F.lower(col)
    c = F.regexp_replace(c, _SUFFIX_RX, "")
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def distinct_labels(nodes: DataFrame) -> DataFrame:
    """(doc_id, node_id, label, ...) → one row per distinct label string.
    This is the dedup that makes linking scale: downstream joins operate on
    |unique labels| (≪ |nodes| at corpus scale)."""
    return nodes.select("label").distinct()


def alias_edges(labels: DataFrame) -> DataFrame:
    """Alias-dictionary candidate edges: labels sharing a normalized stem,
    as a star from each stem's minimum label.  A stem shared by k labels
    gives k−1 edges, not the k(k−1)/2 pairs of a stem self-join, and
    connected components see the same components.

    The stem join carries only (label, stem) rows, but "unique entity
    names" is billions of rows on a web-scale corpus, so no broadcast hint is
    forced here: with AQE enabled (kgx.session) Spark picks broadcast-hash at
    runtime when the stem table measures small and falls back to a shuffled
    hash/sort-merge join when it doesn't — the safe call at both 60 k and
    10^9 labels.  Output: (src_label, dst_label) undirected candidate pairs
    with src < dst.
    """
    stems = labels.select("label", normalized_stem(F.col("label")).alias("stem"))
    roots = stems.groupBy("stem").agg(F.min("label").alias("src_label"))
    return (
        stems.join(roots, "stem")
        .where(F.col("label") > F.col("src_label"))
        .select("src_label", F.col("label").alias("dst_label"))
    )


def minhash_edges(
    labels: DataFrame,
    min_jaccard: float = 0.7,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_size: int = 3,
    max_bucket: int = 200,
) -> DataFrame:
    """MinHash-LSH similarity candidates over character shingles
    (SURVEY §2.5 JN5).

    Same deterministic machinery as the document dedup family
    (kgx.operators.dedup): one md5-60 base hash per padded char shingle, the
    universal-hash MinHash family, banded LSH buckets with the ``max_bucket``
    skew cap, then exact char-shingle-Jaccard verification of the candidates
    — so the DuckDB oracle reproduces every pair bit-for-bit (this replaced
    the round-1 pyspark.ml ``MinHashLSH``, which hashed shingles with a
    JVM-internal function no other engine can replay).

    Output: (src_label, dst_label, jaccard) with src < dst and
    jaccard >= ``min_jaccard``.
    """
    from kgx.operators import dedup

    pairs = dedup.minhash_lsh_pairs(
        labels.select(F.col("label").alias("lbl")),
        num_hashes=num_hashes,
        bands=bands,
        threshold=min_jaccard,
        max_bucket=max_bucket,
        shingle_expr=dedup.char_shingle_expr("lbl", shingle_size),
        id_col="lbl",
    )
    return pairs.select(
        F.col("doc_a").alias("src_label"),
        F.col("doc_b").alias("dst_label"),
        "jaccard",
    )


def connected_components(
    edges: DataFrame, max_iter: int = 25, driver_threshold: int = 500_000
) -> DataFrame:
    """(src_label, dst_label) undirected edges → (label, component) where
    ``component`` is the minimum label of the component in the labels' own
    order (lexicographic for strings, numeric for bigint doc ids).

    Adaptive strategy (both paths return the same rows with the same
    schema: both columns keep the edge columns' type):

    - ``|edges| <= driver_threshold``: collect + union-find on the driver.
      500 k edges is about 50 MB of collected label strings at ~100 B/edge,
      comfortably inside any driver heap we configure (kgx.session floors
      at 8 g), while every web-scale candidate set still takes the
      distributed path.  A candidate edge list that fits in driver memory
      gains nothing from 6 distributed stages per round — this is the same
      call most production CC implementations make.  ``0`` skips it.
    - otherwise: large-star/small-star alternation (Kiveris et al.) — two
      shuffles per round, edge set monotonically contracts toward stars,
      a per-round pin truncates lineage.  O(log n) rounds, no driver
      materialization, no GraphFrames dependency.
    """
    e = (
        edges.select(
            F.least("src_label", "dst_label").alias("u"),
            F.greatest("src_label", "dst_label").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )

    if driver_threshold > 0:
        sample = e.limit(driver_threshold + 1).collect()
        if len(sample) <= driver_threshold:
            return _driver_union_find(edges.sparkSession, sample, e.schema["u"])

    def _checksum(df: DataFrame):
        row = df.agg(
            F.count("*").alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    prev = None
    for _ in range(max_iter):
        # large-star: for every node, attach strictly-larger neighbors to the
        # minimum of (neighborhood ∪ self)
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("u", "mn").alias("m"))
        e = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("m").alias("u"), F.col("v"))
            .where(F.col("u") != F.col("v"))
            .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
            .distinct()
        )
        # small-star: attach smaller-or-equal neighbors to the minimum
        directed = e.select(F.col("v").alias("u"), F.col("u").alias("v"))  # u > v
        mins2 = directed.groupBy("u").agg(F.min("v").alias("m"))
        e = materialize(
            directed.join(mins2, "u")
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
            .union(directed.join(mins2, "u").select(F.col("m").alias("a"), F.col("u").alias("b")))
            .where(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
            .distinct()
        )
        cur = _checksum(e)
        if cur == prev:
            break
        prev = cur

    # at convergence every edge is (component_min, member)
    members = e.select(F.col("v").alias("label"), F.col("u").alias("component"))
    roots = e.select(F.col("u").alias("label"), F.col("u").alias("component")).distinct()
    return members.union(roots).distinct()


def _driver_union_find(spark, edge_rows, label: StructField) -> DataFrame:
    """Small-graph path: classic union-find, component = min label.  Both
    output columns take ``label``'s type, and the frame is built from
    Arrow (a local scan, no Python worker)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in edge_rows:
        u, v = row["u"], row["v"]
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by label order so the root IS the component minimum
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo

    schema = StructType([
        StructField(name, label.dataType, label.nullable) for name in ("label", "component")
    ])
    out = pa.Table.from_pydict(
        {"label": list(parent), "component": [find(x) for x in parent]},
        schema=to_arrow_schema(schema),
    )
    return spark.createDataFrame(out, schema)


def canonical_map(
    nodes: DataFrame,
    use_minhash: bool = False,
    min_jaccard: float = 0.7,
) -> DataFrame:
    """Full canonicalization: alias (+ optional LSH) candidates → connected
    components → (label, canonical_label, canonical_id).

    ``canonical_id`` is content-derived (sha2 of the canonical label) so it
    is stable across runs and partition layouts.
    Labels that join no component map to themselves."""
    # pinned: the alias stems and their per-stem minimum, the optional
    # MinHash edges, the map-back join and the connected-components
    # threshold count read it; A/B at sf0.1: 2.25-5.00 s lazy vs
    # 1.67-2.15 s pinned
    labels = materialize(distinct_labels(nodes))
    cand = alias_edges(labels)
    if use_minhash:
        cand = cand.unionByName(
            minhash_edges(labels, min_jaccard).select("src_label", "dst_label")
        ).distinct()
    comp = connected_components(cand)
    mapped = labels.join(comp, "label", "left").select(
        "label", F.coalesce("component", "label").alias("canonical_label")
    )
    return mapped.withColumn("canonical_id", F.sha2(F.col("canonical_label"), 256))


def canonical_triples(triples: DataFrame, cmap: DataFrame) -> DataFrame:
    """Rewrite triples through the canonical map and dedup the result.

    No forced broadcast: the map is bounded by unique labels, which is small
    on a single corpus shard but unbounded on the open web — AQE promotes the
    join to broadcast-hash at runtime exactly when the map measures under the
    threshold (same reasoning as :func:`alias_edges`)."""
    c = cmap.select("label", "canonical_label")
    return (
        triples.join(c.withColumnRenamed("label", "subj").withColumnRenamed("canonical_label", "subj_c"), "subj", "left")
        .join(c.withColumnRenamed("label", "obj").withColumnRenamed("canonical_label", "obj_c"), "obj", "left")
        .select(
            "doc_id",
            F.coalesce("subj_c", "subj").alias("subj"),
            "pred",
            F.coalesce("obj_c", "obj").alias("obj"),
        )
        .dropDuplicates(["doc_id", "subj", "pred", "obj"])
    )
