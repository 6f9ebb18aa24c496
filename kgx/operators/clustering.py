"""Embedding k-means clustering (Lloyd's) in exact integer arithmetic.

Corpus clustering over the embedding column is the backbone of
cluster-based curation (SemDeDup-style semantic dedup, cluster-balanced
sampling, topic bucketing) in a large-scale training-data pipeline.  The
reference extractor has no equivalent — it never looks at embeddings — so
this is a north-star NEW operator alongside the ANN family
(kgx.operators.similarity).

Determinism contract (the same one as similarity.py): embeddings are
quantized to 1e-4 fixed point (``similarity.QUANT``); dot products, norms
and centroid updates are exact 64-bit integer arithmetic (sums of bigints
are order-independent, so no float-summation-order divergence between
engines); centroid means use truncation-toward-zero division, which Spark's
``DIV`` and DuckDB's ``//`` both implement; the only floats are final
correctly-rounded IEEE ``sqrt``/division for the argmax-by-cosine ranking,
identical bit-for-bit in both engines.  Initial centroids are the first
``k`` vectors (at 100 TB you'd train centroids on a sample offline and
broadcast them — the same stance as similarity.assign_cells).

Scale design: the assignment join broadcasts the k-row centroid table;
the centroid update is posexplode → groupBy(cluster, pos) with map-side
partial aggregation, so the shuffle per round carries only
``partitions × k × dim`` pre-combined rows — never the corpus.  Truncated
means keep centroid components bounded by the quantized input range, so
assignment dots stay far from bigint overflow at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kgx.functions.plan import materialize
from kgx.operators.similarity import _dot, quantized

#: Ranking expression for the argmax assignment: cosine without the
#: per-vector norm factor (constant within a vec_id partition).  Exact
#: integer inputs → correctly-rounded double ops → deterministic cross-engine.
_RANK_COSINE = "cast(dot as double) / sqrt(cast(cnrm as double))"

#: Full cosine for the reported output column.
_OUT_COSINE = (
    "cast(dot as double) / (sqrt(cast(qnrm as double)) * sqrt(cast(cnrm as double)))"
)


def _assign(base: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, q, nrm) × (cluster, cq, cnrm) → best cluster per vector
    (argmax dot/sqrt(cnrm), ties → min cluster id)."""
    scored = base.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "q",
        F.col("nrm").alias("qnrm"),
        "cluster",
        F.expr(_dot("q", "cq")).alias("dot"),
        "cnrm",
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc(F.expr(_RANK_COSINE)), F.asc("cluster")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def _update(assigned: DataFrame) -> DataFrame:
    """Recompute centroids as the per-dimension truncated integer mean of
    each cluster's member vectors.  posexplode → groupBy(cluster, pos) rides
    map-side combine; reassembly sorts by pos explicitly (never relies on
    collect_list order)."""
    dims = assigned.select("cluster", F.posexplode("q").alias("pos", "v"))
    means = dims.groupBy("cluster", "pos").agg(
        F.expr("sum(v) DIV count(*)").alias("c")
    )
    cents = (
        means.groupBy("cluster")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, c))), s -> s.c)"
            ).alias("cq")
        )
        .withColumn(
            "cnrm", F.expr("aggregate(cq, cast(0 as bigint), (acc, v) -> acc + v * v)")
        )
        .where(F.col("cnrm") > 0)
    )
    return cents


def kmeans_assign(
    embeddings: DataFrame,
    k: int = 8,
    rounds: int = 2,
    target_cluster_size: int | None = None,
) -> DataFrame:
    """Lloyd's k-means over ``(vec_id, embedding array<float>)``.

    ``rounds`` centroid-update iterations (init → [assign → update] ×
    rounds → final assign).  Output: (vec_id, cluster, cosine) — the final
    cluster per vector and the exact quantized cosine to its final centroid.
    Empty clusters drop out (their centroid table row disappears), matching
    classic Lloyd behavior.

    ``target_cluster_size`` auto-sizes ``k = ceil(N / target)``
    (similarity.auto_centroids) — the k ∝ N contract that keeps
    within-cluster work (SemDeDup's pair join) linear in corpus size.
    """
    if target_cluster_size is not None:
        from kgx.operators.similarity import auto_centroids

        k = auto_centroids(embeddings, target_cluster_size)
    base = quantized(embeddings).where(F.col("nrm") > 0)
    cents = base.where(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cluster"),
        F.col("q").alias("cq"),
        F.col("nrm").alias("cnrm"),
    )
    for _ in range(rounds):
        assigned = _assign(base, cents)
        # a pin would truncate lineage for deep runs (the PageRank
        # stance, graphstats.pagerank); at the 2-3 rounds used here the plan
        # stays shallow enough to leave lazy.
        cents = _update(assigned)
    final = _assign(base, cents)
    return final.select(
        "vec_id", "cluster", F.expr(_OUT_COSINE).alias("cosine")
    )


def semdedup(
    embeddings: DataFrame,
    k: int = 8,
    rounds: int = 2,
    min_cosine: float = 0.5,
    target_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup via k-means bucketing.

    Cluster the embedding space (:func:`kmeans_assign`), then compare only
    WITHIN clusters with the exact quantized cosine; a vector is a
    semantic duplicate iff a smaller-id cluster-mate lies inside its cosine
    ball (keep-first, the same canonical-min policy as the text dedup
    family).  Output covers every clustered vector:
    (vec_id, cluster, dup_of, is_duplicate) — ``dup_of`` = the smallest
    such cluster-mate, NULL for keepers.

    Scale stance: within-cluster comparison is the SemDeDup design — k is
    sized so clusters hold ~1k-100k points at corpus scale (k ∝ N), keeping
    the per-cluster pair join bounded; the cluster equi-join is the only
    shuffle beyond k-means itself.  ``target_cluster_size`` COMPUTES that
    sizing (k = ceil(N / target), similarity.auto_centroids) instead of
    leaving it to the caller.  The paper resolves ε-balls greedily
    per cluster too (keeping one point per ball); keep-first-by-id is the
    deterministic, engine-replayable variant of that choice.
    """
    if target_cluster_size is not None:
        from kgx.operators.similarity import auto_centroids

        k = auto_centroids(embeddings, target_cluster_size)
    # pinned: the within-cluster pair join consumes it three times (the
    # assigns left-join plus both x/y sides), and without the cut each
    # consumer re-runs the full Lloyd's iteration chain
    assigns = materialize(
        kmeans_assign(embeddings, k, rounds).select("vec_id", "cluster")
    )
    base = quantized(embeddings).where(F.col("nrm") > 0)
    vb = assigns.join(base, "vec_id")
    x = vb.select(
        F.col("cluster").alias("cx"), F.col("vec_id").alias("xa"),
        F.col("q").alias("qx"), F.col("nrm").alias("nx"),
    )
    y = vb.select(
        F.col("cluster").alias("cy"), F.col("vec_id").alias("ya"),
        F.col("q").alias("qy"), F.col("nrm").alias("ny"),
    )
    cos = (
        f"cast({_dot('qx', 'qy')} as double) / "
        "(sqrt(cast(nx as double)) * sqrt(cast(ny as double)))"
    )
    dups = (
        x.join(y, (F.col("cx") == F.col("cy")) & (F.col("xa") < F.col("ya")))
        .where(F.expr(cos) >= F.lit(min_cosine))
        .groupBy(F.col("ya").alias("vec_id"))
        .agg(F.min("xa").alias("dup_of"))
    )
    return assigns.join(dups, "vec_id", "left").select(
        "vec_id",
        "cluster",
        "dup_of",
        F.col("dup_of").isNotNull().alias("is_duplicate"),
    )


def _pq_sub_table(base: DataFrame, m: int) -> DataFrame:
    """(vec_id, q) → one row per (vec_id, subspace) carrying the dim/m
    subvector.  Dim-divisibility is enforced LOUDLY (the bloom-guard
    stance, kgx.operators.sketches): a silently truncated tail would make
    codes incomparable across corpora with different dims."""
    guarded = (
        f"CASE WHEN size(q) % {m} = 0 THEN q ELSE "
        f"cast(raise_error(concat('pq_codes: embedding dim ', "
        f"cast(size(q) as string), ' not divisible by m={m}')) "
        f"as array<bigint>) END"
    )
    return base.select("vec_id", F.expr(guarded).alias("q")).select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {m - 1}), s -> struct("
                f"cast(s as int) AS subspace, "
                f"slice(q, s * (size(q) div {m}) + 1, size(q) div {m}) AS sq))"
            )
        ).alias("p"),
    ).select("vec_id", "p.subspace", "p.sq")


def _pq_l2(a: str, b: str) -> str:
    """Exact bigint squared-L2 between two equal-length arrays — the ONE
    definition every PQ distance (assign, LUT) compiles from."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        f"cast(0 as bigint), (acc, v) -> acc + v)"
    )


_PQ_L2 = _pq_l2("sq", "cq")


def _pq_assign(sub: DataFrame, cents: DataFrame) -> DataFrame:
    """Argmin-L2 code per (vec_id, subspace); ties → min code.  The
    centroid side is m·k rows — always broadcast — and the argmin is a
    ``min_by`` AGGREGATE, not a window: rows for one (vec_id, subspace)
    key are emitted consecutively by the broadcast join, so map-side
    combine collapses the k candidates to one row before anything
    shuffles (a window would sort-shuffle the full scored table)."""
    scored = sub.join(F.broadcast(cents), "subspace").select(
        "vec_id",
        "subspace",
        "code",
        "sq",
        F.expr(_PQ_L2).alias("sq_dist"),
    )
    return scored.groupBy("vec_id", "subspace").agg(
        F.expr(
            "min_by(struct(code, sq_dist, sq), struct(sq_dist, code))"
        ).alias("best")
    ).select("vec_id", "subspace", "best.code", "best.sq_dist", "best.sq")


def _pq_update(assigned: DataFrame) -> DataFrame:
    """Per-(subspace, code) truncated integer mean of member subvectors —
    the _update shape with subspace in the key; the shuffle carries only
    m·k·(dim/m) pre-combined (subspace, code, pos) rows."""
    dims = assigned.select("subspace", "code", F.posexplode("sq").alias("pos", "v"))
    means = dims.groupBy("subspace", "code", "pos").agg(
        F.expr("sum(v) DIV count(*)").alias("c")
    )
    return means.groupBy("subspace", "code").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, c))), s -> s.c)"
        ).alias("cq")
    )


def pq_codes(
    embeddings: DataFrame, m: int = 8, k: int = 16, rounds: int = 2
) -> DataFrame:
    """Product-quantization codes (Jégou et al. 2011) over
    ``(vec_id, embedding array<float>)`` — the compression half of the
    IVF-PQ architecture that makes billion-vector ANN fit in memory:
    split each vector into ``m`` subspaces of dim/m components, run an
    independent integer-arithmetic Lloyd's k-means in each, and emit each
    vector's nearest code per subspace (``m·log2(k)`` bits per vector;
    dim/m must divide evenly, enforced loudly).  Composes beside
    :func:`kmeans_assign` (the coarse IVF quantizer) and
    kgx.operators.similarity.ivf_topk.

    Determinism contract (the kmeans_assign one, with L2 instead of
    cosine — the PQ-standard metric, and zero vectors stay codable):
    1e-4 fixed-point quantization, exact bigint squared-L2, truncated
    integer centroid means, argmin ties → smallest code; initial codes
    are the first ``k`` vectors' subvectors (train-on-sample-offline
    stance of kmeans_assign).  Pure integer math end-to-end → the DuckDB
    oracle reproduces every code and distance bit-for-bit.

    Scale shape: the subvector table is m rows per vector but carries
    dim/m components each — total payload equals the corpus, never m×
    it; each assign broadcasts the m·k-row codebook and collapses the k
    candidates per key map-side (min_by aggregate, see
    :func:`_pq_assign`); each update shuffles only m·k·(dim/m)
    pre-combined rows.  Empty codes drop out (classic Lloyd).

    Output: (vec_id, subspace, code, sq_dist) — m rows per vector with
    the exact quantized squared reconstruction distance.
    """
    if m < 1 or k < 1 or rounds < 0:
        raise ValueError(f"bad PQ shape m={m} k={k} rounds={rounds}")
    sub = _pq_sub_table(quantized(embeddings), m)
    return _pq_assign(sub, _pq_train(sub, k, rounds)).select(
        "vec_id", "subspace", "code", "sq_dist"
    )


def _pq_train(sub: DataFrame, k: int, rounds: int) -> DataFrame:
    """Per-subspace codebook: first-k-subvector init, ``rounds`` Lloyd
    iterations.  Output: (subspace, code, cq)."""
    cents = sub.where(F.col("vec_id") < k).select(
        "subspace", F.col("vec_id").alias("code"), F.col("sq").alias("cq")
    )
    for _ in range(rounds):
        cents = _pq_update(_pq_assign(sub, cents))
    return cents


def pq_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    m: int = 8,
    k_codes: int = 16,
    rounds: int = 2,
) -> DataFrame:
    """PQ asymmetric-distance top-k search (ADC, Jégou et al. 2011) —
    the retrieval half of IVF-PQ, composing over :func:`pq_codes`'
    codebook: queries (``vec_id < n_queries``, the cosine_topk
    convention) compute an m·k_codes lookup table of exact subspace
    distances to the codebook, and every database vector is scored by
    summing LUT entries for its m codes — the query never touches raw
    database vectors, which is what makes billion-vector search fit in
    memory.  Approximate by construction; :func:`~kgx.operators.
    similarity.cosine_topk` is the exact baseline beside it.

    Scale shape: the LUT (n_queries·m·k_codes rows) is BROADCAST onto
    the compressed codes table, rows for one vector fan out to
    n_queries·m and collapse map-side (one sum aggregate keyed on
    (query_id, vec_id) — the shuffle carries only pre-combined score
    rows); final top-k is a per-query window over k-bounded rows.

    Output: (query_id, rank int, vec_id, adc_dist) — k rows per query,
    ascending exact-integer ADC distance, ties → min vec_id, self
    excluded.
    """
    _pq_validate(n_queries, k, m, k_codes, rounds)
    codes, lut = _pq_index(quantized(embeddings), m, k_codes, rounds, n_queries)
    scored = (
        codes.join(F.broadcast(lut), ["subspace", "code"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("lut_dist").cast("long").alias("adc_dist"))
    )
    return _pq_rank(scored, k)


def _pq_validate(n_queries: int, k: int, m: int, k_codes: int, rounds: int) -> None:
    """Shared loud guard rails for the PQ search family."""
    if n_queries < 1 or k < 1:
        raise ValueError(f"bad search shape n_queries={n_queries} k={k}")
    if m < 1 or k_codes < 1 or rounds < 0:
        raise ValueError(f"bad PQ shape m={m} k={k_codes} rounds={rounds}")


def _pq_index(
    base: DataFrame, m: int, k_codes: int, rounds: int, n_queries: int
) -> tuple[DataFrame, DataFrame]:
    """The shared PQ index of the search family: train the per-subspace
    codebook over ``base`` (a :func:`~kgx.operators.similarity.quantized`
    table), assign codes, and build the query ADC lookup table.  Returns
    (codes (vec_id, subspace, code), lut (query_id, subspace, code,
    lut_dist))."""
    sub = _pq_sub_table(base, m)
    # pinned: codes assignment and the LUT join read the trained codebook,
    # and a lazy plan would re-run the whole Lloyd chain per consumer
    cents = materialize(_pq_train(sub, k_codes, rounds))
    codes = _pq_assign(sub, cents).select("vec_id", "subspace", "code")
    qsub = sub.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), "subspace", F.col("sq").alias("qsq")
    )
    lut = qsub.join(cents, "subspace").select(
        "query_id", "subspace", "code",
        F.expr(_pq_l2("qsq", "cq")).alias("lut_dist"),
    )
    return codes, lut


def _pq_rank(scored: DataFrame, k: int) -> DataFrame:
    """Final per-query top-k over (query_id, vec_id, adc_dist): ascending
    exact ADC distance, ties → min vec_id."""
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int"), "vec_id", "adc_dist")
    )


def ivf_pq_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 8,
    k_codes: int = 16,
    rounds: int = 2,
) -> DataFrame:
    """Full IVF-PQ approximate search (Jégou et al. 2011) — the composed
    billion-vector architecture: the coarse IVF quantizer
    (kgx.operators.similarity.assign_cells, max-dot cells over the first
    ``n_centroids`` vectors) restricts each query to its ``nprobe`` best
    cells, and candidates within those cells are ranked by PQ
    asymmetric distance (:func:`pq_topk`'s broadcast LUT over
    :func:`pq_codes`' compressed codes).  Non-residual PQ variant (codes
    encode the full vector, not the cell residual) — the simpler of the
    two standard IVF-PQ encodings; per-query work is
    O(N·nprobe/C · m) LUT additions instead of :func:`pq_topk`'s
    O(N·m), and the raw corpus is never touched after indexing.

    Scale shape: index side = the IVF cell table plus the compressed
    codes table (at 100 TB both are written partitioned BY CELL so the
    candidate join below is partition-local); query side = two broadcast
    lookups (centroids for probes, LUT for scoring).  The candidate →
    codes join is the only corpus-scale shuffle (AQE-decided, keyed on
    vec_id); scores collapse map-side before the final per-query top-k
    window.

    Output: (query_id, rank int, vec_id, adc_dist) — ascending ADC
    distance over probed-cell candidates only, ties → min vec_id, self
    excluded.  On a zero-norm-free corpus, recall vs :func:`pq_topk` is
    bounded by the probe set EXACTLY (probing every cell reproduces
    global ADC bit-for-bit — law-tested), the same relation
    ann_ivf_topk has to ann_topk.  Boundary: zero-norm vectors (which
    PQ alone keeps codable) are invisible to the cosine-based coarse
    quantizer — they can never be candidates or queries here at any
    nprobe, while :func:`pq_topk` can still return them (the PQ index
    itself stays UNFILTERED so trained codes match pq_topk and the
    oracle bit-for-bit).
    """
    from kgx.operators.similarity import _ivf_probes, assign_cells

    if nprobe < 1 or n_centroids < 1:
        raise ValueError(f"bad IVF shape n_centroids={n_centroids} nprobe={nprobe}")
    _pq_validate(n_queries, k, m, k_codes, rounds)
    cells = assign_cells(embeddings, n_centroids).select("vec_id", "cell")
    probes = _ivf_probes(embeddings, n_queries, n_centroids, nprobe).select(
        "query_id", "cell"
    )
    codes, lut = _pq_index(quantized(embeddings), m, k_codes, rounds, n_queries)
    cand = (
        probes.join(cells, "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    scored = (
        cand.join(codes, "vec_id")
        .join(F.broadcast(lut), ["query_id", "subspace", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("lut_dist").cast("long").alias("adc_dist"))
    )
    return _pq_rank(scored, k)
