"""Graph analytics over the extracted knowledge graph: degree statistics
and a deterministic PageRank.

The reference materializes nodes/edges and serves them back per document
(reference database_service.py get_graph); it has no whole-graph analytics.
These operators are the queries a downstream consumer runs on the
materialized KG tables — and the PageRank is the repo's iterative-algorithm
pattern: a driver-side loop of joins whose per-iteration plan is fixed and
whose lineage can be truncated per round at scale.

Determinism contract: PageRank here is INTEGER-arithmetic — ranks are
bigints, contributions are floor divisions, damping is applied in basis
points — so Spark and the DuckDB oracle produce bit-identical ranks (no
float summation-order drift, which 10 chained iterations would amplify).
Dangling-node mass (nodes with no out-edges) is dropped, not redistributed;
that variant needs a global aggregate per iteration and is documented out.

Overflow bound: rank(u) <= n_nodes * scale after any iteration, so
``damping_bp * n_nodes * scale`` must stay below 2^63; the default
``scale=10**9`` is safe up to ~10^9 distinct labels per graph slice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgx.functions.plan import materialize


def edge_list(triples: DataFrame) -> DataFrame:
    """Distinct global (subj, obj) label edges from doc-level triples.
    Self-loops were already excluded at extraction (SURVEY P5)."""
    return triples.select("subj", "obj").distinct()


def _node_labels(e: DataFrame) -> DataFrame:
    """(label): the distinct labels of ``e``'s subj and obj columns."""
    return (
        e.select(F.col("subj").alias("label"))
        .union(e.select(F.col("obj").alias("label")))
        .distinct()
    )


def _undirected_edges(triples: DataFrame) -> DataFrame:
    """The distinct edge set in both directions, pinned
    (:func:`~kgx.functions.plan.materialize`): every caller reads it from
    several plan branches, so a lazy plan would replay the union+distinct
    shuffle and the upstream extraction per branch."""
    e = edge_list(triples)
    return materialize(
        e.union(
            e.select(F.col("obj").alias("subj"), F.col("subj").alias("obj"))
        ).distinct()
    )


def degree_stats(triples: DataFrame) -> DataFrame:
    """(label, out_degree, in_degree, degree) over the distinct edge list.

    Two hash aggregates and one full outer join on the label key — no text
    beyond labels crosses an exchange, and AQE picks a broadcast side when
    one degree table is small.
    """
    e = edge_list(triples)
    out_d = e.groupBy(F.col("subj").alias("label")).agg(
        F.count("*").alias("out_degree")
    )
    in_d = e.groupBy(F.col("obj").alias("label")).agg(
        F.count("*").alias("in_degree")
    )
    return out_d.join(in_d, "label", "full_outer").select(
        "label",
        F.coalesce("out_degree", F.lit(0)).cast("long").alias("out_degree"),
        F.coalesce("in_degree", F.lit(0)).cast("long").alias("in_degree"),
        (F.coalesce("out_degree", F.lit(0)) + F.coalesce("in_degree", F.lit(0)))
        .cast("long")
        .alias("degree"),
    )


def pagerank(
    triples: DataFrame,
    iters: int = 5,
    scale: int = 10**9,
    damping_bp: int = 8500,
    checkpoint_every: int | None = None,
) -> DataFrame:
    """Integer-arithmetic PageRank over the distinct label edge list.

    rank_0(u) = scale;
    rank_{t+1}(u) = base + (damping_bp * S_t(u)) div 10000, where
    S_t(u) = sum over in-edges (v, u) of (rank_t(v) div outdeg(v)) and
    base = ((10000 - damping_bp) * scale) div 10000.

    Each iteration is one equi-join of the edge list with the current rank
    table plus one aggregate — the rank table carries only (label, rank)
    bigints, so at 10^12-doc scale the per-iteration shuffle is the edge
    list key-joined against a table orders of magnitude smaller than the
    corpus.  ``checkpoint_every`` pins the ranks every k rounds
    (:func:`~kgx.functions.plan.materialize`), truncating lineage — set it
    for deep iteration counts in jobs; leave None in lazy gate queries
    (5 rounds of joins plan fine).
    """
    e = edge_list(triples)
    nodes = _node_labels(e)
    outdeg = e.groupBy(F.col("subj").alias("label")).agg(
        F.count("*").cast("long").alias("od")
    )
    base = ((10000 - damping_bp) * scale) // 10000
    ranks = nodes.select("label", F.lit(scale).cast("long").alias("rank"))
    for i in range(iters):
        contribs = (
            e.join(ranks.withColumnRenamed("label", "subj"), "subj")
            .join(outdeg.withColumnRenamed("label", "subj"), "subj")
            .select(F.col("obj").alias("label"), F.expr("rank div od").alias("c"))
            .groupBy("label")
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(contribs, "label", "left").select(
            "label",
            (
                F.lit(base)
                + F.expr(f"({damping_bp} * coalesce(s, 0L)) div 10000")
            )
            .cast("long")
            .alias("rank"),
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            ranks = materialize(ranks)
    return ranks


def label_propagation(triples: DataFrame, iters: int = 3) -> DataFrame:
    """Synchronous frequency-vote label propagation (community detection)
    over the UNDIRECTED distinct edge set: ``community_0(u) = u``;
    ``community_{t+1}(u)`` = the most frequent community among u's
    neighbors, ties broken by the LEXICOGRAPHICALLY SMALLEST label —
    deterministic where textbook LPA is randomized, so Spark and the
    DuckDB oracle agree bit-for-bit after any fixed round count.

    This is the community-granularity sibling of the canonicalization
    merge (kgx.operators.linking connected components): CC answers "which
    mentions are the same entity" (min-label over similarity edges), LPA
    answers "which entities cluster together" (densest-neighborhood vote
    over KG edges) — different fixpoints, both driver-side loops of
    fixed-shape distributed rounds.

    Per round: one equi-join of the directed-both-ways edge list against
    the (node, community) table, a (node, community) count aggregate, and
    a per-node top-1 window — every stage keyed on node labels, nothing
    wider than two label columns crosses an exchange, so at 10^12-doc
    scale each round shuffles the edge list against a table orders of
    magnitude smaller than the corpus.  Output: (label, community).

    The per-round LABELS state is not pinned: each round references it
    exactly once, so lineage stays linear — unlike kcore_fixpoint's
    twice-referenced state."""
    from pyspark.sql.window import Window

    # loop-invariant, read by the label init and every round; A/B at
    # sf0.1, 3 iters: 1.81-2.41 s lazy vs 1.60-2.06 s pinned
    und = _undirected_edges(triples)
    labels = (
        und.select(F.col("subj").alias("node")).distinct()
        .select("node", F.col("node").alias("community"))
    )
    top1 = Window.partitionBy("node").orderBy(
        F.col("votes").desc(), F.col("community").asc()
    )
    for _ in range(iters):
        labels = (
            und.join(
                labels.withColumnRenamed("node", "obj"), "obj"
            )
            .select(F.col("subj").alias("node"), "community")
            .groupBy("node", "community")
            .agg(F.count("*").alias("votes"))
            .withColumn("rn", F.row_number().over(top1))
            .where("rn = 1")
            .select("node", "community")
        )
    return labels.select(F.col("node").alias("label"), "community")


def triangle_counts(triples: DataFrame) -> DataFrame:
    """Per-node triangle participation over the UNDIRECTED distinct edge
    set: (label, triangles, degree) — clustering coefficient is
    2*triangles/(degree*(degree-1)) downstream, kept as exact integers here
    so the cross-engine hash never sees float rounding.

    Plan shape: canonical (u < v) edges, then the standard two-join triangle
    enumeration a<b<c — each join is an equi-join on one endpoint, so the
    heavy lifting is two hash-partitioned joins on label keys; the wedge
    set (a<b)x(b<c) is pruned by the closing-edge join before any
    materialization.  Degree rides along from the same canonical edge set.
    """
    e = (
        edge_list(triples)
        .select(
            F.least("subj", "obj").alias("u"), F.greatest("subj", "obj").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    ab = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    bc = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
    ac = e.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])  # a < b < c by construction
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("label"))
        .groupBy("label")
        .agg(F.count("*").cast("long").alias("triangles"))
    )
    deg = (
        e.select(F.explode(F.array("u", "v")).alias("label"))
        .groupBy("label")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    return deg.join(per_node, "label", "left").select(
        "label",
        F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
        "degree",
    )


def kcore_fixpoint(
    triples: DataFrame, k: int = 2, max_rounds: int = 50
) -> tuple[DataFrame, int]:
    """Synchronous k-core peel over the UNDIRECTED distinct edge set, run
    to the fixpoint or for at most ``max_rounds`` rounds: each round drops
    every node whose current degree is below ``k`` (and the edges touching
    it).  Returns ((label, core_degree), rounds used), where core_degree is
    the residual-graph degree of every surviving node.

    The peel stops early only after a round that removes no edge, and every
    later round would remove none either, so a run capped at ``r`` rounds
    returns exactly the rows of ``r`` unconditional rounds — the DuckDB
    oracle unrolls ``max_rounds`` rounds and agrees bit-for-bit.

    The reference materializes the KG but has no subgraph analytics
    (database_service.py get_graph serves per-doc slices); k-core is the
    standard "dense enough to trust" filter a downstream consumer runs
    before embedding or curriculum-weighting entities.

    Plan shape per round: one (node) count aggregate over the live edge
    list + two LEFT SEMI joins (subj side, obj side) against the tiny
    survivor set — everything keyed on label columns, nothing wider than
    two labels crosses an exchange.  At 10^12-doc scale each round's
    shuffle is the (shrinking) edge list keyed against a survivor table
    that is orders of magnitude smaller; the cascade converges in a few
    rounds on real graphs.

    Unlike PageRank/LPA (whose per-round state is referenced ONCE), each
    peel round references the live edge list TWICE — the degree aggregate
    and the semi-join probe — so a lazy chained plan re-evaluates the
    upstream extraction 2^rounds times.  The edge list is therefore
    pinned every round (:func:`~kgx.functions.plan.materialize`): it only
    SHRINKS, the per-round materialization is two bigint-pair columns,
    lineage stays one round deep regardless of depth, and the driver-side
    convergence test reads a materialized count (measured: 386 s lazy →
    seconds checkpointed at sf0.01).
    """
    und = _undirected_edges(triples)
    n = und.count()
    rounds = 0
    for _ in range(max_rounds):
        keep = (
            und.groupBy("subj")
            .agg(F.count("*").alias("deg"))
            .where(F.col("deg") >= k)
            .select("subj")
        )
        und = materialize(
            und.join(keep, "subj", "left_semi")
            .join(keep.withColumnRenamed("subj", "obj"), "obj", "left_semi")
        )
        rounds += 1
        m = und.count()
        if m == n:
            break
        n = m
    core = und.groupBy(F.col("subj").alias("label")).agg(
        F.count("*").cast("long").alias("core_degree")
    )
    return core, rounds


def negative_samples(
    triples: DataFrame, k: int = 2, buckets: int = 64
) -> DataFrame:
    """Deterministic hash-bucketed negative sampling for KG-embedding
    training (TransE-family): each distinct (subj, pred, obj) triple gets
    up to ``k`` corrupted copies whose object is replaced by a
    pseudo-randomly chosen OTHER node — the contrastive counterexamples a
    margin loss consumes.  Output: (subj, pred, obj, sample_idx,
    neg_obj), with accidental positives (neg == obj) dropped.

    Every choice is pure md5-60 arithmetic (kgx.functions.hashing), so
    the DuckDB oracle replays it bit-for-bit: the candidate hash
    ``h = md5_60(subj|pred|obj|j)`` picks bucket ``h % buckets`` and rank
    ``(h div buckets) % bucket_size`` within it.

    Scale shape: the node table is numbered per HASH BUCKET (row_number
    windows partitioned by bucket — bounded per-bucket sorts, never a
    global one; grow ``buckets`` with corpus size to keep each bounded),
    bucket sizes are a tiny broadcast, and the sample join is a
    hash-partitioned equi-join on (bucket, idx) — uniform by
    construction, no skew, no candidate enumeration wider than the k-way
    explode.
    """
    # pinned: three branches read the distinct triple set (both halves of
    # the node union + the k-way candidate explode)
    tri = materialize(triples.select("subj", "pred", "obj").distinct())
    return _negative_samples(tri, k, buckets)


def _negative_samples(t: DataFrame, k: int, buckets: int) -> DataFrame:
    """Body of :func:`negative_samples` over ``t``, an already-distinct,
    already-pinned (subj, pred, obj) frame — :func:`training_pairs` calls
    it on its own pinned triple set, so the distinct and the pin run once."""
    from pyspark.sql.window import Window

    from kgx.functions.hashing import spark_md5_60

    if k < 1 or buckets < 1:
        raise ValueError(f"bad sampling shape k={k} buckets={buckets}")
    nodes = _node_labels(t).selectExpr(
        "label", f"{spark_md5_60('label')} % {buckets} AS bucket"
    )
    numbered = nodes.withColumn(
        "idx",
        F.row_number().over(Window.partitionBy("bucket").orderBy("label")) - 1,
    )
    sizes = numbered.groupBy("bucket").agg(F.count("*").alias("bsize"))
    h = spark_md5_60("concat_ws('|', subj, pred, obj, cast(j as string))")
    cand = (
        t.selectExpr(
            "subj",
            "pred",
            "obj",
            f"explode(sequence(0, {k - 1})) AS j",
        )
        .selectExpr("subj", "pred", "obj", "j", f"{h} AS h")
        .selectExpr(
            "subj",
            "pred",
            "obj",
            "j",
            f"h % {buckets} AS bucket",
            f"h DIV {buckets} AS rest",
        )
        .join(F.broadcast(sizes), "bucket")
        .selectExpr("subj", "pred", "obj", "j", "bucket", "rest % bsize AS idx")
    )
    return (
        cand.join(numbered, ["bucket", "idx"])
        .where(F.col("label") != F.col("obj"))
        .select(
            "subj",
            "pred",
            "obj",
            F.col("j").cast("long").alias("sample_idx"),
            F.col("label").alias("neg_obj"),
        )
    )


def training_pairs(
    triples: DataFrame, k: int = 2, buckets: int = 64
) -> DataFrame:
    """The KG-embedding training set, composed end-to-end: every distinct
    (subj, pred, obj) triple as a positive example plus its ``k``
    hash-corrupted negatives (:func:`negative_samples`) — the
    (margin-loss) contrastive table a TransE-family trainer consumes.
    Output: (subj, pred, obj, is_positive) with is_positive ∈ {1, 0}.

    Negatives are filtered against the FULL positive set (the "filtered"
    setting of the KG-embedding literature): :func:`negative_samples`
    only guarantees ``neg_obj != obj`` for the SAME triple, so a corrupted
    (s, p, neg_obj) can coincide with a DIFFERENT true triple — without
    the anti-join the training set could carry the same (subj, pred, obj)
    labeled both 1 and 0, a contradictory gradient.

    Scale shape: a union of two already-bounded plans — the distinct
    triple projection and the bucketed sample join — plus one
    hash-partitioned left-anti join on the (subj, pred, obj) key for the
    filtered setting; nothing wider than the triple key shuffles."""
    # pinned: three branches read it (the positive union arm, the anti-join
    # build side, and the negative sampler's input), each exchanging
    # differently, so exchange reuse cannot stand in for the pin
    tri = materialize(triples.select("subj", "pred", "obj").distinct())
    pos = tri.withColumn("is_positive", F.lit(1).cast("long"))
    neg = (
        _negative_samples(tri, k, buckets)
        .select(
            "subj",
            "pred",
            F.col("neg_obj").alias("obj"),
            F.lit(0).cast("long").alias("is_positive"),
        )
        .join(tri, ["subj", "pred", "obj"], "left_anti")
    )
    return pos.unionByName(neg)


def walk_skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """Windowed skip-gram co-occurrence counts over a walk corpus — the
    (center, context) training-pair table a word2vec/node2vec trainer
    consumes, composing directly over :func:`node2vec_walks` output.

    Pair enumeration is IN-ROW over each walk array (nested array HOFs +
    one Generate — no self-join, work per row bounded by
    ``walk_len × 2·window``), followed by ONE
    map-side-combined count aggregate, so the shuffle carries
    pre-combined (center, context) rows.  Pairs keep multiplicity
    (standard skip-gram), and a label co-occurring with itself from two
    different walk positions is a legitimate pair.

    Output: (center, context, n_pairs).
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    W = int(window)
    pairs = walks.select(
        F.explode(
            F.expr(
                f"flatten(transform(sequence(1, size(walk)), i -> "
                f"transform(filter(sequence(greatest(1, i - {W}), "
                f"least(size(walk), i + {W})), j -> j != i), "
                f"j -> struct(element_at(walk, i) AS center, "
                f"element_at(walk, j) AS context))))"
            )
        ).alias("p")
    )
    return pairs.select("p.center", "p.context").groupBy(
        "center", "context"
    ).agg(F.count("*").cast("long").alias("n_pairs"))


def transe_margin(
    pairs: DataFrame, dim: int = 8, modulus: int = 1024
) -> DataFrame:
    """Per-predicate TransE energy audit of the KG-embedding training set
    (Bordes et al. 2013): score every (subj, pred, obj, is_positive) row
    from :func:`training_pairs` with the L1 energy
    ``||e_s + e_p - e_o||_1`` under DETERMINISTIC hash-derived integer
    embeddings, then aggregate positives vs negatives per predicate.  The
    margin column (mean negative energy minus mean positive energy) is the
    quantity a margin-loss trainer maximizes — at init (which hash
    embeddings are: a reproducible untrained model) it sits near zero, and
    the table is the epoch-zero baseline an embedding-training pipeline
    logs before the first gradient step.

    Embedding contract: entity/relation component ``d`` is
    ``uh_d(md5_60(ns|label)) % modulus - modulus/2`` — the universal-hash
    family of kgx.functions.hashing (one md5 per row per column, dim
    components by integer arithmetic; entities and relations live in
    disjoint ``e|`` / ``r|`` namespaces).  Pure integer math end-to-end,
    so the DuckDB oracle reproduces every energy bit-for-bit.

    Scale shape: ONE map-side-combined aggregate on the 16-value pred key
    over a pure projection (3 md5 + 3·dim fused integer ops per row, no
    HOF lambda — the hash columns are referenced ``dim`` times, which
    keeps CollapseProject from inlining the md5s, SPARK-36718); nothing
    but pre-combined (pred, counters) rows ever shuffle.  Composes
    directly over :func:`training_pairs`' bounded plan.

    Output: (pred, n_pos, n_neg, sum_pos_energy, sum_neg_energy,
    mean_pos_energy, mean_neg_energy, margin) — one row per predicate;
    means are toward-zero integer divisions, NULL when a side is empty.
    """
    from kgx.functions.hashing import minhash_derived, spark_md5_60

    if dim < 1 or modulus < 2:
        raise ValueError(f"bad embedding shape dim={dim} modulus={modulus}")
    half = modulus // 2
    hashed = pairs.select(
        "pred",
        "is_positive",
        F.expr(spark_md5_60("concat('e|', subj)")).alias("hs"),
        F.expr(spark_md5_60("concat('r|', pred)")).alias("hp"),
        F.expr(spark_md5_60("concat('e|', obj)")).alias("ho"),
    )

    def comp(h: str, d: int) -> str:
        return f"(({minhash_derived(h, d)}) % {modulus} - {half})"

    energy = " + ".join(
        f"abs({comp('hs', d)} + {comp('hp', d)} - {comp('ho', d)})"
        for d in range(dim)
    )
    scored = hashed.select(
        "pred",
        "is_positive",
        F.expr(f"cast({energy} as bigint)").alias("energy"),
    )
    pos = F.col("is_positive") == 1
    agg = scored.groupBy("pred").agg(
        F.sum(F.when(pos, 1).otherwise(0)).cast("long").alias("n_pos"),
        F.sum(F.when(~pos, 1).otherwise(0)).cast("long").alias("n_neg"),
        F.sum(F.when(pos, F.col("energy")).otherwise(0)).cast("long").alias(
            "sum_pos_energy"
        ),
        F.sum(F.when(~pos, F.col("energy")).otherwise(0)).cast("long").alias(
            "sum_neg_energy"
        ),
    )
    return agg.select(
        "pred",
        "n_pos",
        "n_neg",
        "sum_pos_energy",
        "sum_neg_energy",
        F.expr(
            "CASE WHEN n_pos = 0 THEN NULL ELSE sum_pos_energy div n_pos END"
        ).cast("long").alias("mean_pos_energy"),
        F.expr(
            "CASE WHEN n_neg = 0 THEN NULL ELSE sum_neg_energy div n_neg END"
        ).cast("long").alias("mean_neg_energy"),
        F.expr(
            "CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL "
            "ELSE sum_neg_energy div n_neg - sum_pos_energy div n_pos END"
        ).cast("long").alias("margin"),
    )


def _walk_scaffold(
    triples: DataFrame, walks_per_node: int
) -> tuple[DataFrame, DataFrame]:
    """Scaffolding of :func:`node2vec_walks`: pinned distinct edge list →
    sorted adjacency table + the step-0 walk frontier (start_label,
    walk_id, cur, prev, walk) with a NULL predecessor."""
    # pinned: the adjacency aggregate and both node-union halves read it
    e = materialize(edge_list(triples))
    adj = e.groupBy("subj").agg(F.sort_array(F.collect_set("obj")).alias("nbrs"))
    return adj, _node_labels(e).selectExpr(
        "label AS start_label",
        f"explode(sequence(0, {walks_per_node - 1})) AS w",
        "label AS cur",
        "cast(null as string) AS prev",
        "array(label) AS walk",
    ).selectExpr("start_label", "cast(w as bigint) AS walk_id", "cur", "prev", "walk")


def node2vec_walks(
    triples: DataFrame,
    length: int = 4,
    walks_per_node: int = 2,
    seed: int = 0,
    w_return: int = 1,
    w_near: int = 4,
    w_far: int = 2,
) -> DataFrame:
    """Deterministic random-walk corpus over the directed KG edge list —
    the graph→sequence export a skip-gram trainer consumes, closing the
    loop from extracted graph back to training data next to
    :func:`training_pairs`.  node2vec's second-order bias (Grover &
    Leskovec 2016) with integer weights in place of the paper's
    1/p / 1 / 1/q rationals: from node v arrived-from t, candidate x
    weighs ``w_return`` if x == t, ``w_near`` if x is ALSO a neighbor of
    t (distance 1 from t), else ``w_far`` (distance 2) — all >= 1,
    enforced loudly, so the total weight is always positive.  Equal
    weights are uniform DeepWalk sampling (Perozzi et al. 2014).

    Step rule: candidates are v's SORTED out-neighbors; the pick is the
    unique candidate whose cumulative-weight window contains
    ``md5_60(cur|walk_id|i|seed) % total_weight`` — an in-row integer
    fold (one ``aggregate`` lambda over the zipped (candidate, weight)
    array), replayed relationally by the DuckDB oracle as a window
    prefix-sum, bit-for-bit, and reproducible by (seed, walk_id).  When
    every candidate weighs the same w — step 1, which has no predecessor
    (all weigh ``w_far``), and every step of a uniform walk — the fold
    reduces to the modular index ``(h % (deg·w)) div w``.  Walks stop
    early at sinks (no out-edges): the walk row keeps its prefix, giving
    skip-gram windows exactly the context that exists.

    Scale shape: each uniform step is ONE label equi-join of the walk
    frontier against the adjacency table; a biased step after the first
    does TWO (cur's neighbors for candidates, prev's for the near test —
    the price of second-order bias), all AQE-decided, probing the same
    reused exchange, plus a per-row O(deg_cur · deg_prev) membership fold
    bounded by hub degree (``array_contains`` is a linear scan).  The
    weight array is computed ONCE per row as its own projected column —
    referenced twice downstream, which keeps CollapseProject from
    inlining the fold into both consumers (SPARK-36718, the transe_margin
    stance).  Frontier rows carry only labels and a ≤ length-string
    array, never text.  The distinct EDGE list is pinned
    (:func:`_walk_scaffold`).  The adjacency table deliberately stays
    LAZY: the split A/B (200k-edge synthetic, alternating 3-round,
    warmed) read edge-pin-only 0.84/0.80/0.75 s vs +adj-pin
    1.56/1.06/1.08 s — every step's join probes one identical exchange
    Spark already reuses, while the pin serializes corpus-scale neighbor
    arrays.  Hub adjacency arrays are bounded by out-degree; for open-web
    graphs compose with a degree cap upstream.

    Output: (start_label, walk_id, walk array<string>, walk_len) —
    ``walks_per_node`` rows per graph node.
    """
    from kgx.functions.hashing import spark_md5_60

    if length < 1 or walks_per_node < 1:
        raise ValueError(
            f"bad walk shape length={length} walks_per_node={walks_per_node}"
        )
    if min(w_return, w_near, w_far) < 1:
        raise ValueError(
            f"node2vec weights must be >= 1 (zero-total draws would stall "
            f"walkers): w_return={w_return} w_near={w_near} w_far={w_far}"
        )
    uniform = w_return == w_near == w_far
    adj, cur = _walk_scaffold(triples, walks_per_node)
    padj = adj.select(
        F.col("subj").alias("psubj"), F.col("nbrs").alias("pnbrs")
    )
    for i in range(1, length):
        h = spark_md5_60(
            f"concat_ws('|', cur, cast(walk_id as string), '{i}', '{seed}')"
        )
        stepped = cur.join(adj, F.col("cur") == F.col("subj"), "left")
        if uniform or i == 1:
            # every candidate weighs w_far: the fold with constant weights
            # reduces to one modular index pick, and needs no prev adjacency
            pick = (
                f"element_at(nbrs, cast((({h}) % "
                f"(size(nbrs) * {w_far})) div {w_far} as int) + 1)"
            )
        else:
            weight = (
                f"CASE WHEN x = prev THEN cast({w_return} as bigint) "
                f"WHEN array_contains(coalesce(pnbrs, array()), x) "
                f"THEN cast({w_near} as bigint) "
                f"ELSE cast({w_far} as bigint) END"
            )
            stepped = stepped.join(
                padj, F.col("prev") == F.col("psubj"), "left"
            ).select(
                "start_label",
                "walk_id",
                "cur",
                "prev",
                "walk",
                "nbrs",
                F.expr(f"transform(nbrs, x -> {weight})").alias("ws"),
            )
            pick = (
                f"aggregate("
                f"  zip_with(nbrs, ws, (x, w) -> named_struct('x', x, 'w', w)),"
                f"  named_struct("
                f"    'rem', cast(({h}) % aggregate(ws,"
                f"                 cast(0 as bigint), (acc, v) -> acc + v) as bigint),"
                f"    'pick', cast(null as string)),"
                f"  (acc, e) -> CASE"
                f"    WHEN acc.pick IS NOT NULL THEN acc"
                f"    WHEN acc.rem < e.w THEN named_struct('rem', acc.rem, 'pick', e.x)"
                f"    ELSE named_struct('rem', acc.rem - e.w, 'pick', acc.pick) END,"
                f"  acc -> acc.pick)"
            )
        cur = stepped.select(
            "start_label",
            "walk_id",
            "cur",
            "prev",
            "walk",
            F.expr(f"CASE WHEN nbrs IS NULL THEN NULL ELSE {pick} END").alias("nxt"),
        ).select(
            "start_label",
            "walk_id",
            F.expr("coalesce(nxt, cur)").alias("cur"),
            F.expr("CASE WHEN nxt IS NULL THEN prev ELSE cur END").alias("prev"),
            F.expr(
                "CASE WHEN nxt IS NULL THEN walk "
                "ELSE array_append(walk, nxt) END"
            ).alias("walk"),
        )
    return cur.select(
        "start_label",
        "walk_id",
        "walk",
        F.expr("cast(size(walk) as bigint)").alias("walk_len"),
    )
