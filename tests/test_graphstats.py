"""Graph analytics: degree bookkeeping invariants and integer PageRank vs
an independent pure-Python reference on randomized graphs."""

import random

import pytest

from kgx.operators import graphstats

SCALE = 10**9
DAMP = 8500


def _py_pagerank(edges, iters=5, scale=SCALE, damping_bp=DAMP):
    """Driver-side reference: same integer recurrence, plain dicts."""
    edges = sorted(set(edges))
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    outdeg = {}
    for u, _ in edges:
        outdeg[u] = outdeg.get(u, 0) + 1
    base = ((10000 - damping_bp) * scale) // 10000
    rank = {n: scale for n in nodes}
    for _ in range(iters):
        s = {n: 0 for n in nodes}
        for u, v in edges:
            s[v] += rank[u] // outdeg[u]
        rank = {n: base + (damping_bp * s[n]) // 10000 for n in nodes}
    return rank


def _triples_df(spark, edges):
    return spark.createDataFrame(
        [(f"d{i}", u, "rel", v) for i, (u, v) in enumerate(edges)],
        "doc_id string, subj string, pred string, obj string",
    )


def test_degree_invariants(spark):
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("a", "b")]  # dup edge
    deg = graphstats.degree_stats(_triples_df(spark, edges)).collect()
    by = {r.label: r for r in deg}
    n_distinct = len(set(edges))
    assert sum(r.out_degree for r in deg) == n_distinct
    assert sum(r.in_degree for r in deg) == n_distinct
    assert all(r.degree == r.out_degree + r.in_degree for r in deg)
    assert by["a"].out_degree == 2 and by["a"].in_degree == 1


@pytest.mark.parametrize("seed", [7, 41])
def test_pagerank_matches_reference_on_random_graph(spark, seed):
    rng = random.Random(seed)
    labels = [f"n{i}" for i in range(30)]
    edges = list(
        {
            (rng.choice(labels), rng.choice(labels))
            for _ in range(120)
        }
    )
    edges = [(u, v) for u, v in edges if u != v]
    got = {
        r.label: r.rank
        for r in graphstats.pagerank(_triples_df(spark, edges)).collect()
    }
    assert got == _py_pagerank(edges)


def test_pagerank_hub_ranks_highest(spark):
    # star graph: everything points at 'hub'
    edges = [(f"leaf{i}", "hub") for i in range(10)]
    ranks = {
        r.label: r.rank
        for r in graphstats.pagerank(_triples_df(spark, edges)).collect()
    }
    assert max(ranks, key=ranks.get) == "hub"
    leaf_ranks = {v for k, v in ranks.items() if k != "hub"}
    assert len(leaf_ranks) == 1  # symmetric leaves tie exactly


def test_pagerank_checkpoint_equivalence(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")]
    t = _triples_df(spark, edges)
    plain = {r.label: r.rank for r in graphstats.pagerank(t, iters=6).collect()}
    ck = {
        r.label: r.rank
        for r in graphstats.pagerank(t, iters=6, checkpoint_every=2).collect()
    }
    assert plain == ck


def test_pagerank_plan_has_no_cartesian(spark):
    # the iterative plan stays equi-join shaped: no CartesianProduct or
    # BroadcastNestedLoop anywhere in 5 unrolled rounds
    edges = [("a", "b"), ("b", "c"), ("c", "a")]
    df = graphstats.pagerank(_triples_df(spark, edges))
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_triangle_counts_planted(spark):
    # K4 on {a,b,c,d} minus edge (c,d): triangles abc and abd only
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("a", "d"), ("b", "d")]
    got = {
        r.label: (r.triangles, r.degree)
        for r in graphstats.triangle_counts(_triples_df(spark, edges)).collect()
    }
    assert got == {
        "a": (2, 3),
        "b": (2, 3),
        "c": (1, 2),
        "d": (1, 2),
    }


def test_triangle_counts_direction_and_dup_insensitive(spark):
    # same triangle expressed with mixed directions and duplicate edges
    edges = [("a", "b"), ("b", "a"), ("c", "b"), ("a", "c"), ("a", "c")]
    got = {
        r.label: r.triangles
        for r in graphstats.triangle_counts(_triples_df(spark, edges)).collect()
    }
    assert got == {"a": 1, "b": 1, "c": 1}


def test_run_graph_stats_job_over_pipeline_output(spark, sf_dir, tmp_path):
    # the consumer job reads the MATERIALIZED triples table (never
    # re-extracting) and its analytics agree with operators over the same df
    import json
    import sys

    from kgx.plans import pipeline
    from kgx.sources import corpus, docs as docs_src

    graph_out = str(tmp_path / "graph")
    docs = docs_src.spans_table(
        corpus.narrative_documents(docs_src.load_documents(spark, sf_dir))
    )
    pipeline.run(
        spark, docs, pipeline.PipelineConfig(out_dir=graph_out, n_buckets=8)
    )

    sys.path.insert(0, "jobs")
    try:
        import run_graph_stats
    finally:
        sys.path.pop(0)
    stats_out = str(tmp_path / "stats")
    rc = run_graph_stats.main(["--graph", graph_out, "--out", stats_out])
    assert rc == 0

    ranks = spark.read.parquet(stats_out + "/pagerank")
    triples = pipeline.read_output(spark, graph_out, "triples")
    direct = {r.label: r.rank for r in graphstats.pagerank(triples).collect()}
    materialized = {r.label: r.rank for r in ranks.collect()}
    assert materialized == direct
    degrees = spark.read.parquet(stats_out + "/degrees")
    assert degrees.count() == len(direct)
    # round-4 outputs: communities / fixpoint k-core / negative samples
    comm = {r.label: r.community
            for r in spark.read.parquet(stats_out + "/communities").collect()}
    assert comm == {
        r.label: r.community
        for r in graphstats.label_propagation(triples).collect()
    }
    core = spark.read.parquet(stats_out + "/kcore")
    want_core, _ = graphstats.kcore_fixpoint(triples, k=2)
    assert sorted(map(tuple, core.collect())) == sorted(
        map(tuple, want_core.collect())
    )
    negs = spark.read.parquet(stats_out + "/negatives")
    assert sorted(map(tuple, negs.collect())) == sorted(
        map(tuple, graphstats.negative_samples(triples, k=2).collect())
    )


def test_pagerank_mass_bounds_and_dup_invariance(spark):
    rng = random.Random(99)
    labels = [f"m{i}" for i in range(20)]
    edges = [(u, v) for u, v in {(rng.choice(labels), rng.choice(labels))
                                 for _ in range(60)} if u != v]
    t = _triples_df(spark, edges)
    ranks = {r.label: r.rank for r in graphstats.pagerank(t).collect()}
    n, scale, base = len(ranks), SCALE, ((10000 - DAMP) * SCALE) // 10000
    # every node keeps at least the teleport floor; total mass never grows
    assert all(v >= base for v in ranks.values())
    assert sum(ranks.values()) <= n * scale
    # doc-level duplicate triples must not change the distinct edge graph
    dup = _triples_df(spark, edges + edges[: len(edges) // 2])
    assert {r.label: r.rank for r in graphstats.pagerank(dup).collect()} == ranks


def _py_lpa(edges, iters=3):
    """Driver-side reference: synchronous frequency-vote LPA with the
    (votes DESC, community ASC) tie-break, plain dicts."""
    und = sorted({(u, v) for u, v in set(edges)} | {(v, u) for u, v in set(edges)})
    nodes = sorted({u for u, _ in und})
    nbrs = {n: [] for n in nodes}
    for u, v in und:
        nbrs[u].append(v)
    lab = {n: n for n in nodes}
    for _ in range(iters):
        new = {}
        for n in nodes:
            votes = {}
            for v in nbrs[n]:
                votes[lab[v]] = votes.get(lab[v], 0) + 1
            new[n] = min(votes, key=lambda c: (-votes[c], c))
        lab = new
    return lab


def test_label_prop_two_planted_communities(spark):
    # two 4-cliques joined by ONE bridge edge: after 3 rounds each clique
    # converges to its own min label, and the bridge doesn't merge them
    left = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    right = [(a, b) for a in "wxyz" for b in "wxyz" if a < b]
    edges = left + right + [("d", "w")]
    got = {
        r.label: r.community
        for r in graphstats.label_propagation(
            _triples_df(spark, edges), iters=3
        ).collect()
    }
    assert got == _py_lpa(edges, iters=3)
    assert {got[n] for n in "abc"} == {"a"}
    assert {got[n] for n in "xyz"} == {"w"}
    assert len({got[n] for n in "abcd"} | {got[n] for n in "wxyz"}) == 2


@pytest.mark.parametrize("seed", [3, 19])
def test_label_prop_matches_reference_on_random_graph(spark, seed):
    rng = random.Random(seed)
    nodes = [f"n{i}" for i in range(24)]
    edges = {
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(60)
    }
    edges = [(u, v) for u, v in edges if u != v]
    got = {
        r.label: r.community
        for r in graphstats.label_propagation(
            _triples_df(spark, edges), iters=3
        ).collect()
    }
    assert got == _py_lpa(edges, iters=3)


def test_label_prop_direction_and_dup_insensitive(spark):
    base = [("a", "b"), ("b", "c"), ("c", "a")]
    flipped = [(v, u) for u, v in base] + base  # duplicates both ways
    g1 = graphstats.label_propagation(_triples_df(spark, base)).collect()
    g2 = graphstats.label_propagation(_triples_df(spark, flipped)).collect()
    assert sorted(map(tuple, g1)) == sorted(map(tuple, g2))


def _py_kcore(edges, k=2, iters=4):
    """Driver-side reference: synchronous bounded-round peel, plain sets."""
    und = set()
    for u, v in set(edges):
        if u != v:
            und.add((u, v))
            und.add((v, u))
    for _ in range(iters):
        deg = {}
        for u, _ in und:
            deg[u] = deg.get(u, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        und = {(u, v) for u, v in und if u in keep and v in keep}
    out = {}
    for u, _ in und:
        out[u] = out.get(u, 0) + 1
    return out


def test_kcore_planted_clique_sheds_chain(spark):
    # a 4-clique (3-core) with a pendant chain: k=2 peels the chain
    # tail-first — one round per chain link — and keeps the clique intact
    clique = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    chain = [("d", "p"), ("p", "q"), ("q", "r")]
    got = {
        r.label: r.core_degree
        for r in graphstats.kcore_fixpoint(
            _triples_df(spark, clique + chain), k=2, max_rounds=4
        )[0].collect()
    }
    assert got == _py_kcore(clique + chain, k=2, iters=4)
    assert set(got) == set("abcd")
    assert all(got[n] == 3 for n in "abcd")
    # fixpoint reached: one more round changes nothing
    more = {
        r.label: r.core_degree
        for r in graphstats.kcore_fixpoint(
            _triples_df(spark, clique + chain), k=2, max_rounds=5
        )[0].collect()
    }
    assert more == got


@pytest.mark.parametrize("seed", [5, 23])
def test_kcore_matches_reference_on_random_graph(spark, seed):
    rng = random.Random(seed)
    nodes = [f"n{i}" for i in range(24)]
    edges = [
        (u, v)
        for u, v in {(rng.choice(nodes), rng.choice(nodes)) for _ in range(55)}
        if u != v
    ]
    for iters in (1, 3):
        got = {
            r.label: r.core_degree
            for r in graphstats.kcore_fixpoint(
                _triples_df(spark, edges), k=2, max_rounds=iters
            )[0].collect()
        }
        assert got == _py_kcore(edges, k=2, iters=iters)


def test_kcore_direction_and_dup_insensitive(spark):
    base = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]
    flipped = [(v, u) for u, v in base] + base
    g1, _ = graphstats.kcore_fixpoint(_triples_df(spark, base), max_rounds=4)
    g2, _ = graphstats.kcore_fixpoint(_triples_df(spark, flipped), max_rounds=4)
    assert sorted(map(tuple, g1.collect())) == sorted(map(tuple, g2.collect()))


def _md5_60(s):
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _py_negative_samples(triples, k=2, buckets=64):
    """Driver-side reference: replay the md5-60 bucket/rank arithmetic."""
    tri = sorted(set(triples))
    labels = sorted({t[0] for t in tri} | {t[2] for t in tri})
    by_bucket = {}
    for lb in labels:  # labels sorted ⇒ ranks are label-ordered
        by_bucket.setdefault(_md5_60(lb) % buckets, []).append(lb)
    out = set()
    for s, p, o in tri:
        for j in range(k):
            h = _md5_60(f"{s}|{p}|{o}|{j}")
            cell = by_bucket.get(h % buckets)
            if not cell:
                continue
            neg = cell[(h // buckets) % len(cell)]
            if neg != o:
                out.add((s, p, o, j, neg))
    return out


def test_negative_samples_match_python_reference(spark):
    rng = random.Random(11)
    nodes = [f"ent{i}" for i in range(30)]
    triples = {
        (rng.choice(nodes), rng.choice(["r1", "r2"]), rng.choice(nodes))
        for _ in range(80)
    }
    triples = [(s, p, o) for s, p, o in triples if s != o]
    df = spark.createDataFrame(
        [(f"d{i}", s, p, o) for i, (s, p, o) in enumerate(triples)],
        "doc_id string, subj string, pred string, obj string",
    )
    got = {
        (r.subj, r.pred, r.obj, r.sample_idx, r.neg_obj)
        for r in graphstats.negative_samples(df, k=2, buckets=8).collect()
    }
    assert got == _py_negative_samples(triples, k=2, buckets=8)


def test_negative_samples_laws(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c")]
    df = _triples_df(spark, edges)
    rows = graphstats.negative_samples(df, k=3, buckets=4).collect()
    labels = {u for u, _ in edges} | {v for _, v in edges}
    per_triple = {}
    for r in rows:
        assert r.neg_obj != r.obj          # no accidental positives
        assert r.neg_obj in labels         # replacement from the node set
        assert 0 <= r.sample_idx < 3
        per_triple.setdefault((r.subj, r.pred, r.obj), set()).add(r.sample_idx)
    assert all(len(js) <= 3 for js in per_triple.values())
    again = graphstats.negative_samples(df, k=3, buckets=4).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))  # deterministic
    with pytest.raises(ValueError):
        graphstats.negative_samples(df, k=0)


def test_negative_samples_sparse_buckets(spark):
    # buckets >> nodes: most target buckets are empty — candidates whose
    # hash lands in an empty bucket are dropped identically to the
    # pure-Python reference (inner-join semantics)
    edges = [("a", "b"), ("b", "c"), ("c", "d")]
    df = _triples_df(spark, edges)
    got = {
        (r.subj, r.pred, r.obj, r.sample_idx, r.neg_obj)
        for r in graphstats.negative_samples(df, k=4, buckets=256).collect()
    }
    assert got == _py_negative_samples(
        [(u, "rel", v) for u, v in edges], k=4, buckets=256
    )


def test_kcore_fixpoint_converges_and_matches_reference(spark):
    clique = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    chain = [("d", "p"), ("p", "q"), ("q", "r")]
    core, rounds = graphstats.kcore_fixpoint(
        _triples_df(spark, clique + chain), k=2
    )
    got = {r.label: r.core_degree for r in core.collect()}
    # the 3-link pendant chain needs 3 peel rounds (+1 no-op to certify)
    assert rounds == 4
    assert got == _py_kcore(clique + chain, k=2, iters=rounds)
    assert set(got) == set("abcd") and all(v == 3 for v in got.values())


def test_training_pairs_composition(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")]
    df = _triples_df(spark, edges)
    rows = graphstats.training_pairs(df, k=2, buckets=8).collect()
    pos = {(r.subj, r.pred, r.obj) for r in rows if r.is_positive == 1}
    neg = {(r.subj, r.pred, r.obj) for r in rows if r.is_positive == 0}
    assert pos == {(u, "rel", v) for u, v in edges}
    want_neg = {
        (s, p, n)
        for (s, p, o, j, n) in _py_negative_samples(
            [(u, "rel", v) for u, v in edges], k=2, buckets=8
        )
    } - pos  # filtered setting: negatives colliding with ANY positive drop
    assert neg == want_neg
    assert pos.isdisjoint(neg)  # now a LAW (left_anti), not a lucky md5 draw


def test_training_pairs_filters_cross_triple_collisions(spark):
    """negative_samples only guarantees neg_obj != the SAME triple's obj;
    on a complete digraph EVERY corruption to a non-self node coincides
    with a different true positive.  training_pairs must anti-join those
    away (the KG-embedding 'filtered' setting), or the set would carry the
    same (subj, pred, obj) labeled both 1 and 0."""
    nodes = [f"n{i}" for i in range(6)]
    edges = [(u, v) for u in nodes for v in nodes if u != v]
    tri = [(u, "rel", v) for u, v in edges]
    raw = {(s, p, n) for (s, p, o, j, n) in _py_negative_samples(tri, k=3, buckets=8)}
    pos_set = set(tri)
    assert raw & pos_set  # the fixture really plants cross-triple collisions
    rows = graphstats.training_pairs(
        _triples_df(spark, edges), k=3, buckets=8
    ).collect()
    neg = {(r.subj, r.pred, r.obj) for r in rows if r.is_positive == 0}
    assert neg == raw - pos_set
    # on this graph the only survivable corruptions are self-loops
    assert all(s == o for (s, p, o) in neg)
    assert pos_set.isdisjoint(neg)



def test_run_embedding_prep_job_over_pipeline_output(spark, sf_dir, tmp_path):
    """The embedding-prep job's training_pairs table agrees with the
    operator run directly over the same materialized triples."""
    import sys

    from kgx.plans import pipeline
    from kgx.sources import corpus, docs as docs_src

    graph_out = str(tmp_path / "graph")
    docs = docs_src.spans_table(
        corpus.narrative_documents(docs_src.load_documents(spark, sf_dir))
    )
    pipeline.run(
        spark, docs, pipeline.PipelineConfig(out_dir=graph_out, n_buckets=8)
    )
    sys.path.insert(0, "jobs")
    try:
        import run_embedding_prep
    finally:
        sys.path.pop(0)
    prep_out = str(tmp_path / "training")
    rc = run_embedding_prep.main(["--graph", graph_out, "--out", prep_out])
    assert rc == 0

    triples = pipeline.read_output(spark, graph_out, "triples")
    tp = spark.read.parquet(prep_out + "/training_pairs")
    assert tp.where("is_positive = 1").count() > 0
    assert tp.where("is_positive = 0").count() > 0
    assert sorted(map(tuple, tp.collect())) == sorted(
        map(tuple, graphstats.training_pairs(triples).collect())
    )
