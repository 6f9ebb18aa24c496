"""Graph analytics: degree bookkeeping invariants and integer PageRank vs
an independent pure-Python reference on randomized graphs."""

import random

import pytest
from pyspark.sql import functions as F

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


def _nodes_df(spark, docs):
    """docs: {doc_id: [labels]} -> nodes-table shape."""
    rows = [
        (d, f"n{i + 1}", lab, "Entity")
        for d, labs in docs.items()
        for i, lab in enumerate(labs)
    ]
    return spark.createDataFrame(
        rows, "doc_id string, node_id string, label string, node_type string"
    )


def _py_cooc(docs, min_co=2):
    from collections import Counter

    dl = {(d, l) for d, labs in docs.items() for l in labs}
    margins = Counter(l for _, l in dl)
    n = len({d for d, _ in dl})
    co = Counter()
    for d in {d for d, _ in dl}:
        labs = sorted(l for dd, l in dl if dd == d)
        for i, a in enumerate(labs):
            for b in labs[i + 1:]:
                co[(a, b)] += 1
    return {
        (a, b): (
            c, margins[a], margins[b],
            ((10000 * c) // margins[a]) * n // margins[b],
        )
        for (a, b), c in co.items()
        if c >= min_co
    }


def test_entity_cooccurrence_lift_semantics(spark):
    # X and Y always together (perfectly dependent); X and Z independent-ish
    docs = {
        "d1": ["X", "Y", "Z"],
        "d2": ["X", "Y"],
        "d3": ["X", "Y", "Z"],
        "d4": ["Z"],
        "d5": ["W", "W"],  # dup labels inside a doc count once
    }
    got = {
        (r.label_a, r.label_b): (r.co_docs, r.docs_a, r.docs_b, r.lift_bp)
        for r in graphstats.entity_cooccurrence(
            _nodes_df(spark, docs), min_co=2
        ).collect()
    }
    assert got == _py_cooc(docs, min_co=2)
    # perfectly-dependent pair: lift = n / docs_y = 5/3 -> 16666 bp
    assert got[("X", "Y")] == (3, 3, 3, 16666)
    # X-Z co-occurs twice in 5 docs: ((10000*2)//3)*5//3 = 11110
    assert got[("X", "Z")] == (2, 3, 3, 11110)
    # W never pairs (single-label docs dedup internally)
    assert not any("W" in k for k in got)


@pytest.mark.parametrize("seed", [5, 23])
def test_entity_cooccurrence_matches_reference(spark, seed):
    rng = random.Random(seed)
    labels = [f"E{i}" for i in range(12)]
    docs = {
        f"d{j}": rng.sample(labels, rng.randint(1, 6)) for j in range(30)
    }
    got = {
        (r.label_a, r.label_b): (r.co_docs, r.docs_a, r.docs_b, r.lift_bp)
        for r in graphstats.entity_cooccurrence(
            _nodes_df(spark, docs), min_co=2
        ).collect()
    }
    assert got == _py_cooc(docs, min_co=2)


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


def _py_link_candidates(edges, max_degree=64, min_common=2):
    """Driver-side reference for common-neighbor candidates."""
    und = set()
    for u, v in set(edges):
        if u != v:
            und.add((u, v)); und.add((v, u))
    nbrs, deg = {}, {}
    for u, v in und:
        nbrs.setdefault(u, set()).add(v)
        deg[u] = deg.get(u, 0) + 1
    cn = {}
    for c, ns in nbrs.items():
        if len(ns) > max_degree:
            continue
        ns = sorted(ns)
        for i, a in enumerate(ns):
            for b in ns[i + 1:]:
                cn[(a, b)] = cn.get((a, b), 0) + 1
    out = {}
    for (a, b), c in cn.items():
        if c < min_common:
            continue
        jac = (10000 * c) // (deg[a] + deg[b] - c)
        out[(a, b)] = (c, deg[a], deg[b], jac, 1 if (a, b) in und else 0)
    return out


@pytest.mark.parametrize("seed", [13, 29])
def test_link_candidates_match_reference(spark, seed):
    rng = random.Random(seed)
    nodes = [f"n{i}" for i in range(20)]
    edges = [
        (u, v)
        for u, v in {(rng.choice(nodes), rng.choice(nodes)) for _ in range(70)}
        if u != v
    ]
    got = {
        (r.label_a, r.label_b): (
            r.common_neighbors, r.degree_a, r.degree_b, r.jaccard_bp, r.is_edge
        )
        for r in graphstats.common_neighbor_candidates(
            _triples_df(spark, edges), max_degree=6, min_common=2
        ).collect()
    }
    assert got == _py_link_candidates(edges, max_degree=6, min_common=2)


def test_link_candidates_hub_cap_drops_hub_wedges(spark):
    # star: hub h connected to 8 leaves; every leaf pair shares ONLY h.
    # With max_degree < 8 the hub generates no wedges -> no candidates.
    star = [("h", f"l{i}") for i in range(8)]
    none = graphstats.common_neighbor_candidates(
        _triples_df(spark, star), max_degree=4, min_common=1
    ).collect()
    assert none == []
    # uncapped, all 28 leaf pairs appear with exactly one common neighbor
    full = graphstats.common_neighbor_candidates(
        _triples_df(spark, star), max_degree=64, min_common=1
    ).collect()
    assert len(full) == 28  # all C(8,2) leaf pairs, one common neighbor each
    assert all(r.common_neighbors == 1 and r.is_edge == 0 for r in full)


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


# ---------------------------------------------------------------------------
# random walks — node2vec_walks with equal weights is the DeepWalk corpus
# ---------------------------------------------------------------------------

UNIFORM = dict(w_return=1, w_near=1, w_far=1)


def _py_random_walks(edges, length=4, walks_per_node=2, seed=0):
    """Driver-side reference: same md5-60 step arithmetic, plain dicts."""
    import hashlib

    def md5_60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    e = sorted(set(edges))
    adj = {}
    for u, v in e:
        adj.setdefault(u, set()).add(v)
    adj = {u: sorted(vs) for u, vs in adj.items()}
    nodes = sorted({u for u, _ in e} | {v for _, v in e})
    out = {}
    for n in nodes:
        for w in range(walks_per_node):
            cur, walk = n, [n]
            for i in range(1, length):
                nbrs = adj.get(cur)
                if nbrs:
                    cur = nbrs[md5_60(f"{cur}|{w}|{i}|{seed}") % len(nbrs)]
                    walk.append(cur)
            out[(n, w)] = walk
    return out


@pytest.mark.parametrize("seed", [7, 41])
def test_random_walks_match_reference_on_random_graph(spark, seed):
    rng = random.Random(seed)
    labels = [f"n{i}" for i in range(25)]
    edges = [(u, v) for u, v in {(rng.choice(labels), rng.choice(labels))
                                 for _ in range(80)} if u != v]
    got = {(r.start_label, r.walk_id): list(r.walk)
           for r in graphstats.node2vec_walks(
               _triples_df(spark, edges), length=5, walks_per_node=3,
               seed=seed, **UNIFORM).collect()}
    assert got == _py_random_walks(edges, length=5, walks_per_node=3, seed=seed)


def test_random_walks_laws(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("c", "d")]
    rows = graphstats.node2vec_walks(
        _triples_df(spark, edges), length=6, walks_per_node=2, **UNIFORM
    ).collect()
    eset = set(edges)
    nodes = {u for u, _ in edges} | {v for _, v in edges}
    assert len(rows) == 2 * len(nodes)  # walks_per_node rows per node
    for r in rows:
        assert r.walk[0] == r.start_label
        assert r.walk_len == len(r.walk)
        # every consecutive pair is a real directed edge
        assert all((r.walk[i], r.walk[i + 1]) in eset
                   for i in range(len(r.walk) - 1))
        # 'd' is a sink: its walks never grow
        if r.start_label == "d":
            assert list(r.walk) == ["d"]
        else:
            assert r.walk_len == 6  # this graph has no other early stop


def test_random_walks_validates(spark):
    with pytest.raises(ValueError):
        graphstats.node2vec_walks(
            _triples_df(spark, [("a", "b")]), length=0, **UNIFORM)
    with pytest.raises(ValueError):
        graphstats.node2vec_walks(
            _triples_df(spark, [("a", "b")]), walks_per_node=0, **UNIFORM)


def _py_skipgram(walks, window=2):
    out = {}
    for walk in walks.values():
        L = len(walk)
        for i in range(L):
            for j in range(max(0, i - window), min(L, i + window + 1)):
                if j != i:
                    key = (walk[i], walk[j])
                    out[key] = out.get(key, 0) + 1
    return out


@pytest.mark.parametrize("seed", [7, 41])
def test_walk_skipgram_matches_reference(spark, seed):
    rng = random.Random(seed)
    labels = [f"n{i}" for i in range(20)]
    edges = [(u, v) for u, v in {(rng.choice(labels), rng.choice(labels))
                                 for _ in range(60)} if u != v]
    walks_df = graphstats.node2vec_walks(
        _triples_df(spark, edges), length=5, walks_per_node=2, seed=seed,
        **UNIFORM)
    got = {(r.center, r.context): r.n_pairs
           for r in graphstats.walk_skipgram_pairs(walks_df, window=2).collect()}
    ref = _py_skipgram(
        _py_random_walks(edges, length=5, walks_per_node=2, seed=seed),
        window=2)
    assert got == ref


def test_walk_skipgram_laws(spark):
    # one fixed 4-walk: pairs and counts are hand-checkable
    import pandas as pd

    walks = spark.createDataFrame(
        pd.DataFrame({"start_label": ["a"], "walk_id": [0],
                      "walk": [["a", "b", "a", "c"]], "walk_len": [4]})
    )
    got = {(r.center, r.context): r.n_pairs
           for r in graphstats.walk_skipgram_pairs(walks, window=1).collect()}
    # adjacent pairs only, multiplicity kept, symmetric by construction
    assert got == {("a", "b"): 2, ("b", "a"): 2, ("a", "c"): 1, ("c", "a"): 1}
    total = sum(got.values())
    assert total == 2 * 3  # 2 * (L - 1) ordered adjacent pairs
    with pytest.raises(ValueError):
        graphstats.walk_skipgram_pairs(walks, window=0)


@pytest.fixture(scope="module")
def prep_graph(spark, sf_dir, tmp_path_factory):
    """One materialized pipeline run shared by every embedding-prep job
    test — each pipeline.run is a multi-second Spark job, and the job
    tests only READ the graph output."""
    from kgx.plans import pipeline
    from kgx.sources import corpus, docs as docs_src

    graph_out = str(tmp_path_factory.mktemp("prep") / "graph")
    docs = docs_src.spans_table(
        corpus.narrative_documents(docs_src.load_documents(spark, sf_dir))
    )
    pipeline.run(
        spark, docs, pipeline.PipelineConfig(out_dir=graph_out, n_buckets=8)
    )
    return graph_out


def test_run_embedding_prep_job_over_pipeline_output(spark, prep_graph, tmp_path):
    """The embedding-prep job's tables agree with the operators run
    directly over the same materialized triples."""
    import sys

    from kgx.plans import pipeline

    graph_out = prep_graph
    sys.path.insert(0, "jobs")
    try:
        import run_embedding_prep
    finally:
        sys.path.pop(0)
    prep_out = str(tmp_path / "training")
    rc = run_embedding_prep.main(
        ["--graph", graph_out, "--out", prep_out,
         "--walk-length", "4", "--walks-per-node", "2"]
    )
    assert rc == 0

    triples = pipeline.read_output(spark, graph_out, "triples")
    direct_walks = {(r.start_label, r.walk_id): list(r.walk)
                    for r in graphstats.node2vec_walks(
                        triples, length=4, walks_per_node=2,
                        **UNIFORM).collect()}
    materialized = {(r.start_label, r.walk_id): list(r.walk)
                    for r in spark.read.parquet(prep_out + "/walks").collect()}
    assert materialized == direct_walks
    pairs = {(r.center, r.context): r.n_pairs
             for r in spark.read.parquet(prep_out + "/skipgram_pairs").collect()}
    assert pairs and all(v >= 1 for v in pairs.values())
    # every pair is backed by some walk window
    tp = spark.read.parquet(prep_out + "/training_pairs")
    assert tp.where("is_positive = 1").count() > 0
    assert tp.where("is_positive = 0").count() > 0
    # the epoch-zero audit agrees with transe_margin run over the
    # materialized contrastive set directly
    tm = {r.pred: (r.n_pos, r.n_neg, r.margin)
          for r in spark.read.parquet(prep_out + "/transe_margin").collect()}
    direct = {r.pred: (r.n_pos, r.n_neg, r.margin)
              for r in graphstats.transe_margin(tp).collect()}
    assert tm == direct and tm


# ---------------------------------------------------------------------------
# transe_margin: hash-embedding TransE energy audit
# ---------------------------------------------------------------------------


def _py_transe_margin(pairs, dim=8, modulus=1024):
    """Driver-side reference: replay md5-60 + universal-hash embedding
    components and the L1 energy per pair, aggregate per pred."""
    from kgx.functions.hashing import MERSENNE31, _uh_coeffs

    half = modulus // 2

    def comp(h, d):
        a, b = _uh_coeffs(d)
        return ((a * (h % MERSENNE31) + b) % MERSENNE31) % modulus - half

    agg = {}
    for s, p, o, pos in pairs:
        hs, hp, ho = _md5_60("e|" + s), _md5_60("r|" + p), _md5_60("e|" + o)
        e = sum(abs(comp(hs, d) + comp(hp, d) - comp(ho, d)) for d in range(dim))
        n_pos, n_neg, sp, sn = agg.get(p, (0, 0, 0, 0))
        agg[p] = (
            (n_pos + 1, n_neg, sp + e, sn) if pos else (n_pos, n_neg + 1, sp, sn + e)
        )
    out = {}
    for p, (n_pos, n_neg, sp, sn) in agg.items():
        mp = sp // n_pos if n_pos else None
        mn = sn // n_neg if n_neg else None
        out[p] = (
            n_pos, n_neg, sp, sn, mp, mn,
            (mn - mp) if n_pos and n_neg else None,
        )
    return out


def _pairs_df(spark, pairs):
    return spark.createDataFrame(
        list(pairs), "subj string, pred string, obj string, is_positive long"
    )


@pytest.mark.parametrize("seed", [11, 37])
def test_transe_margin_matches_reference(spark, seed):
    rng = random.Random(seed)
    labels = [f"n{i}" for i in range(12)]
    preds = ["works_at", "located_in", "founded"]
    pairs = [
        (rng.choice(labels), rng.choice(preds), rng.choice(labels),
         rng.randint(0, 1))
        for _ in range(80)
    ]
    # a pred with ONLY positives exercises the NULL mean/margin guard
    pairs += [(labels[0], "pos_only", labels[1], 1)]
    got = {
        r.pred: (r.n_pos, r.n_neg, r.sum_pos_energy, r.sum_neg_energy,
                 r.mean_pos_energy, r.mean_neg_energy, r.margin)
        for r in graphstats.transe_margin(_pairs_df(spark, pairs)).collect()
    }
    assert got == _py_transe_margin(pairs)
    assert got["pos_only"][5] is None and got["pos_only"][6] is None


def test_transe_margin_composes_over_training_pairs(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c")]
    tp = graphstats.training_pairs(_triples_df(spark, edges), k=2, buckets=8)
    tp_rows = [(r.subj, r.pred, r.obj, r.is_positive) for r in tp.collect()]
    got = {
        r.pred: (r.n_pos, r.n_neg, r.sum_pos_energy, r.sum_neg_energy,
                 r.mean_pos_energy, r.mean_neg_energy, r.margin)
        for r in graphstats.transe_margin(tp).collect()
    }
    assert got == _py_transe_margin(tp_rows)
    # the single 'rel' pred aggregates every distinct positive exactly once
    assert got["rel"][0] == len(set(edges))


def test_transe_margin_energy_bound_and_determinism(spark):
    # |comp| <= modulus/2, so energy <= dim * 3 * modulus/2; and two runs
    # over the same input are bit-identical (pure hash arithmetic).
    pairs = [("x", "p", "y", 1), ("x", "p", "z", 0), ("y", "q", "z", 1)]
    df = _pairs_df(spark, pairs)
    a = sorted(map(tuple, graphstats.transe_margin(df, dim=4, modulus=64).collect()))
    b = sorted(map(tuple, graphstats.transe_margin(df, dim=4, modulus=64).collect()))
    assert a == b
    for row in a:
        for v in (row[3], row[2]):  # sum energies
            assert 0 <= v <= 3 * (4 * 3 * 32)


# ---------------------------------------------------------------------------
# two_hop_stats: degree-capped two-hop neighborhood size
# ---------------------------------------------------------------------------


def _py_two_hop(edges, max_degree):
    und = set()
    for u, v in edges:
        if u != v:
            und.add((u, v)); und.add((v, u))
    nbrs = {}
    for u, v in und:
        nbrs.setdefault(u, set()).add(v)
    out = {}
    for u in nbrs:
        two = set()
        for c in nbrs[u]:
            if len(nbrs[c]) <= max_degree:
                two |= nbrs[c]
        two -= nbrs[u] | {u}
        d = len(nbrs[u])
        out[u] = (d, len(two), (10000 * len(two)) // d)
    return out


def test_two_hop_path_graph(spark):
    # a-b-c-d: a's 2-hop = {c}, b's = {d}, symmetric
    edges = [("a", "b"), ("b", "c"), ("c", "d")]
    got = {r.label: (r.degree, r.two_hop, r.expansion_bp)
           for r in graphstats.two_hop_stats(_triples_df(spark, edges)).collect()}
    assert got == {"a": (1, 1, 10000), "b": (2, 1, 5000),
                   "c": (2, 1, 5000), "d": (1, 1, 10000)}


def test_two_hop_hub_cap(spark):
    star = [("h", f"l{i}") for i in range(8)]
    # uncapped: each leaf reaches the 7 other leaves through h
    full = {r.label: r.two_hop
            for r in graphstats.two_hop_stats(
                _triples_df(spark, star), max_degree=64).collect()}
    assert full["h"] == 0 and all(full[f"l{i}"] == 7 for i in range(8))
    # hub capped out: no center generates paths -> all zeros
    capped = {r.label: r.two_hop
              for r in graphstats.two_hop_stats(
                  _triples_df(spark, star), max_degree=4).collect()}
    assert set(capped.values()) == {0}


@pytest.mark.parametrize("seed", [9, 31])
def test_two_hop_matches_reference(spark, seed):
    rng = random.Random(seed)
    labels = [f"n{i}" for i in range(16)]
    edges = [(u, v) for u, v in {(rng.choice(labels), rng.choice(labels))
                                 for _ in range(40)} if u != v]
    got = {r.label: (r.degree, r.two_hop, r.expansion_bp)
           for r in graphstats.two_hop_stats(
               _triples_df(spark, edges), max_degree=5).collect()}
    assert got == _py_two_hop(edges, max_degree=5)


# ---------------------------------------------------------------------------
# node2vec_walks: second-order biased walks
# ---------------------------------------------------------------------------


def _py_node2vec(edges, length, walks_per_node, seed,
                 w_return=1, w_near=4, w_far=2):
    adj = {}
    for u, v in sorted(set(edges)):
        adj.setdefault(u, set()).add(v)
    adj = {u: sorted(vs) for u, vs in adj.items()}
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    out = {}
    for n in nodes:
        for w in range(walks_per_node):
            cur, prev, walk = n, None, [n]
            for i in range(1, length):
                nbrs = adj.get(cur)
                if not nbrs:
                    break
                ws = []
                for x in nbrs:
                    if prev is not None and x == prev:
                        ws.append(w_return)
                    elif prev is not None and x in adj.get(prev, []):
                        ws.append(w_near)
                    else:
                        ws.append(w_far)
                r = _md5_60(f"{cur}|{w}|{i}|{seed}") % sum(ws)
                for x, wt in zip(nbrs, ws):
                    if r < wt:
                        pick = x
                        break
                    r -= wt
                walk.append(pick)
                prev, cur = cur, pick
            out[(n, w)] = walk
    return out


@pytest.mark.parametrize("seed", [5, 23])
def test_node2vec_matches_reference(spark, seed):
    rng = random.Random(seed)
    labels = [f"n{i}" for i in range(18)]
    edges = [(u, v) for u, v in {(rng.choice(labels), rng.choice(labels))
                                 for _ in range(55)} if u != v]
    got = {(r.start_label, r.walk_id): list(r.walk)
           for r in graphstats.node2vec_walks(
               _triples_df(spark, edges), length=5, walks_per_node=2,
               seed=seed, w_return=1, w_near=4, w_far=2).collect()}
    assert got == _py_node2vec(edges, length=5, walks_per_node=2, seed=seed)
    # equal weights above 1: the uniform pick (h % (deg·w)) div w, which
    # is not h % deg
    got = {(r.start_label, r.walk_id): list(r.walk)
           for r in graphstats.node2vec_walks(
               _triples_df(spark, edges), length=5, walks_per_node=2,
               seed=seed, w_return=3, w_near=3, w_far=3).collect()}
    assert got == _py_node2vec(edges, length=5, walks_per_node=2, seed=seed,
                               w_return=3, w_near=3, w_far=3)
    assert got != _py_random_walks(edges, length=5, walks_per_node=2, seed=seed)


def test_node2vec_uniform_walk_skips_the_prev_join(spark):
    """A uniform walk of length L joins the frontier against the adjacency
    table once per step (L - 1 joins); a biased walk adds the prev
    adjacency join on every step after the first.  Counted in the plan
    as built, before the optimizer drops joins whose columns go unread."""
    triples = _triples_df(spark, [("a", "b"), ("b", "c"), ("c", "a")])

    def joins(**weights):
        walks = graphstats.node2vec_walks(triples, length=5, **weights)
        return walks._jdf.queryExecution().analyzed().toString().count(
            "Join LeftOuter")

    assert joins(w_return=1, w_near=1, w_far=1) == 4
    assert joins(w_return=2, w_near=2, w_far=2) == 4
    assert joins(w_return=1, w_near=4, w_far=2) == 4 + 3


def test_node2vec_walks_follow_edges_and_stop_at_sinks(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]  # d is a sink
    eset = set(edges)
    rows = graphstats.node2vec_walks(
        _triples_df(spark, edges), length=6, walks_per_node=2).collect()
    for r in rows:
        for u, v in zip(r.walk, r.walk[1:]):
            assert (u, v) in eset  # every hop is a real directed edge
        assert r.walk_len == len(r.walk)
    d_walks = [r for r in rows if r.start_label == "d"]
    assert all(r.walk == ["d"] for r in d_walks)  # sink keeps its prefix


def test_node2vec_rejects_zero_weights(spark):
    edges = [("a", "b")]
    with pytest.raises(ValueError, match="weights must be >= 1"):
        graphstats.node2vec_walks(_triples_df(spark, edges), w_near=0)


def test_run_embedding_prep_job_biased_walks(spark, prep_graph, tmp_path):
    """--biased switches the walk sampler to node2vec; the materialized
    corpus equals node2vec_walks run directly with the same weights."""
    import sys

    from kgx.plans import pipeline

    graph_out = prep_graph
    sys.path.insert(0, "jobs")
    try:
        import run_embedding_prep
    finally:
        sys.path.pop(0)
    prep_out = str(tmp_path / "training")
    rc = run_embedding_prep.main(
        ["--graph", graph_out, "--out", prep_out,
         "--walk-length", "4", "--walks-per-node", "1",
         "--negatives-k", "0", "--biased", "--w-return", "2", "--w-near", "3"]
    )
    assert rc == 0
    triples = pipeline.read_output(spark, graph_out, "triples")
    direct = {(r.start_label, r.walk_id): list(r.walk)
              for r in graphstats.node2vec_walks(
                  triples, length=4, walks_per_node=1,
                  w_return=2, w_near=3, w_far=2).collect()}
    materialized = {(r.start_label, r.walk_id): list(r.walk)
                    for r in spark.read.parquet(prep_out + "/walks").collect()}
    assert materialized == direct


def test_run_embedding_prep_rejects_weights_without_biased(capsys):
    """The node2vec weight flags only shape --biased walks; passing one
    without --biased is a usage error, not a silently ignored flag."""
    import sys

    sys.path.insert(0, "jobs")
    try:
        import run_embedding_prep
    finally:
        sys.path.pop(0)
    for flag in ("--w-return", "--w-near", "--w-far"):
        with pytest.raises(SystemExit) as exc:
            run_embedding_prep.main(["--graph", "g", "--out", "o", flag, "3"])
        assert exc.value.code == 2
        assert "--biased" in capsys.readouterr().err
