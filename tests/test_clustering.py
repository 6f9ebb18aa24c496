"""Integer-arithmetic k-means (kgx.operators.clustering).

Covers: equivalence against a pure-Python Lloyd reference on the real
embeddings table, Lloyd's monotone-improvement property, the DIV/`//`
truncation-parity assumption the DuckDB oracle rests on, and a plan guard
(the only cross joins are broadcast of the k-row centroid table)."""

import math

import pytest
from pyspark.sql import functions as F

from kgx.operators import clustering
from kgx.operators.similarity import QUANT


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def _py_kmeans(rows, k, rounds):
    """Pure-Python reference replaying the exact integer contract."""
    def _half_up(v):
        # Spark/DuckDB round(): ties away from zero (never hit in practice
        # with double products, emulated exactly anyway)
        return math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)

    vecs = {}
    for vec_id, embedding in rows:
        q = [_half_up(float(x) * QUANT) for x in embedding]
        if sum(v * v for v in q) > 0:
            vecs[vec_id] = q
    cents = {i: list(vecs[i]) for i in sorted(vecs) if i < k}

    def assign(cents):
        out = {}
        for vid, q in vecs.items():
            best = None
            for cid in sorted(cents):
                c = cents[cid]
                cn = sum(x * x for x in c)
                if cn <= 0:
                    continue
                dot = sum(a * b for a, b in zip(q, c))
                score = dot / math.sqrt(cn)
                if best is None or score > best[0]:
                    best = (score, cid)
            out[vid] = best[1]
        return out

    for _ in range(rounds):
        a = assign(cents)
        nxt = {}
        for cid in set(a.values()):
            members = [vecs[v] for v, c in a.items() if c == cid]
            n = len(members)
            # toward-zero truncation, matching Spark DIV / DuckDB //
            c = [s // n if s >= 0 else -((-s) // n) for s in (sum(col) for col in zip(*members))]
            if sum(x * x for x in c) > 0:
                nxt[cid] = c
        cents = nxt
    return assign(cents), cents


def test_kmeans_matches_pure_python(spark, emb):
    rows = [(r.vec_id, r.embedding) for r in emb.select("vec_id", "embedding").collect()]
    expect, cents = _py_kmeans(rows, k=8, rounds=2)

    got = {
        r.vec_id: r.cluster
        for r in clustering.kmeans_assign(emb, k=8, rounds=2).collect()
    }
    assert got == expect


def test_kmeans_cosines_bounded_and_improving(spark, emb):
    """Every reported cosine is in [-1, 1]; mean cosine after 2 update
    rounds >= mean cosine with the raw init centroids (Lloyd never worsens
    the mean similarity to the assigned centroid)."""
    r0 = clustering.kmeans_assign(emb, k=8, rounds=0)
    r2 = clustering.kmeans_assign(emb, k=8, rounds=2)
    m0 = r0.agg(F.avg("cosine")).first()[0]
    m2 = r2.agg(F.avg("cosine")).first()[0]
    mx = r2.agg(F.max("cosine"), F.min("cosine")).first()
    assert mx[0] <= 1.0 + 1e-12 and mx[1] >= -1.0 - 1e-12
    assert m2 >= m0 - 1e-12


def test_div_truncation_parity(spark):
    """The oracle's correctness rests on Spark DIV == DuckDB // (both
    truncate toward zero). Pin both engines on negative/positive mixes."""
    import duckdb

    cases = [(-7, 2), (7, 2), (-7, -2), (5, 3), (-5, 3), (0, 4), (-1, 5)]
    got_spark = spark.sql(
        "SELECT " + ", ".join(f"{a} DIV {b}" for a, b in cases)
    ).first()
    got_duck = duckdb.sql(
        "SELECT " + ", ".join(f"({a}) // ({b})" for a, b in cases)
    ).fetchone()
    assert tuple(got_spark) == tuple(got_duck)
    assert tuple(got_duck) == tuple(int(a / b) for a, b in cases)


def test_kmeans_plan_no_unbroadcast_cartesian(spark, emb):
    plan = clustering.kmeans_assign(emb, k=8, rounds=1)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_semdedup_matches_pure_python(spark, emb):
    """Keep-first within-cluster dedup replayed exactly in Python over the
    same integer contract."""
    tau = 0.4
    rows = [(r.vec_id, r.embedding) for r in emb.select("vec_id", "embedding").collect()]
    assign, _ = _py_kmeans(rows, k=8, rounds=2)

    def _half_up(v):
        return math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)

    vecs = {}
    for vec_id, embedding in rows:
        q = [_half_up(float(x) * QUANT) for x in embedding]
        if sum(v * v for v in q) > 0:
            vecs[vec_id] = q

    def cos(u, v):
        du = sum(a * b for a, b in zip(vecs[u], vecs[v]))
        return du / (
            math.sqrt(sum(a * a for a in vecs[u]))
            * math.sqrt(sum(b * b for b in vecs[v]))
        )

    expect = {}
    for v in sorted(assign):
        mates = [u for u in sorted(assign) if u < v and assign[u] == assign[v]
                 and cos(u, v) >= tau]
        expect[v] = (assign[v], min(mates) if mates else None, bool(mates))

    from kgx.operators import clustering

    got = {
        r.vec_id: (r.cluster, r.dup_of, r.is_duplicate)
        for r in clustering.semdedup(emb, k=8, rounds=2, min_cosine=tau).collect()
    }
    assert got == expect
    assert any(d for (_, _, d) in got.values())  # the gate threshold bites


def test_semdedup_keepers_cover_every_cluster(spark, emb):
    from kgx.operators import clustering

    out = clustering.semdedup(emb, k=8, rounds=2, min_cosine=0.4)
    keep_clusters = {r.cluster for r in out.where("NOT is_duplicate").collect()}
    all_clusters = {r.cluster for r in out.collect()}
    assert keep_clusters == all_clusters  # keep-first never empties a cluster


def test_kmeans_k_exceeding_corpus_is_total(spark, emb):
    """k larger than the vector count: every nonzero vector is its own
    initial centroid; output still covers every vector exactly once."""
    small = emb.where("vec_id < 20")
    out = clustering.kmeans_assign(small, k=64, rounds=1).collect()
    assert len(out) == 20
    assert len({r.vec_id for r in out}) == 20


def test_kmeans_ignores_zero_vectors(spark):
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [0, 1, 2],
                "embedding": [[1.0, 0.0], [0.0, 0.0], [0.5, 0.5]],
            }
        )
    )
    out = clustering.kmeans_assign(df, k=2, rounds=1).collect()
    assert {r.vec_id for r in out} == {0, 2}  # the zero vector drops


# ---------------------------------------------------------------------------
# pq_codes: product quantization
# ---------------------------------------------------------------------------


def _py_pq(rows, m, k, rounds):
    """Pure-Python PQ reference: same quantization, per-subspace Lloyd's
    with exact integer squared-L2 and toward-zero centroid means."""

    def _half_up(v):
        return math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)

    vecs = {
        vec_id: [_half_up(float(x) * QUANT) for x in embedding]
        for vec_id, embedding in rows
    }
    dim = len(next(iter(vecs.values())))
    assert dim % m == 0
    dsub = dim // m
    subs = {
        (vid, s): q[s * dsub:(s + 1) * dsub]
        for vid, q in vecs.items()
        for s in range(m)
    }
    cents = {
        (s, vid): list(subs[(vid, s)])
        for vid in sorted(vecs)
        if vid < k
        for s in range(m)
    }

    def assign(cents):
        out = {}
        for (vid, s), sq in subs.items():
            best = None
            for (cs, code) in sorted(cents):
                if cs != s:
                    continue
                c = cents[(cs, code)]
                d = sum((a - b) * (a - b) for a, b in zip(sq, c))
                if best is None or (d, code) < best:
                    best = (d, code)
            out[(vid, s)] = best
        return out

    for _ in range(rounds):
        a = assign(cents)
        nxt = {}
        for (s, code) in {(s, b[1]) for (v, s), b in a.items()}:
            members = [
                subs[(vid, sub)] for (vid, sub), b in a.items()
                if sub == s and b[1] == code
            ]
            n = len(members)
            nxt[(s, code)] = [
                t // n if t >= 0 else -((-t) // n)
                for t in (sum(col) for col in zip(*members))
            ]
        cents = nxt
    return assign(cents)


def test_pq_codes_matches_pure_python(spark, emb):
    rows = [(r.vec_id, r.embedding) for r in emb.select("vec_id", "embedding").collect()]
    expect = _py_pq(rows, m=8, k=16, rounds=2)
    got = {
        (r.vec_id, r.subspace): (r.sq_dist, r.code)
        for r in clustering.pq_codes(emb, m=8, k=16, rounds=2).collect()
    }
    assert got == expect


def test_pq_codes_shape_and_zero_vectors(spark):
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [0, 1, 2, 3],
                "embedding": [
                    [1.0, 0.0, 0.0, 1.0],
                    [0.0, 0.0, 0.0, 0.0],  # zero vector stays codable (L2)
                    [0.5, 0.5, -0.5, 0.5],
                    [1.0, 0.1, 0.0, 0.9],
                ],
            }
        )
    )
    out = clustering.pq_codes(df, m=2, k=2, rounds=1).collect()
    assert len(out) == 4 * 2  # m rows per vector, zero vector INCLUDED
    assert all(r.sq_dist >= 0 for r in out)
    # the zero vector's nearest code exists and its distance is exact
    z = [r for r in out if r.vec_id == 1]
    assert len(z) == 2


def test_pq_codes_reconstruction_improves_with_rounds(spark, emb):
    """Lloyd never worsens total squared reconstruction error."""
    e0 = clustering.pq_codes(emb, m=8, k=16, rounds=0).agg(
        F.sum("sq_dist")
    ).first()[0]
    e2 = clustering.pq_codes(emb, m=8, k=16, rounds=2).agg(
        F.sum("sq_dist")
    ).first()[0]
    assert e2 <= e0


def test_pq_codes_rejects_indivisible_dim(spark):
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": [0], "embedding": [[1.0, 2.0, 3.0]]})
    )
    with pytest.raises(Exception, match="not divisible"):
        clustering.pq_codes(df, m=2, k=1, rounds=0).collect()


def test_pq_codes_plan_no_unbroadcast_cartesian(spark, emb):
    plan = (
        clustering.pq_codes(emb, m=8, k=16, rounds=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan


def _py_pq_topk(rows, n_queries, k, m, k_codes, rounds):
    """ADC reference composed over _py_pq's trained state: rebuild the
    codebook + assignments, LUT per query, sum over each vector's codes."""

    def _half_up(v):
        return math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)

    vecs = {
        vec_id: [_half_up(float(x) * QUANT) for x in embedding]
        for vec_id, embedding in rows
    }
    dim = len(next(iter(vecs.values())))
    dsub = dim // m
    subs = {
        (vid, s): q[s * dsub:(s + 1) * dsub]
        for vid, q in vecs.items()
        for s in range(m)
    }
    assigned = _py_pq(rows, m, k_codes, rounds)  # (vid, s) -> (dist, code)
    # rebuild the final codebook the same way the final assign saw it
    cents = {
        (s, vid): list(subs[(vid, s)]) for vid in sorted(vecs) if vid < k_codes
        for s in range(m)
    }
    for _ in range(rounds):
        a = {}
        for (vid, s), sq in subs.items():
            best = None
            for (cs, code) in sorted(cents):
                if cs != s:
                    continue
                c = cents[(cs, code)]
                d = sum((x - y) * (x - y) for x, y in zip(sq, c))
                if best is None or (d, code) < best:
                    best = (d, code)
            a[(vid, s)] = best
        nxt = {}
        for (s, code) in {(s, b[1]) for (v, s), b in a.items()}:
            members = [subs[(vid, sub)] for (vid, sub), b in a.items()
                       if sub == s and b[1] == code]
            n = len(members)
            nxt[(s, code)] = [
                t // n if t >= 0 else -((-t) // n)
                for t in (sum(col) for col in zip(*members))
            ]
        cents = nxt
    out = {}
    for qid in range(n_queries):
        if qid not in vecs:
            continue
        scores = []
        for vid in vecs:
            if vid == qid:
                continue
            d = 0
            for s in range(m):
                code = assigned[(vid, s)][1]
                c = cents[(s, code)]
                qsq = subs[(qid, s)]
                d += sum((x - y) * (x - y) for x, y in zip(qsq, c))
            scores.append((d, vid))
        scores.sort()
        out[qid] = [(r + 1, vid, d) for r, (d, vid) in enumerate(scores[:k])]
    return out


def test_pq_topk_matches_pure_python(spark, emb):
    small = emb.where("vec_id < 60")
    rows = [(r.vec_id, r.embedding) for r in small.select("vec_id", "embedding").collect()]
    expect = _py_pq_topk(rows, n_queries=4, k=3, m=4, k_codes=8, rounds=1)
    got = {}
    for r in clustering.pq_topk(
        small, n_queries=4, k=3, m=4, k_codes=8, rounds=1
    ).collect():
        got.setdefault(r.query_id, []).append((r.rank, r.vec_id, r.adc_dist))
    got = {q: sorted(v) for q, v in got.items()}
    assert got == expect


def test_pq_topk_shape_laws(spark, emb):
    out = clustering.pq_topk(emb, n_queries=5, k=4).collect()
    by_q = {}
    for r in out:
        assert r.vec_id != r.query_id  # self excluded
        by_q.setdefault(r.query_id, []).append((r.rank, r.adc_dist))
    assert set(by_q) == set(range(5))
    for q, rows in by_q.items():
        rows.sort()
        assert [r for r, _ in rows] == [1, 2, 3, 4]
        dists = [d for _, d in rows]
        assert dists == sorted(dists) and all(d >= 0 for d in dists)


def _py_ivfpq_topk(rows, n_queries, k, n_centroids, nprobe, m, k_codes, rounds):
    """Composed reference: python coarse quantizer (argmax dot, nrm>0,
    ties -> min cell) restricting _py_pq_topk-style ADC scoring."""

    def _half_up(v):
        return math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)

    vecs = {
        vec_id: [_half_up(float(x) * QUANT) for x in embedding]
        for vec_id, embedding in rows
    }
    live = {vid: q for vid, q in vecs.items() if sum(v * v for v in q) > 0}
    cents = {vid: live[vid] for vid in sorted(live) if vid < n_centroids}

    def argcells(q, n):
        scored = sorted(
            ((-sum(a * b for a, b in zip(q, c)), cid) for cid, c in cents.items())
        )
        return [cid for _, cid in scored[:n]]

    cells = {vid: argcells(q, 1)[0] for vid, q in live.items()}
    probes = {qid: set(argcells(live[qid], nprobe))
              for qid in range(n_queries) if qid in live}
    # full-ADC ranking from the PQ reference, then restrict to probed cells
    full = _py_pq_topk(rows, n_queries=n_queries, k=len(vecs), m=m,
                       k_codes=k_codes, rounds=rounds)
    out = {}
    for qid, ranked in full.items():
        cand = [(d, vid) for _, vid, d in ranked
                if vid in cells and cells[vid] in probes[qid]]
        cand.sort()
        out[qid] = [(r + 1, vid, d) for r, (d, vid) in enumerate(cand[:k])]
    return out


def test_ivfpq_matches_pure_python(spark, emb):
    small = emb.where("vec_id < 60")
    rows = [(r.vec_id, r.embedding) for r in small.select("vec_id", "embedding").collect()]
    expect = _py_ivfpq_topk(rows, n_queries=4, k=3, n_centroids=6, nprobe=2,
                            m=4, k_codes=8, rounds=1)
    got = {}
    for r in clustering.ivf_pq_topk(
        small, n_queries=4, k=3, n_centroids=6, nprobe=2,
        m=4, k_codes=8, rounds=1,
    ).collect():
        got.setdefault(r.query_id, []).append((r.rank, r.vec_id, r.adc_dist))
    got = {q: sorted(v) for q, v in got.items()}
    assert got == expect


def test_ivfpq_full_probe_equals_global_adc(spark, emb):
    """Probing EVERY cell removes the IVF restriction: the composed
    search must equal pq_topk exactly (same codes, same LUT, same
    ranking) — the recall-loss-is-only-the-probe-set law.  Holds on
    zero-norm-free corpora (this one); the zero-vector boundary is
    pinned separately below."""
    a = sorted(map(tuple, clustering.ivf_pq_topk(
        emb, n_queries=4, k=5, n_centroids=8, nprobe=8).collect()))
    b = sorted(map(tuple, clustering.pq_topk(
        emb, n_queries=4, k=5).collect()))
    assert a == b


def test_ivfpq_shape_laws(spark, emb):
    out = clustering.ivf_pq_topk(emb, n_queries=3, k=4).collect()
    by_q = {}
    for r in out:
        assert r.vec_id != r.query_id
        by_q.setdefault(r.query_id, []).append((r.rank, r.adc_dist))
    for q, rows in by_q.items():
        rows.sort()
        assert [r for r, _ in rows] == list(range(1, len(rows) + 1))
        dists = [d for _, d in rows]
        assert dists == sorted(dists)


def test_ivfpq_zero_vector_boundary(spark):
    """The documented boundary of the full-probe law: a zero-norm vector
    stays codable in PQ (pq_topk can return it) but is invisible to the
    cosine coarse quantizer (never an IVF-PQ candidate at ANY nprobe) —
    and the PQ index stays unfiltered so every NONZERO vector's code,
    distance and rank agree between the two searches under full probe."""
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [0, 1, 2, 3, 4],
                "embedding": [
                    [1.0, 0.0, 0.0, 1.0],
                    [0.9, 0.1, 0.0, 1.0],
                    [0.0, 0.0, 0.0, 0.0],  # zero vector
                    [-1.0, 0.5, 0.5, -1.0],
                    [0.8, 0.0, 0.1, 0.9],
                ],
            }
        )
    )
    kw = dict(n_queries=1, k=5, m=2, k_codes=2, rounds=1)
    pq = {r.vec_id: (r.rank, r.adc_dist)
          for r in clustering.pq_topk(df, **kw).collect()}
    ivfpq = {r.vec_id: (r.rank, r.adc_dist)
             for r in clustering.ivf_pq_topk(
                 df, n_centroids=2, nprobe=2, **kw).collect()}
    assert 2 in pq and 2 not in ivfpq  # the boundary itself
    # nonzero vectors: identical ADC distances; ranks shift only by the
    # zero vector's absence
    for vid, (_, d) in ivfpq.items():
        assert pq[vid][1] == d
    assert set(pq) - {2} == set(ivfpq)


def test_ivfpq_rejects_bad_shapes(spark, emb):
    with pytest.raises(ValueError, match="bad search shape"):
        clustering.ivf_pq_topk(emb, n_queries=0)
    with pytest.raises(ValueError, match="bad PQ shape"):
        clustering.ivf_pq_topk(emb, rounds=-1)
    with pytest.raises(ValueError, match="bad IVF shape"):
        clustering.ivf_pq_topk(emb, nprobe=0)
    with pytest.raises(ValueError, match="bad search shape"):
        clustering.pq_topk(emb, k=0)
