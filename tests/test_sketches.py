"""HyperLogLog register sketch (kgx.operators.sketches)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kgx.operators import sketches


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet").cache()


def test_hll_merge_law(spark, events):
    """The sketch of a union equals the element-wise max of the parts'
    sketches — the property that makes registers a valid incremental/
    distributed state."""
    whole = {r.bucket: r.max_rho
             for r in sketches.hll_registers(events, "cast(event_id as string)").collect()}
    a = {r.bucket: r.max_rho
         for r in sketches.hll_registers(
             events.where("event_id % 2 = 0"), "cast(event_id as string)").collect()}
    b = {r.bucket: r.max_rho
         for r in sketches.hll_registers(
             events.where("event_id % 2 = 1"), "cast(event_id as string)").collect()}
    merged = {k: max(a.get(k, 0), b.get(k, 0)) for k in set(a) | set(b)}
    assert merged == whole


def test_hll_estimate_within_tolerance(spark, events):
    """m=64 gives ~13% standard error; assert within 4 sigma of the true
    distinct count."""
    regs = [(r.bucket, r.max_rho)
            for r in sketches.hll_registers(events, "cast(event_id as string)").collect()]
    true = events.select("event_id").distinct().count()
    est = sketches.estimate_cardinality(regs, m=64)
    assert abs(est - true) / true < 4 * 1.04 / (64 ** 0.5)


def test_hll_duplicates_do_not_move_registers(spark, events):
    """Registers depend only on the distinct value set."""
    doubled = events.union(events)
    a = {tuple(r) for r in sketches.hll_registers(events, "cast(event_id as string)").collect()}
    b = {tuple(r) for r in sketches.hll_registers(doubled, "cast(event_id as string)").collect()}
    assert a == b


def test_hll_rho_definition(spark):
    """Pin the leading-zero rank arithmetic on handmade hashes."""
    df = spark.createDataFrame(pd.DataFrame({"v": ["x"]}))
    # rest = 0 -> rho = w + 1; rest with known bit length -> w - len + 1
    out = df.selectExpr(
        "cast(CASE WHEN 0 = 0 THEN 55 ELSE 0 END as bigint) AS zero_case",
        "cast(54 - length(bin(1)) + 1 as bigint) AS one_case",
        "cast(54 - length(bin(255)) + 1 as bigint) AS byte_case",
    ).first()
    assert out.zero_case == 55
    assert out.one_case == 54      # bin(1)='1' -> 53 leading zeros + 1
    assert out.byte_case == 47     # bin(255) has 8 bits

    bad = pytest.raises(ValueError, sketches.hll_registers, df, "v", m=48)
    assert "power of two" in str(bad.value)


def test_cm_merge_law(spark, events):
    """Count-min of a union == element-wise SUM of the parts' counters."""
    expr = "cast(event_id as string)"
    whole = {(r.d, r.col): r.cnt
             for r in sketches.cm_registers(events, expr).collect()}
    a = {(r.d, r.col): r.cnt
         for r in sketches.cm_registers(
             events.where("event_id % 2 = 0"), expr).collect()}
    b = {(r.d, r.col): r.cnt
         for r in sketches.cm_registers(
             events.where("event_id % 2 = 1"), expr).collect()}
    merged = {k: a.get(k, 0) + b.get(k, 0) for k in set(a) | set(b)}
    assert merged == whole
    # total mass per row d == number of input rows
    n = events.count()
    for d in range(4):
        assert sum(c for (dd, _), c in whole.items() if dd == d) == n


def test_cm_point_estimate_never_underestimates(spark, events):
    """The count-min guarantee: estimate >= true multiplicity, and exact
    for values whose cells never collide."""
    import hashlib

    regs = [(r.d, r.col, r.cnt)
            for r in sketches.cm_registers(
                events, "cast(user_id as string)").collect()]
    true = {str(r[0]): r[1]
            for r in events.groupBy("user_id").count().collect()}
    checked = 0
    for uid, cnt in sorted(true.items())[:50]:
        h = int(hashlib.md5(uid.encode()).hexdigest()[:15], 16)
        est = sketches.estimate_count(regs, h)
        assert est >= cnt
        checked += 1
    assert checked > 0


def test_cm_rejects_bad_shape(spark, events):
    with pytest.raises(ValueError):
        sketches.cm_registers(events, "cast(event_id as string)", depth=0)
    with pytest.raises(ValueError):
        sketches.cm_registers(events, "cast(event_id as string)", width=1)


# ---------------------------------------------------------------------------
# Bloom filter
# ---------------------------------------------------------------------------


def test_bloom_merge_law(spark, events):
    """The bitmap of a union equals the element-wise bit_or of the parts'
    bitmaps — the mergeability contract shared with HLL (max) and
    count-min (sum)."""
    col = "cast(event_id as string)"
    whole = {r.word: r.bits
             for r in sketches.bloom_registers(events, col).collect()}
    a = {r.word: r.bits
         for r in sketches.bloom_registers(
             events.where("event_id % 2 = 0"), col).collect()}
    b = {r.word: r.bits
         for r in sketches.bloom_registers(
             events.where("event_id % 2 = 1"), col).collect()}
    merged = {k: a.get(k, 0) | b.get(k, 0) for k in set(a) | set(b)}
    assert merged == whole


def test_bloom_no_false_negatives_and_bounded_fp(spark, events):
    """Every member value probes positive (Bloom's hard guarantee); the
    non-member false-positive rate stays well under the analytic bound's
    headroom for this fill factor."""
    members = events.where("event_id % 3 = 0").selectExpr(
        "event_id AS doc_id",
        "cast(conv(substring(md5(cast(event_id as string)), 1, 15), 16, 10) as bigint)"
        " AS shingle_hash",
    )
    others = events.where("event_id % 3 != 0").selectExpr(
        "event_id AS doc_id",
        "cast(conv(substring(md5(cast(event_id as string)), 1, 15), 16, 10) as bigint)"
        " AS shingle_hash",
    )
    regs = sketches.bloom_registers(
        members, "shingle_hash", m_bits=65536, k=4, pre_hashed=True
    )
    got_m = sketches.bloom_probe(members, regs, m_bits=65536, k=4).collect()
    assert all(r.n_flagged == r.n_keys for r in got_m)  # no false negatives
    got_o = sketches.bloom_probe(others, regs, m_bits=65536, k=4).collect()
    fp = sum(r.n_flagged for r in got_o) / max(1, sum(r.n_keys for r in got_o))
    n = len(got_m)
    bound = (1 - 2.718281828 ** (-4 * n / 65536)) ** 4
    assert fp <= 10 * bound + 0.01


def test_bloom_mask_never_touches_sign_bit(spark):
    """BLOOM_WORD=32 exists because DuckDB raises on 1::BIGINT << 63; pin
    that every emitted word/bit stays in the agreed range and the Spark
    bitmap round-trips through the same arithmetic DuckDB runs."""
    import duckdb

    df = spark.range(0, 2000).selectExpr("id AS doc_id", "id AS shingle_hash")
    regs = sketches.bloom_registers(
        df, "shingle_hash", m_bits=65536, k=4, pre_hashed=True
    ).collect()
    assert all(0 <= r.word < 65536 // 32 for r in regs)
    assert all(0 <= r.bits < 2 ** 32 for r in regs)  # bit 63 never set
    duck = duckdb.connect().execute(
        """
        WITH hs AS (
            SELECT range % 65536 AS h1,
                   2 * ((range // 65536) % 65536) + 1 AS stride
            FROM range(0, 2000)
        ),
        pos AS (
            SELECT (h1 + 0 * stride) % 65536 AS pos FROM hs
            UNION ALL SELECT (h1 + 1 * stride) % 65536 FROM hs
            UNION ALL SELECT (h1 + 2 * stride) % 65536 FROM hs
            UNION ALL SELECT (h1 + 3 * stride) % 65536 FROM hs
        )
        SELECT CAST(pos // 32 AS BIGINT) AS word,
               CAST(bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS BIGINT) AS bits
        FROM pos GROUP BY 1
        """
    ).fetchall()
    assert sorted((r.word, r.bits) for r in regs) == sorted(duck)


def test_bloom_rejects_bad_shape(spark, events):
    with pytest.raises(ValueError):
        sketches.bloom_registers(events, "event_id", m_bits=100)
    with pytest.raises(ValueError):
        sketches.bloom_registers(events, "event_id", k=0)


def test_bloom_negative_prehashed_fails_loudly(spark):
    """pre_hashed=True trusts the caller's hash column; a NEGATIVE value
    would flow into a negative shiftleft count whose NULL mask silently
    drops the row from the bitmap — a false-negative-capable filter.  The
    contract guard must turn that into a loud job failure, in both the
    build and the probe paths, while all-non-negative inputs are untouched."""
    from pyspark.errors import PySparkException

    bad = spark.range(0, 10).selectExpr(
        "id AS doc_id", "CASE WHEN id = 7 THEN -42 ELSE id END AS shingle_hash"
    )
    with pytest.raises(PySparkException, match="negative or NULL hash"):
        sketches.bloom_registers(
            bad, "shingle_hash", m_bits=65536, k=4, pre_hashed=True
        ).collect()
    # NULL hashes would NULL-propagate into the same silent row drop —
    # the guard must name them too, not die with an empty message
    nul = spark.range(0, 10).selectExpr(
        "id AS doc_id",
        "CASE WHEN id = 7 THEN NULL ELSE id END AS shingle_hash",
    )
    with pytest.raises(PySparkException, match="negative or NULL hash"):
        sketches.bloom_registers(
            nul, "shingle_hash", m_bits=65536, k=4, pre_hashed=True
        ).collect()
    good = spark.range(0, 10).selectExpr("id AS doc_id", "id AS shingle_hash")
    regs = sketches.bloom_registers(
        good, "shingle_hash", m_bits=65536, k=4, pre_hashed=True
    )
    with pytest.raises(PySparkException, match="negative or NULL hash"):
        sketches.bloom_probe(bad, regs, m_bits=65536, k=4).collect()
    # guard is identity on in-contract input: probe of the build set flags all
    ok = {r.doc_id: (r.n_keys, r.n_flagged)
          for r in sketches.bloom_probe(good, regs, m_bits=65536, k=4).collect()}
    assert all(nk == nf == 1 for nk, nf in ok.values()) and len(ok) == 10


def test_bloom_screen_is_superset_of_exact_screen(spark, sf_dir):
    """Cross-operator law: the Bloom probe can only ADD flags on top of
    the exact broadcast-join screen (no false negatives ⇒ per doc
    n_flagged >= n_contaminated, with identical shingle universes)."""
    import __spark_entry__ as entry

    exact = {
        r.doc_id: (r.n_shingles, r.n_contaminated)
        for r in entry.queries()["contamination"](spark, sf_dir).collect()
    }
    bloom = {
        r.doc_id: (r.n_keys, r.n_flagged)
        for r in entry.queries()["bloom_contamination"](spark, sf_dir).collect()
    }
    assert set(exact) == set(bloom)
    for d, (n_sh, n_cont) in exact.items():
        n_keys, n_flag = bloom[d]
        assert n_keys == n_sh
        assert n_flag >= n_cont


# ---------------------------------------------------------------------------
# log2 histogram
# ---------------------------------------------------------------------------


def test_hist_merge_law_and_mass(spark, events):
    col = "cast(floor(value * 100) as bigint)"
    whole = {r.bin: r.cnt for r in sketches.hist_registers(events, col).collect()}
    a = {r.bin: r.cnt
         for r in sketches.hist_registers(events.where("event_id % 2 = 0"), col).collect()}
    b = {r.bin: r.cnt
         for r in sketches.hist_registers(events.where("event_id % 2 = 1"), col).collect()}
    merged = {k: a.get(k, 0) + b.get(k, 0) for k in set(a) | set(b)}
    assert merged == whole
    assert sum(whole.values()) == events.count()  # mass conservation


def test_hist_bin_semantics(spark):
    df = spark.createDataFrame(
        [(-5,), (0,), (1,), (2,), (3,), (4,), (7,), (8,), (1023,), (1024,)],
        "x bigint",
    )
    got = {r.bin: r.cnt for r in sketches.hist_registers(df, "x").collect()}
    # bin 0: {-5, 0}; bin 1: {1}; bin 2: {2, 3}; bin 3: {4..7}; bin 4: {8}
    assert got == {0: 2, 1: 1, 2: 2, 3: 2, 4: 1, 10: 1, 11: 1}


def test_hist_quantile_bounds(spark, events):
    col = "cast(floor(value * 100) as bigint)"
    regs = [(r.bin, r.cnt) for r in sketches.hist_registers(events, col).collect()]
    exact = sorted(
        r[0] for r in events.selectExpr(f"{col} AS v").collect()
    )
    for q in (0.1, 0.5, 0.9, 1.0):
        lo, hi = sketches.estimate_quantile(regs, q)
        import math as _m
        true = exact[max(1, _m.ceil(q * len(exact))) - 1]
        assert lo <= true <= hi
    with pytest.raises(ValueError):
        sketches.estimate_quantile(regs, 0)
    with pytest.raises(ValueError):
        sketches.estimate_quantile([], 0.5)


def test_cm_heavy_hitters_superset_and_never_underestimates(spark, events):
    hh = sketches.cm_heavy_hitters(
        events, "cast(user_id as string)", threshold=75
    ).collect()
    assert hh, "fixture should contain heavy users"
    exact = {
        r.key: r.exact
        for r in events.selectExpr("cast(user_id as string) AS key")
        .groupBy("key").agg(F.count("*").alias("exact")).collect()
    }
    got = {r.key for r in hh}
    for r in hh:
        assert r.est_count >= r.exact_count == exact[r.key]
    true_heavy = {k for k, c in exact.items() if c >= 75}
    assert true_heavy <= got  # sketch screen never misses a true heavy hitter


def test_negative_samples_sparse_buckets(spark):
    # buckets >> nodes: most target buckets are empty — candidates whose
    # hash lands in an empty bucket are dropped identically to the
    # pure-Python reference (inner-join semantics)
    edges = [("a", "b"), ("b", "c"), ("c", "d")]
    from tests.test_graphstats import _py_negative_samples, _triples_df
    from kgx.operators import graphstats

    df = _triples_df(spark, edges)
    got = {
        (r.subj, r.pred, r.obj, r.sample_idx, r.neg_obj)
        for r in graphstats.negative_samples(df, k=4, buckets=256).collect()
    }
    assert got == _py_negative_samples(
        [(u, "rel", v) for u, v in edges], k=4, buckets=256
    )


def test_bloom_position_arithmetic_property():
    """Hypothesis: for random 60-bit hashes and sketch shapes, the pure-
    Python replay of the double-hash position chain matches what BOTH
    engines are told to compute (the expression text is shared), and
    every position is in range with the mask off the sign bit."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        h0=st.integers(min_value=0, max_value=2**60 - 1),
        exp=st.integers(min_value=5, max_value=20),
        k=st.integers(min_value=1, max_value=8),
    )
    def law(h0, exp, k):
        m_bits = 2 ** exp
        h1 = h0 % m_bits
        stride = 2 * ((h0 // m_bits) % m_bits) + 1
        for j in range(k):
            pos = (h1 + j * stride) % m_bits
            assert 0 <= pos < m_bits
            word, bit = pos // sketches.BLOOM_WORD, pos % sketches.BLOOM_WORD
            assert 0 <= bit < 32  # mask 1 << bit never reaches the sign bit
            assert stride % 2 == 1  # never a degenerate stride-0 probe
    law()


def test_hist_bin_matches_python_reference_property(spark):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=-2**40, max_value=2**40),
            min_size=1,
            max_size=30,
        )
    )
    def law(xs):
        want = {}
        for x in xs:
            b = 0 if x <= 0 else x.bit_length()
            want[b] = want.get(b, 0) + 1
        df = spark.createDataFrame([(x,) for x in xs], "x bigint")
        got = {r.bin: r.cnt for r in sketches.hist_registers(df, "x").collect()}
        assert got == want

    law()


def test_hll_grouped_merge_laws(spark, events):
    """Per-group sketches obey the HLL merge law within each group, and
    the max-merge ACROSS groups equals the ungrouped union sketch."""
    col = "cast(user_id as string)"
    grouped = sketches.hll_registers_grouped(events, "event_type", col).collect()
    per_group = {}
    for r in grouped:
        per_group.setdefault(r.grp, {})[r.bucket] = r.max_rho
    # within-group law: sketch of each group's slice == that group's rows
    for grp, want in per_group.items():
        solo = {
            r.bucket: r.max_rho
            for r in sketches.hll_registers(
                events.where(F.col("event_type") == grp), col
            ).collect()
        }
        assert solo == want
    # cross-group union law: element-wise max over groups == whole sketch
    whole = {r.bucket: r.max_rho
             for r in sketches.hll_registers(events, col).collect()}
    merged = {}
    for regs in per_group.values():
        for b, rho in regs.items():
            merged[b] = max(merged.get(b, 0), rho)
    assert merged == whole
