"""Dedup suite on planted duplicates/near-duplicates."""

import pandas as pd
from pyspark.sql import functions as F

from kgx.operators import dedup


def _docs(spark, texts):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )


BASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa"


def test_exact_groups_planted_dup(spark):
    df = _docs(spark, [BASE, BASE, "totally different words here now"])
    got = {r["doc_id"]: (r["canonical_doc_id"], r["group_size"]) for r in dedup.exact_groups(df).collect()}
    assert got[0] == (0, 2) and got[1] == (0, 2) and got[2] == (2, 1)


def test_jaccard_pairs_near_dup(spark):
    near = BASE.replace("kappa", "lambda")  # 8 shingles, 7 shared
    far = "one two three four five six seven eight nine ten"
    df = _docs(spark, [BASE, near, far])
    rows = dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in rows} == {(0, 1)}
    assert abs(rows[0]["jaccard"] - 7 / 9) < 1e-12


def test_minhash_lsh_finds_planted_near_dups(spark):
    texts = [f"doc number {i} filler words to make shingles unique {i}" for i in range(20)]
    texts.append(BASE)
    texts.append(BASE.replace("kappa", "lambda"))
    df = _docs(spark, texts)
    pairs = {(r["doc_a"], r["doc_b"]) for r in dedup.minhash_lsh_pairs(df, threshold=0.5).collect()}
    assert (20, 21) in pairs


def test_jaccard_hot_shingle_cutoff(spark):
    # every doc shares the same hot prefix; cutoff removes it from the index
    texts = [f"common shared prefix words doc {i} unique tail {i}" for i in range(10)]
    df = _docs(spark, texts)
    without = dedup.ngram_jaccard_pairs(df, threshold=0.1)
    with_cut = dedup.ngram_jaccard_pairs(df, threshold=0.1, max_shingle_df=3)
    assert with_cut.count() < without.count()


def test_jaccard_hot_shingle_guard_collapses_boilerplate_pairs(spark):
    """Web-corpus shape: a long boilerplate block shared by EVERY doc makes
    the unguarded inverted-index self-join quadratic (all 45 pairs of 10 docs
    collide) and drags every pair over the threshold.  The guard drops the
    boilerplate shingles, collapsing candidates to ~0 while a genuine
    near-duplicate pair built from RARE shingles survives untouched."""
    boiler = " ".join(f"boilerplate{i}" for i in range(30))
    texts = [f"{boiler} unique{i}a unique{i}b unique{i}c" for i in range(10)]
    texts.append(BASE)                             # 10: rare-shingle doc
    texts.append(BASE.replace("kappa", "lambda"))  # 11: its near-duplicate
    df = _docs(spark, texts)

    unguarded = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()
    }
    guarded = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(df, threshold=0.5, max_shingle_df=5).collect()
    }
    assert len(unguarded) == 45 + 1  # all boilerplate pairs + the planted pair
    assert guarded == {(10, 11)}  # guard kills boilerplate, keeps the real dup


def test_near_dup_clusters_transitive_chain(spark):
    # A~B and B~C above threshold, A~C below: pairwise output alone would
    # leave {A,B} and {B,C}; clustering must merge all three (keep-one
    # dedup needs the transitive closure), while a far doc stays singleton
    a = BASE
    b = BASE.replace("kappa", "lambda")
    c = b.replace("alpha beta", "mu nu")
    far = "one two three four five six seven eight nine ten"
    df = _docs(spark, [a, b, c, far])

    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(df, threshold=0.5).collect()
    }
    assert (0, 1) in pairs and (1, 2) in pairs and (0, 2) not in pairs

    rows = {r["doc_id"]: r for r in dedup.near_dup_clusters(df, threshold=0.5).collect()}
    assert {rows[i]["canonical_doc_id"] for i in (0, 1, 2)} == {0}
    assert all(rows[i]["cluster_size"] == 3 for i in (0, 1, 2))
    assert rows[0]["is_duplicate"] is False
    assert rows[1]["is_duplicate"] and rows[2]["is_duplicate"]
    assert rows[3]["canonical_doc_id"] == 3 and rows[3]["cluster_size"] == 1
    assert rows[3]["is_duplicate"] is False


def test_simhash_identical_and_disjoint(spark):
    df = _docs(spark, [BASE, BASE, "entirely disjoint vocabulary set list"])
    fp = {r["doc_id"]: r["simhash"] for r in dedup.simhash_fingerprints(df).collect()}
    assert fp[0] == fp[1]
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in dedup.simhash_pairs(df).collect()}
    assert pairs.get((0, 1)) == 0
    assert (0, 2) not in pairs or pairs[(0, 2)] > 3


def test_simhash_band_bucket_guard_collapses_boilerplate(spark):
    """Web-corpus shape for the SimHash path: a cluster of 30 identical
    boilerplate docs floods a 15-bit band bucket, so the uncapped
    enumeration materializes all 435 within-cluster pairs (quadratic in
    cluster size).  With the guard, those buckets are dropped while a
    genuine duplicate pair in a small bucket survives untouched."""
    boiler = "subscribe to our newsletter for daily updates and offers today"
    texts = [boiler] * 30 + [BASE, BASE]
    df = _docs(spark, texts)

    unguarded = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.simhash_pairs(df, max_bucket=10**9).collect()
    }
    guarded = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.simhash_pairs(df, max_bucket=10).collect()
    }
    assert len(unguarded) == 30 * 29 // 2 + 1  # quadratic blowup + real pair
    assert guarded == {(30, 31)}  # guard kills the flood, keeps the real dup


def test_short_docs_produce_no_shingles(spark):
    df = _docs(spark, ["one two", "x", ""])
    assert dedup.shingle_table(df, n=3).count() == 0


def test_text_stats_empty_and_tiny_docs(spark):
    """Regression: ANSI divide-by-zero on 0-token/0-char docs."""
    from kgx.operators import textstats

    df = _docs(spark, ["x", "", "a b"])
    rows = {r["doc_id"]: r for r in textstats.text_stats(df).collect()}
    assert set(rows) == {0, 2}  # empty doc dropped, no crash
    assert rows[0]["token_count"] == 1


def test_repetition_stats_hand_computed(spark):
    """Gopher repetition signals on a hand-checkable fixture."""
    from kgx.operators import textstats

    # doc 0: "a b a b a b" -> 2-grams: (a b)x3, (b a)x2 -> top cnt 3, len 3;
    #        3-grams: (a b a)x2, (b a b)x2 -> 4 instances, 2 dups
    # doc 1: all-distinct tokens -> top cnt 1, zero dup 3-grams
    # doc 2: 2 tokens -> no 3-grams -> dropped (inner join semantics)
    df = _docs(spark, ["a b a b a b", "q w e r t y", "x y"])
    rows = {r["doc_id"]: r for r in textstats.repetition_stats(df).collect()}
    assert set(rows) == {0, 1}
    r0 = rows[0]
    assert r0["n_top_grams"] == 5 and r0["top_gram_count"] == 3
    assert r0["top_gram_chars"] == 3  # "a b"
    assert r0["top_gram_frac"] == 3 * 3 / 11  # 3 occurrences x 3 chars / 11
    assert r0["n_dup_grams"] == 4 and r0["dup_gram_instances"] == 2
    assert r0["dup_gram_frac"] == 0.5
    r1 = rows[1]
    assert r1["top_gram_count"] == 1 and r1["dup_gram_instances"] == 0
    assert r1["dup_gram_frac"] == 0.0


def test_repetition_stats_tie_breaks_by_min_hash(spark):
    """Equal-count top grams must resolve deterministically (min md5-60) —
    the cross-engine contract the oracle's (cnt DESC, h ASC) mirrors."""
    import hashlib

    from kgx.operators import textstats

    # "aa b c aa b c" 2-grams: "aa b" x2 / "b c" x2 tie (4 vs 3 chars, so
    # the winner is observable through top_gram_chars)
    df = _docs(spark, ["aa b c aa b c"])
    r = textstats.repetition_stats(df).collect()[0]
    assert r["top_gram_count"] == 2

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    want = min(("aa b", "b c"), key=h60)
    assert r["top_gram_chars"] == len(want)


def test_repetition_stats_matches_python_reference(spark):
    """Randomized cross-check of every output column against a direct
    python model (same tokenization, same min-md5-60 tie-break)."""
    import hashlib
    import random

    from kgx.operators import textstats

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    rng = random.Random(11)
    vocab = ["aa", "b", "ccc", "dd", "e"]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 12)))
        for _ in range(40)
    ]

    def model(doc_id, text, top_n=2, dup_n=3):
        toks = [t for t in text.split(" ") if t]

        def grams(n):
            return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]

        tg, dg = grams(top_n), grams(dup_n)
        if not tg or not dg:
            return None
        counts = {}
        for g in tg:
            counts[g] = counts.get(g, 0) + 1
        top = min(counts.items(), key=lambda kv: (-kv[1], h60(kv[0])))
        dcounts = {}
        for g in dg:
            dcounts[g] = dcounts.get(g, 0) + 1
        dup_inst = sum(c - 1 for c in dcounts.values())
        return {
            "char_count": len(text),
            "n_top_grams": len(tg),
            "top_gram_count": top[1],
            "top_gram_chars": len(top[0]),
            "top_gram_frac": top[1] * len(top[0]) / len(text),
            "n_dup_grams": len(dg),
            "dup_gram_instances": dup_inst,
            "dup_gram_frac": dup_inst / len(dg),
        }

    want = {
        i: m for i, t in enumerate(texts) if (m := model(i, t)) is not None
    }
    got = {
        r["doc_id"]: r.asDict()
        for r in textstats.repetition_stats(_docs(spark, texts)).collect()
    }
    assert set(got) == set(want)
    for i, w in want.items():
        g = got[i]
        for k, v in w.items():
            assert g[k] == v, (i, k, g[k], v, texts[i])


def test_quality_filter_rules(spark):
    from kgx.operators import textstats

    docs = [
        # 15 tokens, stop words present, clean → passes
        "the quick brown fox and jumps over of the lazy dog is a nice day",
        # 2 tokens → too_few_tokens (and short_words: mean 2.5)
        "the of",
        # 3 unique / 22 tokens → repetitive only
        "the is " + "spam " * 20,
        # 6 of 8 tokens end in punctuation → symbol_heavy
        "the is aaa. bbb! ccc? ddd, eee; fff:",
        # one 16-char token repeated → long_words + repetitive + no_stop_words
        ("abcdefghijklmnop " * 6).strip(),
    ]
    df = _docs(spark, docs)
    rows = {
        r["doc_id"]: r
        for r in textstats.quality_filter(df, min_tokens=5).collect()
    }
    assert rows[0]["passes"] and rows[0]["fail_reasons"] == ""
    assert "too_few_tokens" in rows[1]["fail_reasons"]
    assert rows[2]["fail_reasons"] == "repetitive"
    assert rows[3]["fail_reasons"] == "symbol_heavy"
    assert rows[4]["fail_reasons"] == "long_words,repetitive,no_stop_words"
    assert not any(rows[i]["passes"] for i in (1, 2, 3, 4))


def test_winnowed_fingerprints_overlap_guarantee(spark):
    """Winnowing contract: any shared substring of length >= k + window - 1
    yields at least one shared fingerprint; disjoint texts share none;
    sub-threshold docs emit nothing.  Values cross-checked against the
    DuckDB oracle (RE2/list-function parity)."""
    from kgx.operators import textstats

    shared = "the quick brown fox jumps over the lazy dog tonight"
    texts = [
        "AAA " + shared + " BBB",
        "xyz " + shared + " uvw",
        "qqqq wwww eeee rrrr tttt yyyy uuuu iiii oooo pppp",
        "short",
    ]
    df = _docs(spark, texts)
    fp = textstats.winnowed_fingerprints(df, k=8, window=4)
    by_doc = {}
    for r in fp.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert by_doc[0] & by_doc[1], "shared passage must share a fingerprint"
    assert not (by_doc[0] & by_doc[2]), "disjoint texts share none"
    assert 3 not in by_doc, "sub-threshold doc emits nothing"

    import duckdb

    from kgx import oracles

    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    want = {}
    for doc, h in con.execute(oracles.winnowed_fingerprints_sql(k=8, window=4)).fetchall():
        want.setdefault(doc, set()).add(h)
    assert want == by_doc


def test_token_counts_bpe_vs_ws(spark):
    """BPE-ish regex tokenizer: contraction split, digit/letter runs, symbol
    runs, whitespace runs — and Java-vs-RE2 parity checked against DuckDB
    running the identical pattern."""
    from kgx.operators import textstats

    texts = ["don't stop", "abc123 x!", "", "  double  spaced  "]
    df = _docs(spark, texts)
    rows = {r["doc_id"]: r for r in textstats.token_counts(df).collect()}
    assert rows[0]["ws_tokens"] == 2 and rows[0]["bpe_tokens"] == 3  # don|'t| stop
    assert rows[1]["bpe_tokens"] == 4  # abc|123| x|!
    assert 2 not in rows  # empty doc dropped (ANSI divide guard)
    assert rows[3]["ws_tokens"] == 2 and rows[3]["bpe_tokens"] == 5

    import duckdb

    from kgx import oracles

    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    got = con.execute(oracles.token_counts_sql()).df().set_index("doc_id")
    assert set(got.index) == set(rows)
    for i, r in rows.items():
        assert got.loc[i, "ws_tokens"] == r["ws_tokens"]
        assert got.loc[i, "bpe_tokens"] == r["bpe_tokens"]


def test_vocab_topk_order_and_plan(spark):
    import pandas as pd

    from kgx.operators import textstats

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": ["a b a c", "a b b", "zz a"],
            }
        )
    )
    out = textstats.vocab_topk(df, k=3).collect()
    assert [(r["token"], r["n_occurrences"], r["n_docs"], r["rank"]) for r in out] == [
        ("a", 4, 3, 1),
        ("b", 3, 2, 2),
        ("c", 1, 1, 3),  # ties (c/zz at 1) break by token order, c wins the cut
    ]
    plan = textstats.vocab_topk(df, k=3)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # global top-k must be the per-partition-heap operator, not a full sort
    assert "TakeOrderedAndProject" in plan, plan


def test_lsh_blocking_recall_consistency(spark):
    """The audit row equals the overlap computed from the two pair
    operators directly; intersection bounds hold by construction."""
    texts = [f"doc number {i} filler words to make shingles unique {i}"
             for i in range(12)]
    texts += [BASE, BASE.replace("kappa", "lambda"),
              BASE.replace("alpha", "omega")]
    df = _docs(spark, texts)
    row = dedup.lsh_blocking_recall(df, threshold=0.5).collect()[0]
    exact = {(r.doc_a, r.doc_b)
             for r in dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()}
    lsh = {(r.doc_a, r.doc_b)
           for r in dedup.minhash_lsh_pairs(df, threshold=0.5).collect()}
    hits = len(lsh & exact)
    assert (row.n_exact_pairs, row.n_lsh_pairs) == (len(exact), hits)
    assert row.missed_pairs == len(exact) - hits >= 0
    assert row.recall_bp == (10000 * hits) // len(exact)
    assert exact  # the fixture plants real near-dup pairs


def test_lsh_blocking_recall_null_on_empty_truth(spark):
    df = _docs(spark, ["completely unique alpha words here",
                       "different beta tokens entirely now",
                       "third gamma sentence nothing shared"])
    row = dedup.lsh_blocking_recall(df, threshold=0.9).collect()[0]
    assert (row.n_exact_pairs, row.n_lsh_pairs, row.missed_pairs) == (0, 0, 0)
    assert row.recall_bp is None
