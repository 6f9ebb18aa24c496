"""Dedup suite on planted duplicates/near-duplicates."""

import pandas as pd

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


def test_minhash_lsh_finds_planted_near_dups(spark):
    texts = [f"doc number {i} filler words to make shingles unique {i}" for i in range(20)]
    texts.append(BASE)
    texts.append(BASE.replace("kappa", "lambda"))
    df = _docs(spark, texts)
    pairs = {(r["doc_a"], r["doc_b"]) for r in dedup.minhash_lsh_pairs(df, threshold=0.5).collect()}
    assert (20, 21) in pairs


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


def test_minhash_lsh_band_bucket_cap_collapses_boilerplate(spark):
    """Web-corpus shape: a cluster of 30 identical boilerplate docs floods
    every band bucket, so the uncapped enumeration verifies all 435
    within-cluster pairs (quadratic in cluster size).  With ``max_bucket``
    those buckets are dropped, while a genuine duplicate pair in small
    buckets survives."""
    boiler = "subscribe to our newsletter for daily updates and offers today"
    df = _docs(spark, [boiler] * 30 + [BASE, BASE])

    def pairs(max_bucket):
        return {
            (r["doc_a"], r["doc_b"])
            for r in dedup.minhash_lsh_pairs(
                df, threshold=0.5, max_bucket=max_bucket
            ).collect()
        }

    assert len(pairs(10**9)) == 30 * 29 // 2 + 1  # quadratic blowup + real pair
    assert pairs(10) == {(30, 31)}  # the cap kills the flood, keeps the real dup


def test_short_docs_produce_no_shingles(spark):
    """Docs shorter than ``n`` tokens get no shingle set (the
    ``size(toks) < n`` guard), so the near-dup stage drops them."""
    df = _docs(spark, ["one two", "x", "", "one two three"])
    assert [r["doc_id"] for r in dedup.hashed_shingles(df, n=3).collect()] == [3]


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
