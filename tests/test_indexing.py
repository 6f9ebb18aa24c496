"""Inverted postings and n-gram LM counts (kgx.operators.indexing)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kgx.operators import indexing


@pytest.fixture(scope="module")
def tiny(spark):
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "the cat sat on the mat",
                    "the dog sat on the log",
                    "cats are not dogs",
                ],
            }
        )
    )


def test_inverted_postings_tf_df(spark, tiny):
    rows = {(r.token, r.doc_id): (r.tf, r.df)
            for r in indexing.inverted_postings(tiny).collect()}
    assert rows[("the", 1)] == (2, 2)   # tf 2 in doc 1, df 2 (docs 1 and 2)
    assert rows[("the", 2)] == (2, 2)
    assert rows[("cat", 1)] == (1, 1)
    assert ("cats", 3) in rows
    # every (token, doc) pair of the corpus is present at min_df=1
    assert sum(tf for tf, _ in rows.values()) == 6 + 6 + 4


def test_inverted_postings_df_cutoffs(spark, tiny):
    out = indexing.inverted_postings(tiny, min_df=2).select("token").distinct()
    toks = {r.token for r in out.collect()}
    assert toks == {"the", "sat", "on"}  # exactly the cross-doc tokens
    capped = indexing.inverted_postings(tiny, min_df=1, max_df=1)
    assert "the" not in {r.token for r in capped.collect()}


def test_lm_ngram_counts_and_continuation(spark, tiny):
    out = {r.gram: r for r in
           indexing.lm_ngram_counts(tiny, n=3, min_count=1).collect()}
    assert out["the cat sat"].n_occurrences == 1
    assert out["sat on the"].n_occurrences == 2      # docs 1 and 2
    assert out["sat on the"].n_docs == 2
    # continuation of suffix "on the": distinct left contexts = {"sat"}
    assert out["sat on the"].continuation_count == 1
    # suffix "sat on" appears after both "cat" and "dog"
    assert out["the cat sat"].suffix == "cat sat"
    cont = {r.suffix: r.continuation_count for r in
            indexing.lm_ngram_counts(tiny, n=3, min_count=1).collect()}
    assert cont["sat on"] == 2


def test_min_count_prunes_but_continuation_sees_all(spark, tiny):
    """KN continuation counts come from the UNPRUNED gram table."""
    pruned = {r.gram: r for r in
              indexing.lm_ngram_counts(tiny, n=3, min_count=2).collect()}
    assert list(pruned) == ["sat on the"]
    # its continuation count still reflects every context in the corpus
    assert pruned["sat on the"].continuation_count == 1


def test_short_docs_produce_no_grams(spark):
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["one two", ""]})
    )
    assert indexing.lm_ngram_counts(docs, n=3, min_count=1).count() == 0


# ---------------------------------------------------------------------------
# bm25_topk — fixed-point BM25 retrieval
# ---------------------------------------------------------------------------


def _bm25_python(docs, terms, k, K=120, B=75):
    """Independent Python mirror of the exact bigint formula."""
    toks = {d: [t for t in txt.split(" ") if t] for d, txt in docs.items()}
    n_docs = len(docs)
    total = sum(len(ts) for ts in toks.values())
    df = {t: sum(1 for ts in toks.values() if t in ts) for t in terms}
    scores = {}
    for d, ts in toks.items():
        s, n_match = 0, 0
        for t in terms:
            tf = ts.count(t)
            if tf == 0:
                continue
            n_match += 1
            idf_bits = (n_docs // df[t]).bit_length()
            num = 1000 * idf_bits * tf * (100 + K) * 100 * total
            den = (10000 * total * tf + K * (100 - B) * total
                   + K * B * len(ts) * n_docs)
            s += num // den
        if n_match:
            scores[d] = (s, n_match)
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1][0], kv[0]))[:k]
    return [(d, s, n, i + 1) for i, (d, (s, n)) in enumerate(ranked)]


def test_bm25_exact_scores_vs_python_reference(spark):
    docs = {
        1: "cat cat cat dog fish",
        2: "cat dog",
        3: "dog dog dog dog dog dog dog dog dog dog dog dog",
        4: "fish shark whale heron newt owl",
        5: "mouse mole vole shrew",
    }
    sdf = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(docs), "text": list(docs.values())})
    )
    terms = ["cat", "dog", "fish"]
    got = [(r.doc_id, r.score_milli, r.n_terms, r.rank)
           for r in indexing.bm25_topk(sdf, terms, k=4).collect()]
    assert got == _bm25_python(docs, terms, 4)


def test_bm25_ranking_properties(spark):
    """Rarer terms weigh more (log2 idf); longer docs are normalized down;
    rank is a 1..k sequence following (score DESC, doc_id)."""
    docs = {
        # 'rare' appears in 1 of 16 docs -> idf_bits 5; 'common' in 12 -> 1
        **{i: "common filler words here" for i in range(1, 13)},
        13: "rare thing",
        14: "common rare",
        15: "unrelated entirely",
        16: "common common common common common common common common",
    }
    sdf = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(docs), "text": list(docs.values())})
    )
    out = indexing.bm25_topk(sdf, ["rare", "common"], k=20).collect()
    ranks = [r.rank for r in out]
    assert ranks == list(range(1, len(out) + 1))
    scores = {r.doc_id: r.score_milli for r in out}
    assert 15 not in scores  # no query term -> not retrieved
    # both rare-containing docs beat every common-only doc
    common_best = max(s for d, s in scores.items() if d not in (13, 14))
    assert min(scores[13], scores[14]) > common_best
    # tf saturation + length norm: 8x'common' in a doc of 8 tokens must not
    # score 8x a single hit, and scores stay ordered deterministically
    assert scores[16] < 8 * scores[1]


def test_bm25_topk_limits_and_validates(spark, tiny):
    assert indexing.bm25_topk(tiny, ["the"], k=2).count() == 2
    assert indexing.bm25_topk(tiny, ["zebra"], k=3).count() == 0
    with pytest.raises(ValueError):
        indexing.bm25_topk(tiny, [], k=3)
    with pytest.raises(ValueError):
        indexing.bm25_topk(tiny, ["the"], k=0)


def test_bm25_plan_is_takeordered_not_global_sort(spark, tiny):
    """Top-k must compile to TakeOrderedAndProject (per-partition heap +
    driver merge of k rows), never a full Sort: a global sort of the
    scored-doc table is the 100 TB scale-killer here."""
    df = indexing.bm25_topk(tiny, ["the", "cat"], k=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


# ---------------------------------------------------------------------------
# unigram_surprisal — corpus-statistics perplexity screen
# ---------------------------------------------------------------------------


def _surprisal_python(docs):
    toks = {d: [t for t in txt.split(" ") if t] for d, txt in docs.items()}
    allt = [t for ts in toks.values() for t in ts]
    total = len(allt)
    ct = {t: allt.count(t) for t in set(allt)}
    out = {}
    for d, ts in toks.items():
        if not ts:
            continue
        bits = [(total // ct[t]).bit_length() for t in ts]
        out[d] = (len(ts), sum(bits), (1000 * sum(bits)) // len(ts))
    return out


def test_unigram_surprisal_exact_vs_python_reference(spark):
    docs = {
        1: "the the the the cat",
        2: "the dog sat",
        3: "xylophone quetzal",
        4: "",
        5: "the the the the the the the the",
    }
    sdf = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(docs), "text": list(docs.values())})
    )
    got = {r.doc_id: (r.n_tokens, r.total_bits, r.mean_milli_bits)
           for r in indexing.unigram_surprisal(sdf).collect()}
    assert got == _surprisal_python(docs)
    assert 4 not in got  # tokenless doc has no row
    means = {d: v[2] for d, v in got.items()}
    # rare-vocab doc scores strictly above the all-stopword doc
    assert means[3] > means[5]


@pytest.mark.parametrize("seed", [7, 41])
def test_bm25_and_surprisal_match_reference_on_random_corpus(spark, seed):
    """Randomized python-reference check: arbitrary Zipf-ish corpora must
    match the bigint formulas exactly (not just the hand-built fixtures)."""
    import random

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(40)]
    docs = {
        d: " ".join(
            vocab[min(rng.randrange(1, 41), rng.randrange(1, 41)) - 1]
            for _ in range(rng.randrange(0, 30))
        )
        for d in range(60)
    }
    sdf = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(docs), "text": list(docs.values())})
    )
    terms = rng.sample(vocab, 6)
    got = [(r.doc_id, r.score_milli, r.n_terms, r.rank)
           for r in indexing.bm25_topk(sdf, terms, k=15).collect()]
    assert got == _bm25_python(docs, terms, 15)
    surp = {r.doc_id: (r.n_tokens, r.total_bits, r.mean_milli_bits)
            for r in indexing.unigram_surprisal(sdf).collect()}
    assert surp == _surprisal_python(docs)
