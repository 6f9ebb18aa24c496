"""Property-based tests (hypothesis) for the rule engine's invariants.

These don't compare against the reference (the golden fixtures do that);
they pin the structural invariants any input must satisfy, over adversarial
generated text — the regex engine's undefined corners are exactly where a
re-implementation would silently drift.
"""

import re

from hypothesis import given, settings, strategies as st

from kgx.operators import rules


@settings(max_examples=500, deadline=None)
@given(
    st.lists(
        st.sampled_from(
            list("AaBbCc .\t\n!?") + ["Mr.", "Dr.", "Acme", "acme", "Corp",
                                     "is", "was", "works", "working", "serves as",
                                     "joined", "left", "İ", "ß", " ", "K"]
        ),
        max_size=25,
    ).map("".join),
    st.sampled_from(["Acme", "Ab", "A Corp", "Acme Corp", "Bc"]),
)
def test_person_context_fast_path_equals_regex(text, label):
    """The string-scan person-context fast path must agree with the
    IGNORECASE regex on every input where it is enabled (length-preserving
    lower()), including unicode whitespace (NBSP), Kelvin-sign case folds,
    and verb-prefix corners like 'working'."""
    low = text.lower()
    regex = bool(rules._person_context_pattern(label).search(text))
    if len(low) == len(text):
        assert rules._person_context_fast(label.lower(), low) == regex, (text, label)
    # the public classifier must give one answer regardless of path
    assert rules.classify_entity(label, text, low) == rules.classify_entity(label, text)


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=4000))
def test_kgxb_container_roundtrip_any_text(text):
    """The KGXB binary container must round-trip arbitrary unicode exactly
    (length framing is byte-based, payload utf-8)."""
    from kgx.sources import binary

    assert binary.decode_kgxb(binary.encode_kgxb(text)) == text


@settings(max_examples=200, deadline=None)
@given(
    st.text(
        # printable ASCII minus quote/backslash — real labels come from the
        # mention regex alphabet [A-Za-z ]; control chars only break the SQL
        # literal quoting of the test harness, not the shingle semantics
        alphabet=st.characters(
            codec="ascii", min_codepoint=32, exclude_characters="'\\"
        ),
        min_size=0,
        max_size=40,
    )
)
def test_char_shingles_match_python_reference(text):
    """The char-shingle definition used by MinHash label linking must equal
    the obvious Python formulation: distinct 3-grams of '^^'+lower+'$$'.
    Verified via DuckDB evaluating the mirrored oracle expression (the Spark
    expression is the same construction; the oracle gate pins Spark==DuckDB)."""
    import duckdb

    from kgx.oracles import _duck_char_shingles

    p = "^^" + text.lower() + "$$"
    expected = sorted({p[i : i + 3] for i in range(len(p) - 2)})
    quoted = "'" + text.replace("'", "''") + "'"
    got = duckdb.sql(f"SELECT list_sort({_duck_char_shingles(quoted)})").fetchone()[0]
    assert got == expected, (text, got, expected)

# text alphabet biased toward the interesting cases: capitalized words,
# stop words, connector phrases, punctuation, digits, CamelCase
WORDS = st.sampled_from(
    [
        "John", "Doe", "Acme", "Corporation", "The", "In", "It", "is",
        "the", "CEO", "of", "works", "at", "founded", "in", "acquired",
        "manages", "TechStart", "SmartBot", "New", "York", "2020", "a",
        "serves", "as", "CTO", "developed", "called", "used", "by",
    ]
)
TEXTS = st.lists(
    st.one_of(WORDS, st.sampled_from([".", "!", "?", ","])), min_size=0, max_size=80
).map(lambda toks: " ".join(toks))


@settings(max_examples=200, deadline=None)
@given(TEXTS)
def test_structural_invariants(text):
    nodes, edges, triples = rules.extract_document(text)

    # determinism / idempotence
    assert (nodes, edges, triples) == rules.extract_document(text)

    labels = [l for _, l, _ in nodes]
    # cap and uniqueness
    assert len(nodes) <= rules.MENTION_CAP
    assert len(set(labels)) == len(labels)
    # node ids sequential in order
    assert [n for n, _, _ in nodes] == [f"n{i+1}" for i in range(len(nodes))]
    # every label matches the mention pattern and is not a bare stop word
    for l in labels:
        assert re.fullmatch(r"[A-Z][a-z]+(?:\s+[A-Z][a-z]+)*", l)
        assert l not in rules.STOP_WORDS
    # labels appear in first-occurrence order of the unfiltered scan
    scan = [m for m in rules.MENTION_RX.findall(text) if m not in rules.STOP_WORDS]
    firsts = list(dict.fromkeys(scan))[: rules.MENTION_CAP]
    assert labels == firsts

    # edges/triples aligned; endpoints resolve to real nodes; no self-loops;
    # no duplicate (src, dst, rel)
    by_id = {n: l for n, l, _ in nodes}
    assert len(edges) == len(triples)
    assert len(set(edges)) == len(edges)
    for (s, d, r), (subj, pred, obj) in zip(edges, triples):
        assert s in by_id and d in by_id and s != d
        assert by_id[s] == subj and by_id[d] == obj and r == pred
        assert r in {
            "ceo_of", "cto_of", "works_at", "founded", "located_in",
            "acquired", "manages", "member_of", "developed", "used_by",
        }
    # types come from the closed vocabulary
    assert {t for _, _, t in nodes} <= {
        "Person", "Organization", "Location", "Technology", "JobTitle", "Entity"
    }


@settings(max_examples=100, deadline=None)
@given(TEXTS)
def test_classify_entity_total(text):
    """classify_entity never raises on any (label, context) we can produce."""
    for m in set(rules.MENTION_RX.findall(text)):
        assert rules.classify_entity(m, text) in {
            "Person", "Organization", "Location", "Technology", "JobTitle", "Entity"
        }


def test_quality_filter_matches_python_reference_bulk(spark):
    """Randomized (seeded) adversarial texts — unicode, punctuation runs,
    repeated tokens, tabs/newlines inside tokens — get identical verdicts
    from the Spark quality gate and a pure-Python twin of its semantics."""
    import random

    import pandas as pd

    from kgx.operators import textstats

    rng = random.Random(7)
    vocab = [
        "the", "and", "of", "is", "a", "word", "λambda", "x.y!",
        "abcdefghijklmnop", "spam", "a,b;c:", "...", "ß", "t\tab", "nl\nx",
    ]
    texts = [
        " ".join(rng.choices(vocab, k=rng.randint(0, 80))) for _ in range(120)
    ]
    texts += ["", " ", "   ", ".!?,;:", "the " * 200]

    min_tokens, max_tokens = 5, 120
    min_wl, max_wl, max_sym, min_uniq, min_stop = 3.0, 10.0, 0.1, 0.3, 2

    def twin(text):
        toks = [t for t in text.split(" ") if t != ""]
        if not toks:
            return None
        n = len(toks)
        chars = sum(len(t) for t in toks)
        uniq = len(set(toks))
        punct = sum(c in ".!?,;:" for c in text)
        stop = sum(t in textstats.EN_STOP_WORDS for t in toks)
        conds = {
            "too_few_tokens": n < min_tokens,
            "too_many_tokens": n > max_tokens,
            "short_words": chars / n < min_wl,
            "long_words": chars / n > max_wl,
            "symbol_heavy": punct / n > max_sym,
            "repetitive": uniq / n < min_uniq,
            "no_stop_words": stop < min_stop,
        }
        return ",".join(r for r in textstats.QUALITY_RULES if conds[r])

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    got = {
        r["doc_id"]: (r["fail_reasons"], r["passes"])
        for r in textstats.quality_filter(
            df,
            min_tokens=min_tokens,
            max_tokens=max_tokens,
            min_mean_word_len=min_wl,
            max_mean_word_len=max_wl,
            max_symbol_ratio=max_sym,
            min_unique_ratio=min_uniq,
            min_stop_hits=min_stop,
        ).collect()
    }
    expected = {i: twin(t) for i, t in enumerate(texts)}
    assert set(got) == {i for i, e in expected.items() if e is not None}
    for i, (reasons, passes) in got.items():
        assert reasons == expected[i], (i, texts[i])
        assert passes == (reasons == "")


def test_span_roundtrip_randomized_bulk(spark):
    """Randomized (seeded) span arrays — arbitrary kinds/texts/media_refs,
    including empty docs and media-only docs — survive explode → shuffle →
    reassemble exactly."""
    import random

    from kgx.operators import spans as spans_op

    rng = random.Random(42)
    rows = []
    for i in range(100):
        n = rng.randint(0, 12)
        span_list = []
        for p in range(n):
            if rng.random() < 0.3:
                span_list.append(("media", "", f"s3://m/{i}-{p}.png", p))
            else:
                txt = " ".join(rng.choices(["Alpha", "beta", "Gamma Delta", "", "x.y!"], k=rng.randint(0, 4)))
                span_list.append(("text", txt, "", p))
        rows.append((f"doc-{i}", span_list))
    df = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    nonempty = df.where("size(spans) > 0")
    rebuilt = spans_op.reassemble_spans(spans_op.explode_spans(nonempty).repartition(16))
    from pyspark.sql import functions as F

    joined = nonempty.alias("a").join(rebuilt.alias("b"), "doc_id")
    assert joined.count() == nonempty.count()
    assert joined.where(F.expr("a.spans != b.spans")).count() == 0
