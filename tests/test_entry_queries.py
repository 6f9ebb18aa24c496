"""Entry-contract queries added after the core suite: JN2 graph fetch,
§2.9 scalar-function family, P6/P8 text gate — plus a guard-equivalence
property for the relation-pattern pre-filters.

The full Spark-vs-DuckDB value-hash comparison for these queries runs in
tools/compare_oracle.py (driver gate); here we assert the structural
invariants that the hash comparison cannot localize when it fails.
"""

import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from kgx.operators import rules


def test_relation_guards_never_skip_a_matching_sentence():
    """Every guard keyword list must be implied by its regex: a sentence the
    regex matches always contains at least one guard keyword (lowercased).

    Two layers:
    1. the pattern source contains a literal fragment covering some guard
       (the original weak check — catches typos);
    2. for every word-only alternation group ``(?:a|b|c)`` that carries ANY
       guard keyword (i.e. the verb group), EVERY branch must contain a
       guard — otherwise a sentence matching the unguarded branch (e.g.
       "established" with only a "founded" guard) would be silently skipped
       by the pre-filter while the regex alone would match it."""
    for (rx, rel), guards in rules._GUARDED_PATTERNS:
        # layer 1: some literal fragment contains a guard
        literals = re.split(r"[\\()\[\]{}|?:+*$^]+", rx.pattern.lower())
        assert any(
            any(g in lit for lit in literals) for g in guards
        ), (rel, rx.pattern, guards)

        # layer 2: every branch of the guard-bearing alternation groups
        for m in re.finditer(r"\(\?\:([a-z?|]+)\)", rx.pattern.lower()):
            branches = [b.replace("?", "") for b in m.group(1).split("|")]
            if not any(any(g in b for g in guards) for b in branches):
                continue  # not the verb group (e.g. prepositions at|for|in)
            for b in branches:
                assert any(g in b for g in guards), (rel, rx.pattern, b, guards)

        # layer 2b: single-verb patterns (no alternation) — the non-group
        # literal words themselves must cover a guard, checked by layer 1


def test_guarded_extraction_matches_unguarded():
    """Running the relation patterns WITHOUT guards yields identical edges —
    the guards are a pure skip-optimization."""
    texts = [
        "John Doe is the CEO of Acme Corporation. Acme Corporation is located in London.",
        "Jane Roe founded Widget Corporation in Paris. Widgetware is used by Gadget Systems.",
        "Alpha Corporation acquired Beta Systems. Mr. Carl Dean manages the Gamma Division.",
        "Nothing capitalized here. just words. the end.",
        "Edge Case works at Edge Case.",  # self-pair dropped
    ]
    for text in texts:
        nodes, edges, triples = rules.extract_document(text)
        # unguarded re-run over the same sentences
        labels = rules.detect_mentions(text)
        by_lower = {}
        for i, label in enumerate(labels):
            by_lower.setdefault(label.lower(), (f"n{i + 1}", label))
        seen, unguarded = set(), []
        for sentence in rules.SENTENCE_SPLIT_RX.split(text):
            sentence = sentence.strip()
            if not sentence:
                continue
            for rx, rel in rules.RELATION_PATTERNS:
                for match in rx.findall(sentence):
                    pairs = (
                        [(match[0], match[1], rel), (match[1], match[2], "located_in")]
                        if len(match) == 3
                        else [(match[0], match[1], rel)]
                    )
                    for src, dst, r in pairs:
                        s, t = by_lower.get(src.lower()), by_lower.get(dst.lower())
                        if s is None or t is None or s[0] == t[0]:
                            continue
                        key = (s[0], t[0], r)
                        if key not in seen:
                            seen.add(key)
                            unguarded.append(key)
        assert edges == unguarded, text


def test_jn2_graph_fetch_counts_align(spark, sf_dir):
    import __spark_entry__ as em

    rows = em.queries()["jn2_graph_fetch"](spark, sf_dir).collect()
    assert len(rows) == 500
    for r in rows:
        assert r.n_nodes == (0 if r.node_list == "" else r.node_list.count("|") + 1)
        assert r.n_triples == (
            0 if r.triple_list == "" else r.triple_list.count("|") + 1
        )
        # node ids are n1..nK in rank order
        if r.n_nodes:
            first = r.node_list.split("|")[0]
            assert first.startswith("n1:")


def test_p6_p8_text_gate_variants(spark, sf_dir):
    import __spark_entry__ as em

    rows = {r.doc_id: r for r in em.queries()["p6_p8_text_gate"](spark, sf_dir).collect()}
    for doc_id, r in rows.items():
        if doc_id % 31 in (7, 13):
            assert r.gate == "empty"
        elif doc_id % 31 == 1:
            assert r.gate == "oversize" and r.n_chars > 1000000
        else:
            assert r.gate == "valid"


def test_fn_scalar_suite_shapes(spark, sf_dir):
    import hashlib

    import __spark_entry__ as em

    df = em.queries()["fn_scalar_suite"](spark, sf_dir)
    rows = df.limit(5).collect()
    ids = [r.doc_id for r in rows]
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id").isin(ids))
        .collect()
    }
    for r in rows:
        text = docs[r.doc_id]
        assert r.sha256_hex == hashlib.sha256(text.encode()).hexdigest()
        assert r.md5_hex == hashlib.md5(text.encode()).hexdigest()
        assert r.prompt_chars == min(len(text), 2000)
        assert r.updated_chars == len(text) + 1 + len("appended update text")


def test_clear_graph_cache_raises_when_an_unpersist_fails():
    """The clear swallows nothing: a cached entry that cannot be unpersisted
    surfaces instead of leaving executor memory silently pinned."""

    class _Stuck:
        def unpersist(self):
            raise RuntimeError("unpersist failed")

    entrymod._GRAPH_CACHE[("stuck",)] = _Stuck()
    try:
        with pytest.raises(RuntimeError, match="unpersist failed"):
            entrymod.clear_graph_cache()
    finally:
        entrymod._GRAPH_CACHE.pop(("stuck",), None)


def test_graph_cache_eviction_keeps_live_funnel_checkpoints(spark, sf_dir):
    """A new extraction-cache entry evicts only the previous graphs: a
    curation-funnel frame built before it still reads its checkpoint
    blocks afterwards."""
    funnel = entrymod.queries()["curation_funnel"](spark, sf_dir)
    n = funnel.count()
    # a key no earlier test cached (same data, spelled differently); the
    # persist is lazy, so this inserts an entry without running extraction
    entrymod._graphs(spark, sf_dir.rstrip("/") + "/")
    try:
        assert funnel.count() == n
    finally:
        entrymod.clear_graph_cache()
