"""Corpus-curation operators: PII scrub and sentence prune."""

import pandas as pd
import pytest

from kgx.operators import curation


def _plan(df):
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


@pytest.mark.usefixtures("spark")
def test_pii_scrub_counts_and_cascade(spark):
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "mail a.b+c@ex.co and d@e.org ssn 123-45-6789 call 415-555-0199",
                    "server at 10.0.3.7 and 192.168.1.255 no pii otherwise",
                    "clean text with just words",
                ],
            }
        )
    )
    out = {r["doc_id"]: r.asDict() for r in curation.pii_scrub(docs).collect()}
    assert (out[1]["n_email"], out[1]["n_ssn"], out[1]["n_phone"]) == (2, 1, 1)
    assert out[1]["n_pii"] == 4
    assert "[EMAIL]" in out[1]["clean_text"] and "[SSN]" in out[1]["clean_text"]
    assert "123-45-6789" not in out[1]["clean_text"]
    assert out[2]["n_ipv4"] == 2 and out[2]["n_pii"] == 2
    assert out[2]["clean_text"].count("[IPV4]") == 2
    assert out[3]["n_pii"] == 0 and out[3]["clean_text"] == docs.collect()[2]["text"]


@pytest.mark.usefixtures("spark")
def test_pii_ssn_not_half_eaten_by_phone(spark):
    """Cascade order: the SSN pattern must claim 3-2-4 digit runs before the
    phone pattern can eat a 3-3-4 lookalike prefix."""
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["ssn 900-12-3456 tel 900-123-4567"]})
    )
    row = curation.pii_scrub(docs).collect()[0]
    assert row["n_ssn"] == 1 and row["n_phone"] == 1
    assert "[SSN]" in row["clean_text"] and "[PHONE]" in row["clean_text"]


@pytest.mark.usefixtures("spark")
def test_pii_scrub_plan_is_pure_projection(spark, sf_dir):
    """The OPERATOR adds zero exchange, zero Python crossing over a raw
    scan — the pass fronts the 100 TB scan.  (The gate query's input goes
    through spread_small_scan, which inserts ONE rebalance exchange for the
    single-split driver fixture only — asserted separately below.)"""
    raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(curation.pii_scrub(raw))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan

    import re

    import __spark_entry__ as em

    gate_plan = _plan(em.queries()["pii_scrub"](spark, sf_dir))
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", gate_plan, re.M))
    assert n_exchanges <= 1, gate_plan  # input spread only
    assert "BatchEvalPython" not in gate_plan and "ArrowEvalPython" not in gate_plan


@pytest.mark.usefixtures("spark")
def test_sentence_prune_keeps_first_occurrence(spark):
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "Shared boilerplate line. Unique alpha.",
                    "shared boilerplate line. Unique beta.",
                    "Shared Boilerplate Line.",
                ],
            }
        )
    )
    out = {r["doc_id"]: r.asDict() for r in curation.sentence_prune(docs).collect()}
    # doc 1 owns the first occurrence (case-insensitive identity)
    assert out[1]["n_kept"] == 2
    assert out[1]["pruned_text"] == "Shared boilerplate line. Unique alpha"
    assert out[2]["n_kept"] == 1 and out[2]["pruned_text"] == "Unique beta"
    # every sentence of doc 3 is a dup → fully pruned, still reported
    assert out[3]["n_kept"] == 0 and out[3]["pruned_text"] == ""
    assert out[3]["n_sentences"] == 1


def test_sentence_prune_rejects_a_document_over_the_key_bound(spark):
    """The order key is doc_id * 2^20 + idx: sentence 2^20 of doc 1 would
    take doc 2's first key, so a document that long raises instead."""
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a. " * ((1 << 20) + 1), "b."]})
    )
    with pytest.raises(Exception, match=r"2\^20 sentences or more"):
        curation.sentence_prune(docs).collect()


def test_sentence_split_matches_oracle_split(spark):
    """Spark's ``_SENT_EXPR`` and the oracle's ``_DUCK_SENTS`` cut the same
    pieces, including dots inside tokens, dot runs, line breaks and the
    characters where Java's and RE2's ``\\s`` and ``$`` differ."""
    import duckdb
    from pyspark.sql import functions as F

    from kgx import oracles

    texts = [
        "Host 10.0.0.12 is up. Mail alice@example.com now.",
        "Pi is 3.14.  Next one...\nLast line.",
        "Tab.\tthen vertical tab.\x0bthen feed.\x0cend.",
        "Line separator.\u2028is no break, nor at the end.\u2028",
        "no terminal period",
        "trailing dots...",
        ". . .",
        "",
    ]
    pdf = pd.DataFrame({"i": range(len(texts)), "text": texts})
    got = {
        r["i"]: list(r["s"])
        for r in spark.createDataFrame(pdf)
        .select("i", F.expr(curation._SENT_EXPR).alias("s"))
        .collect()
    }
    con = duckdb.connect()
    con.register("t", pdf)
    want = {i: list(s) for i, s in con.sql(f"SELECT i, {oracles._DUCK_SENTS} FROM t").fetchall()}
    assert got == want
    assert got[0] == ["Host 10.0.0.12 is up", "Mail alice@example.com now"]
    assert got[1] == ["Pi is 3.14", "Next one", "Last line"]


@pytest.mark.usefixtures("spark")
def test_sentence_prune_no_sentence_text_in_exchanges(spark, sf_dir):
    """The exploded per-sentence rows must shed the sentence string before
    any exchange — only the final doc_id equi-join may move text."""
    import __spark_entry__ as em

    plan = _plan(em.queries()["sentence_prune"](spark, sf_dir))
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "sentence" not in line, line


@pytest.mark.usefixtures("spark")
def test_sentence_prune_global_invariant(spark, sf_dir):
    """Corpus-wide conservation law: the kept-sentence count equals the
    number of DISTINCT normalized sentences — exactly one survivor each."""
    from kgx.sources import corpus

    docs = corpus.narrative_documents(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )
    pruned = curation.sentence_prune(docs)
    kept = pruned.selectExpr("sum(n_kept)").collect()[0][0]
    from pyspark.sql import functions as F

    distinct = (
        docs.select(
            F.explode(F.expr(curation._SENT_EXPR)).alias("s")
        )
        .select(F.lower("s").alias("s"))
        .distinct()
        .count()
    )
    assert kept == distinct
