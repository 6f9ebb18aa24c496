"""Regression guards on physical plans and cross-engine hash formulas."""

import random

import duckdb
import pytest

from kgx.functions import hashing


def test_minhash_derived_matches_duckdb_and_python():
    """The universal-hash derivation must produce identical values in
    Python, DuckDB, and (by construction, same integer ops) Spark SQL."""
    con = duckdb.connect()
    rng = random.Random(7)
    hs = [rng.randrange(0, 1 << 60) for _ in range(50)]
    for seed in (0, 1, 7, 15):
        a, b = hashing._uh_coeffs(seed)
        for h in hs:
            py = (a * (h % hashing.MERSENNE31) + b) % hashing.MERSENNE31
            sql = hashing.minhash_derived(str(h), seed)
            duck = con.sql(f"SELECT {sql}").fetchone()[0]
            assert duck == py, (seed, h)


def test_uh_coeffs_never_degenerate():
    for seed in range(64):
        a, b = hashing._uh_coeffs(seed)
        assert 0 < a < hashing.MERSENNE31 and a % 2 == 1
        assert 0 <= b < hashing.MERSENNE31


def test_div_truncation_parity(spark):
    """The integer oracles rest on Spark DIV == DuckDB // (both truncate
    toward zero).  Pin both engines on negative/positive mixes."""
    cases = [(-7, 2), (7, 2), (-7, -2), (5, 3), (-5, 3), (0, 4), (-1, 5)]
    got_spark = spark.sql(
        "SELECT " + ", ".join(f"{a} DIV {b}" for a, b in cases)
    ).first()
    got_duck = duckdb.sql(
        "SELECT " + ", ".join(f"({a}) // ({b})" for a, b in cases)
    ).fetchone()
    assert tuple(got_spark) == tuple(got_duck)
    assert tuple(got_duck) == tuple(int(a / b) for a, b in cases)


@pytest.mark.usefixtures("spark")
def test_kg_triples_scan_prunes_to_two_columns(spark, sf_dir):
    """The extraction family must read ONLY (doc_id, text) from parquet —
    a widening of ReadSchema silently multiplies 100 TB scan I/O."""
    import __spark_entry__ as em

    df = em.queries()["kg_triples"](spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scans, plan
    for line in scans:
        assert "doc_id" in line and "text:string" in line and "lang" not in line, line


def test_alias_edges_join_strategy_is_adaptive(spark):
    """Linking joins must not force a broadcast: the static plan shows an
    adaptive (non-broadcast-hinted) join, and AQE promotes the small side to
    broadcast-hash at runtime only when it actually measures small.  A
    mandatory broadcast of the label table OOMs on a web-scale label set."""
    import pandas as pd

    from kgx.operators import linking

    labels = spark.createDataFrame(
        pd.DataFrame({"label": [f"Org Number {i} Corp" for i in range(2000)]})
    )
    edges = linking.alias_edges(labels)
    # static (pre-execution) plan: no broadcast HINT anywhere — the join
    # strategy must be AQE's runtime call, not ours
    logical = edges._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical and "broadcast" not in logical.lower()
    physical = edges._jdf.queryExecution().executedPlan().toString()
    assert "AdaptiveSparkPlan" in physical
    edges.count()  # execute → AQE finalizes
    final = edges._jdf.queryExecution().executedPlan().toString()
    # this label table IS small, so the runtime decision should be broadcast
    assert "BroadcastHashJoin" in final, final


def test_jn2_graph_fetch_has_no_exchange(spark, sf_dir):
    """jn2 is a pure array projection of the extraction output — its plan on
    top of the (cached) graphs must contain no aggregation exchanges beyond
    the extraction spread itself."""
    import __spark_entry__ as em

    df = em.queries()["jn2_graph_fetch"](spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "HashAggregate" not in plan and "SortMergeJoin" not in plan, plan


@pytest.mark.usefixtures("spark")
def test_quality_filter_has_no_exchange_and_no_udf(spark, sf_dir):
    """The Gopher/C4 quality gate is a pure codegen projection — beyond the
    single input-spread rebalance (kgx.sources.docs.spread_small_scan, a
    fixture-only exchange), an Exchange or a Python eval node in its plan is
    a regression.  Operator purity is asserted on a raw scan."""
    import re

    from kgx.operators import textstats

    raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    op_plan = textstats.quality_filter(raw)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Exchange" not in op_plan, op_plan

    import __spark_entry__ as em

    df = em.queries()["quality_filter"](spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) <= 1, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_dedup_clusters_plan_has_no_cartesian(spark, sf_dir):
    """Corpus clustering must stay LSH-bucketed end-to-end: a
    CartesianProduct/BroadcastNestedLoopJoin anywhere in the plan means the
    pair graph degenerated to all-pairs."""
    import __spark_entry__ as em

    df = em.queries()["dedup_clusters"](spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_fn_scalar_suite_has_no_exchange(spark, sf_dir):
    """The scalar family is a single projection — beyond the input-spread
    rebalance (fixture-only, see spread_small_scan), any Exchange in its
    plan is a regression."""
    import re

    import __spark_entry__ as em

    df = em.queries()["fn_scalar_suite"](spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) <= 1, plan


def test_winnowed_fingerprints_keeps_projection_barriers(spark, sf_dir):
    """Round 3: winnowed fingerprints MUST keep its two project_barrier
    Generate nodes (plus the final explode = 3 Generates total).  Without
    them CollapseProject inlines norm/gram_hashes into the HOF lambda
    bodies and re-evaluates them PER ARRAY ELEMENT — O(L²·regex) per doc,
    profiled at >10 minutes for 500 sub-KB documents."""
    from kgx.operators import textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    plan = textstats.winnowed_fingerprints(docs)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert plan.count("Generate") >= 3, plan


def _physical(spark, df, mode="simple"):
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def test_minhash_verify_evaluates_intersection_once(spark, sf_dir):
    """Round 5: the LSH verify stage must keep its project_barrier so the
    O(na+nb) array_intersect set-build is evaluated ONCE per candidate
    pair.  Without it, CollapseProject inlines the intersection into the
    jaccard filter — which Catalyst then fuses into the verification
    join's CONDITION, where it appears twice (numerator + denominator) and
    again in the output projection: up to 4 evaluations per row, measured
    1.5× the whole pairs pass at sf0.1 (~116k boilerplate candidates)."""
    from kgx.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    plan = _physical(spark, dedup.minhash_lsh_pairs(docs), "formatted")
    assert plan.count("array_intersect") == 1, plan


def test_repetition_stats_single_scan_no_join(spark, sf_dir):
    """Round 5: both gram sizes + the char count must ride ONE corpus scan
    and fuse into one conditional aggregation — a filter-per-half
    formulation lets Catalyst push the tag predicates below the count
    exchange and silently DUPLICATE the tokenize+explode scan (observed:
    2 FileScans, 0 ReusedExchange), and a join-of-halves re-evaluates the
    aggregate subplan per branch."""
    from kgx.operators import textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    plan = _physical(spark, textstats.repetition_stats(docs))
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan


def test_round4_operators_have_no_cartesian(spark, sf_dir):
    """The r4 graph and versioning family must never degrade to a
    cartesian or nested-loop join (except the 1-row broadcast count
    pattern): a cartesian over a web-scale label/triple table is the
    100×-scale killer every bucket/cap design here exists to avoid."""
    import __spark_entry__ as em

    qs = em.queries()
    for name in (
        "graph_kcore",
        "kg_negative_samples",
        "graph_triangles",
        "kg_version_diff",
    ):
        plan = _physical(spark, qs[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, (name, plan)

