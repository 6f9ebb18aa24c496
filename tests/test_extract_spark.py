"""End-to-end Spark tests: spans synthesis → text rebuild → Arrow extraction,
and the span-sequence round-trip invariant under forced shuffles."""

import pandas as pd
from pyspark.sql import functions as F

from kgx.operators import extract, rules, spans, validate
from kgx.sources import docs as docs_src


def _docs_df(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows))


SAMPLE = (
    "John Doe is the CEO of Acme Corporation, headquartered in New York City. "
    "Jane Smith founded TechStart in San Francisco in 2020."
)


def test_spans_synthesis_roundtrips_text(spark):
    documents = _docs_df(spark, [{"doc_id": 7, "text": SAMPLE}])
    sp = docs_src.spans_table(documents)
    row = spans.with_doc_text(sp).collect()[0]
    assert row["doc_id"] == "doc-7"
    # chunks keep punctuation, so the rebuilt text splits into the same
    # sentences the reference would see
    assert row["doc_text"] == SAMPLE
    offsets = [s["offset"] for s in row["spans"]]
    assert offsets == list(range(len(offsets)))
    # deterministic media interleave: (7 + i) % 5 == 2 → after chunk i=0;
    # extension cycles by (7 + 0) % 3 == 1 → '.mp4'
    media = [s for s in row["spans"] if s["kind"] == "media"]
    assert [m["media_ref"] for m in media] == ["s3://media/doc-7-0.mp4"]


def test_span_roundtrip_invariant_survives_shuffle(spark):
    documents = _docs_df(
        spark,
        [{"doc_id": i, "text": f"Alpha Beta works at Gamma Delta. Filler {i}."} for i in range(40)],
    )
    original = docs_src.spans_table(documents)
    flat = spans.explode_spans(original).repartition(8)  # force a shuffle
    rebuilt = spans.reassemble_spans(flat)
    joined = original.alias("a").join(rebuilt.alias("b"), "doc_id")
    mismatches = joined.where(F.expr("a.spans != b.spans")).count()
    assert mismatches == 0
    assert rebuilt.count() == 40


def test_extract_graphs_matches_rule_engine(spark):
    texts = {
        "doc-1": SAMPLE,
        "doc-2": "John Doe works at Acme Corporation in New York.",
        "doc-3": "",
    }
    df = _docs_df(
        spark, [{"doc_id": k, "doc_text": v} for k, v in texts.items()]
    )
    graphs = {r["doc_id"]: r for r in extract.extract_graphs(df).collect()}
    assert set(graphs) == set(texts)
    for doc_id, text in texts.items():
        nodes, edges, triples = rules.extract_document(text)
        got = graphs[doc_id]
        assert [(n["node_id"], n["label"], n["node_type"]) for n in got["nodes"]] == nodes
        assert [(e["src"], e["dst"], e["relationship"]) for e in got["edges"]] == edges
        assert [(t["subj"], t["pred"], t["obj"]) for t in got["triples"]] == triples


def test_flat_tables(spark):
    df = _docs_df(spark, [{"doc_id": "d", "doc_text": SAMPLE}])
    graphs = extract.extract_graphs(df)
    n = extract.nodes_table(graphs)
    t = extract.triples_table(graphs)
    assert n.columns == ["doc_id", "node_id", "label", "node_type"]
    assert t.columns == ["doc_id", "subj", "pred", "obj"]
    trips = {(r["subj"], r["pred"], r["obj"]) for r in t.collect()}
    assert ("John Doe", "ceo_of", "Acme Corporation") in trips


def test_pipeline_on_real_documents_parquet(spark, sf_dir):
    sp = docs_src.spans_table(docs_src.load_documents(spark, sf_dir))
    graphs = extract.extract_graphs(spans.with_doc_text(sp))
    total = graphs.count()
    assert total == docs_src.load_documents(spark, sf_dir).count()


def test_valid_graphs_runs_the_extraction_once(spark):
    """The validation gate filters the extraction output in place: its
    executed plan crosses into Python once, not once per side of a join."""
    df = _docs_df(spark, [{"doc_id": "d", "doc_text": SAMPLE}])
    checked = validate.valid_graphs(extract.extract_graphs(df))
    assert [r["doc_id"] for r in checked.collect()] == ["d"]
    plan = checked._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan


def test_graph_checks_enforce_the_field_caps(spark):
    """An over-long node id, node type or relationship each fails the
    verdict, as the reference's validators.py caps say."""
    def graph(node_id="n1", node_type="Person", rel="works_at"):
        nodes = [(node_id, "Ann Lee", node_type), ("n2", "Acme Corp", "Organization")]
        return nodes, [(node_id, "n2", rel)], [("Ann Lee", rel, "Acme Corp")]

    rows = {
        "ok": graph(),
        "long_id": graph(node_id="n" * (validate.MAX_NODE_ID + 1)),
        "long_type": graph(node_type="T" * (validate.MAX_TYPE + 1)),
        "long_rel": graph(rel="r" * (validate.MAX_REL + 1)),
    }
    graphs = spark.createDataFrame(
        [(doc_id, *g) for doc_id, g in rows.items()], extract.GRAPH_SCHEMA
    )
    verdict = {r["doc_id"]: r["is_valid"] for r in validate.graph_checks(graphs).collect()}
    assert verdict == {"ok": True, "long_id": False, "long_type": False, "long_rel": False}
    assert [r["doc_id"] for r in validate.valid_graphs(graphs).collect()] == ["ok"]
