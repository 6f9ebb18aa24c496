"""Entity linking: alias candidates, MinHash-LSH recall on planted
near-duplicates, connected components on known graph shapes."""

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from kgx.operators import linking


def _labels(spark, names):
    return spark.createDataFrame(pd.DataFrame({"label": names}))


def test_alias_edges_share_stem(spark):
    labels = _labels(
        spark,
        ["Acme Corporation", "Acme Corp", "Acme Inc", "Beta Systems", "Beta", "Gamma Ltd"],
    )
    pairs = {
        (r["src_label"], r["dst_label"]) for r in linking.alias_edges(labels).collect()
    }
    assert ("Acme Corp", "Acme Corporation") in pairs
    assert ("Acme Corp", "Acme Inc") in pairs
    assert ("Beta", "Beta Systems") in pairs
    assert not any("Gamma" in a and "Beta" in b for a, b in pairs)


def test_alias_edges_star_from_minimum_label(spark):
    # five spellings of one stem: a star of 4 edges from the minimum label,
    # not the 10 pairs of a stem self-join
    names = ["Acme Corp", "ACME", "acme  Inc", "Acme Ltd", "Acme Corporation"]
    pairs = [
        (r["src_label"], r["dst_label"])
        for r in linking.alias_edges(_labels(spark, names)).collect()
    ]
    assert sorted(pairs) == [("ACME", n) for n in sorted(set(names) - {"ACME"})]


@pytest.mark.parametrize(
    "edges,expected",
    [
        # chain a-b-c-d → one component rooted at a
        ([("a", "b"), ("b", "c"), ("c", "d")], {"a": "a", "b": "a", "c": "a", "d": "a"}),
        # star centered z
        ([("z", "m"), ("z", "n"), ("z", "o")], {"z": "m", "m": "m", "n": "m", "o": "m"}),
        # two components
        (
            [("a", "b"), ("x", "y"), ("y", "w")],
            {"a": "a", "b": "a", "x": "w", "y": "w", "w": "w"},
        ),
        # bigint labels (near-dup doc ids): numeric minimum, 9 < 10 < 100
        ([(10, 9), (9, 100), (7, 8)], {10: 9, 9: 9, 100: 9, 7: 7, 8: 7}),
    ],
)
@pytest.mark.parametrize("threshold", [2_000_000, 0], ids=["driver", "distributed"])
def test_connected_components_shapes(spark, edges, expected, threshold):
    kind = "bigint" if isinstance(edges[0][0], int) else "string"
    df = spark.createDataFrame(edges, f"src_label {kind}, dst_label {kind}")
    comp = linking.connected_components(df, driver_threshold=threshold)
    got = {r["label"]: r["component"] for r in comp.collect()}
    assert got == expected
    # both paths keep the edges' label type, so their schemas agree
    assert comp.schema == StructType.fromDDL(f"label {kind}, component {kind}")


def test_driver_union_find_builds_no_python_rdd(spark):
    # the union-find result is an Arrow local scan: no pickled rows, no
    # Python worker
    df = spark.createDataFrame([("a", "b"), ("b", "c")], "src_label string, dst_label string")
    comp = linking.connected_components(df, driver_threshold=100)
    assert "PythonRDD" not in comp._jdf.queryExecution().toRdd().toDebugString()


def test_connected_components_giant_component(spark):
    # planted giant component: chain of 60 labels + 20 singleton pairs;
    # forced onto the DISTRIBUTED large-star/small-star path
    chain = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(60)]
    pairs = [(f"p{i:02d}a", f"p{i:02d}b") for i in range(20)]
    df = spark.createDataFrame(chain + pairs, "src_label string, dst_label string")
    comp = linking.connected_components(df, driver_threshold=0)
    sizes = comp.groupBy("component").count().collect()
    by_size = sorted(r["count"] for r in sizes)
    assert by_size == [2] * 20 + [61]
    giant_root = [r["component"] for r in sizes if r["count"] == 61][0]
    assert giant_root == "n000"


def test_minhash_recall_on_planted_near_duplicates(spark):
    base = [f"Company Number {i} Holdings" for i in range(30)]
    variants = [s.replace("Holdings", "Holding") for s in base[:10]]  # near-dups
    labels = _labels(spark, base + variants + ["Zebra", "Quark"])
    edges = linking.minhash_edges(labels, min_jaccard=0.65)
    got = {(r["src_label"], r["dst_label"]) for r in edges.collect()}
    planted = {
        tuple(sorted((b, v))) for b, v in zip(base[:10], variants)
    }
    recall = len(planted & got) / len(planted)
    assert recall >= 0.9
    assert not any("Zebra" in p for pair in got for p in pair)


def test_canonical_map_and_triples(spark):
    nodes = spark.createDataFrame(
        [
            ("d1", "n1", "Acme Corporation", "Organization"),
            ("d2", "n1", "Acme Corp", "Organization"),
            ("d3", "n1", "John Doe", "Person"),
        ],
        "doc_id string, node_id string, label string, node_type string",
    )
    cmap = linking.canonical_map(nodes)
    m = {r["label"]: r["canonical_label"] for r in cmap.collect()}
    assert m["Acme Corporation"] == m["Acme Corp"]
    assert m["John Doe"] == "John Doe"

    triples = spark.createDataFrame(
        [
            ("d1", "John Doe", "ceo_of", "Acme Corporation"),
            ("d2", "John Doe", "ceo_of", "Acme Corp"),
        ],
        "doc_id string, subj string, pred string, obj string",
    )
    ct = linking.canonical_triples(triples, cmap)
    canon = {(r["doc_id"], r["subj"], r["pred"], r["obj"]) for r in ct.collect()}
    # both rows canonicalize to the same object label
    assert len({o for _, _, _, o in canon}) == 1
