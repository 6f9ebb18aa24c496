"""Graph sanity validation (SURVEY §2.2 P7-P9).

The reference enforces result sanity procedurally: ≤1000 nodes / ≤2000 edges
per document (services.py:143-148), field length caps (node_id ≤ 50,
label ≤ 255, type ≤ 100, relationship ≤ 100; validators.py:237-252,
290-294), non-empty after strip, and duplicate rejection
(validators.py:193-213).  Here the same contract is one declarative
projection over the nested graph row — a filter stage the pipeline can
insert between extraction and materialization.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MAX_NODES = 1000
MAX_EDGES = 2000
MAX_LABEL = 255
MAX_NODE_ID = 50
MAX_TYPE = 100
MAX_REL = 100


def _longest(arr: str, field: str) -> str:
    """SQL: the longest ``field`` over the structs of ``arr`` (0 when empty)."""
    return f"coalesce(aggregate({arr}, 0, (a, x) -> greatest(a, length(x.{field}))), 0)"


_UNIQUE_NODE_IDS = "size(nodes) = size(array_distinct(transform(nodes, n -> n.node_id)))"
_UNIQUE_EDGES = (
    "size(edges) = size(array_distinct(transform(edges, "
    "e -> concat(e.src, '|', e.dst, '|', e.relationship))))"
)


def is_valid() -> Column:
    """The P7-P9 verdict over one nested graph row: every count and field
    length cap holds, and node ids and edges are unique."""
    return F.expr(" AND ".join([
        f"size(nodes) <= {MAX_NODES}",
        f"size(edges) <= {MAX_EDGES}",
        f"{_longest('nodes', 'label')} <= {MAX_LABEL}",
        f"{_longest('nodes', 'node_id')} <= {MAX_NODE_ID}",
        f"{_longest('nodes', 'node_type')} <= {MAX_TYPE}",
        f"{_longest('edges', 'relationship')} <= {MAX_REL}",
        _UNIQUE_NODE_IDS,
        _UNIQUE_EDGES,
    ]))


def graph_checks(graphs: DataFrame) -> DataFrame:
    """(doc_id, nodes, edges, ...) → per-doc validation metrics + verdict."""
    return graphs.select(
        "doc_id",
        F.size("nodes").cast("int").alias("n_nodes"),
        F.size("edges").cast("int").alias("n_edges"),
        F.expr(f"cast({_longest('nodes', 'label')} as int)").alias("max_label_len"),
        F.expr(_UNIQUE_NODE_IDS).alias("unique_node_ids"),
        F.expr(_UNIQUE_EDGES).alias("unique_edges"),
        is_valid().alias("is_valid"),
    )


def valid_graphs(graphs: DataFrame) -> DataFrame:
    """Filtered pass-through — the pipeline insertion point.  A filter on
    the graph row itself, so the extraction that produced it runs once."""
    return graphs.where(is_valid())
