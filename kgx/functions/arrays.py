"""In-row array enumerations shared by the candidate-pair operators.

Several operators turn a per-key sorted array (an LSH bucket's ids, a
document's entity labels, a node's neighbors) into its unordered pairs
without a self-join: nested ``transform`` HOFs enumerate them inside the
row, and one ``explode`` emits them.  Work per row is bounded by the
array length squared, which each caller caps (bucket size, hub degree,
per-document mention cap).
"""

from __future__ import annotations


def unordered_pairs(arr: str, body: str) -> str:
    """Spark SQL array of ``body`` over every unordered pair ``(x, y)`` of
    array column ``arr``, ``x`` before ``y`` in array order (each pair
    once, no self-pairs).  ``body`` reads the pair as ``x`` and ``y``."""
    return (
        f"flatten(transform({arr}, (x, i) -> "
        f"transform(slice({arr}, i + 2, size({arr})), y -> "
        f"{body})))"
    )
