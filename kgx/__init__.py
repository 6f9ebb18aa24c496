"""kgx — a from-scratch PySpark-native knowledge-graph construction engine.

Re-expresses the capabilities of the reference single-node service
(Shubh8434/AI_KnowledgeGraph_Extractor) as batch DataFrame jobs designed for
a multi-executor cluster at 10^12-document scale:

- ``kgx.sources``    : interleaved text+media span tables (synthesis + IO)
- ``kgx.operators``  : extraction, validation, linking, canonicalization,
                       dedup, the quality gate, curation, graph analytics,
                       media plumbing
- ``kgx.functions``  : reusable Column expressions (hashing, shingles, text)
- ``kgx.plans``      : the end-to-end pipeline with per-partition lineage and
                       checkpoint resumability

Everything is a pure ``DataFrame -> DataFrame`` function so stages compose.
"""

__version__ = "0.1.0"
