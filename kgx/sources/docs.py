"""Interleaved text+media span-table source.

The engine's canonical input (BASELINE.json ``input_hint``) is an Iceberg
table::

    doc_id  string
    spans   array<struct<kind:string, text:string, media_ref:string, offset:int>>

In production the table is written by an upstream ingest job.  In this
sandbox we synthesise it **deterministically** from the driver-generated
``documents.parquet`` (doc_id, text, ...) so that a DuckDB oracle can derive
the exact same table from the same parquet and cross-check every downstream
operator.

Derivation (pure SQL expressions — no UDF, no shuffle; the whole spans
array is built inside one projection so synthesis itself is embarrassingly
parallel):

1. ``chunks`` = regexp matches of ``[^.!?]+[.!?]*`` over ``text``, each
   whitespace-trimmed, empties dropped — sentence-ish units that concatenate
   back (space-joined) to an extraction-equivalent document.
2. After text chunk ``i``, a media span is interleaved iff
   ``(doc_id + i) % 5 == 2`` with ``media_ref =
   's3://media/doc-{doc_id}-{i}<ext>'`` where ``<ext>`` cycles
   ``.png/.mp4/.wav`` by ``(doc_id + i) % 3`` — deterministic,
   oracle-reproducible, and exercises all three media families
   (image/video/audio) in the multimodal operators.
3. ``offset`` = 0-based position over the final interleaved sequence.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Matches kgx.operators.rules.SENTENCE_SPLIT_RX delimiters; keeps punctuation
# attached so the space-joined rebuild splits into identical sentences.
CHUNK_PATTERN = "[^.!?]+[.!?]*"

SPAN_FIELDS = "kind string, text string, media_ref string, offset int"


def _chunks_expr(text_col: str = "text"):
    return F.expr(
        f"filter(transform(regexp_extract_all({text_col}, '{CHUNK_PATTERN}', 0), "
        "c -> regexp_replace(c, '^\\\\s+|\\\\s+$', '')), c -> c != '')"
    )


def span_doc_id() -> Column:
    """The string ``doc_id`` :func:`spans_table` gives a raw row,
    ``concat('doc-', cast(doc_id as string))``.  ``pipeline.prepartition_raw``
    buckets raw rows by it, so they land where their spans will."""
    return F.concat(F.lit("doc-"), F.col("doc_id").cast("string"))


def spans_table(documents: DataFrame) -> DataFrame:
    """(doc_id bigint, text string, ...) → (doc_id string, spans array<struct>).

    Zero-shuffle: one narrow projection per input row, so it scales linearly
    with input splits regardless of document count.
    """
    with_chunks = documents.select(
        F.col("doc_id").alias("raw_id"),
        span_doc_id().alias("doc_id"),
        _chunks_expr().alias("chunks"),
    )
    interleaved = with_chunks.select(
        "doc_id",
        F.expr(
            """
            flatten(transform(chunks, (c, i) ->
                CASE WHEN (raw_id + i) % 5 = 2 THEN
                    array(
                        named_struct('kind', 'text',  'text', c,  'media_ref', ''),
                        named_struct('kind', 'media', 'text', '',
                                     'media_ref',
                                     concat('s3://media/doc-', raw_id, '-', i,
                                            element_at(array('.png', '.mp4', '.wav'),
                                                       cast((raw_id + i) % 3 as int) + 1)))
                    )
                ELSE
                    array(named_struct('kind', 'text', 'text', c, 'media_ref', ''))
                END))
            """
        ).alias("raw_spans"),
    )
    return interleaved.select(
        "doc_id",
        F.expr(
            "transform(raw_spans, (s, p) -> named_struct("
            "'kind', s.kind, 'text', s.text, 'media_ref', s.media_ref, "
            "'offset', cast(p as int)))"
        ).alias("spans"),
    )


def load_documents(spark, sf_dir: str) -> DataFrame:
    return spread_small_scan(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))


def spread_small_scan(spark, df: DataFrame) -> DataFrame:
    """Spread a fewer-splits-than-cores scan across the cluster.

    The driver's sf parquet files are ONE sub-MB split, so every downstream
    per-row projection (shingle hashing, narrative rendering, regex gates)
    would otherwise run single-core — profiled at 5-6 s/pass at sf0.1 on
    local[32] where the same pass takes ~0.2 s spread.  The guard makes this
    a no-op on a production table that already arrives with real splits:
    only a scan with fewer partitions than total cores pays the (tiny,
    pre-blowup) rebalancing shuffle."""
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
