"""Training-data export plumbing: sharding, sequence packing, token mixing.

The write side of a pretraining pipeline, downstream of curation
(kgx.plans.curation_pipeline): deterministically shard the surviving
corpus, pack documents into fixed-capacity training sequences
(concat-then-chunk, the standard LM pretraining layout), and compute
source-mixing sampling rates against target weights on a token budget.
The reference extractor has no equivalent (it serves one document per HTTP
request); these are north-star NEW operators in the same family as the
curation funnel.

Determinism contract: shard and sampling decisions are md5-60
hash-Bernoulli (kgx.functions.hashing — identical in Spark and DuckDB);
token counts reuse the whitespace tokenizer constant
(kgx.operators.textstats.TOKENS_EXPR); all arithmetic is exact bigint with
truncating division (Spark ``DIV`` == DuckDB ``//``, both
toward-zero — parity-tested in tests/test_packing.py).

Scale design: packing windows are partitioned BY SHARD — never a global
ORDER BY (a single-partition window dies at corpus scale).  With shards
sized to output files (thousands at 100 TB), each window partition sorts
only its own shard.  Manifests and mixing rates are pure groupBy
aggregates riding map-side combine; the per-source rate table is
broadcast-sized by construction (|sources| rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kgx.functions.hashing import spark_md5_60
from kgx.operators.textstats import TOKENS_EXPR

#: Modulus for the order-independent shard checksum: per-doc md5-60 reduced
#: below 2^20 before the bigint SUM, so a shard of up to ~8.8e12 docs can
#: never overflow signed 64-bit.
CHECKSUM_MOD = 1000003

#: Deterministic per-source mixing weight (1..3), a fixture standing in for
#: the user-supplied weight table a production run would broadcast-join.
#: ONE dialect-neutral string shared with the oracle so they can never
#: drift (the PII_FIXTURE_SUFFIX stance, kgx.operators.curation).
WEIGHT_EXPR_SPARK = f"(1 + {spark_md5_60('source')} % 3)"


def _tok_expr() -> str:
    return f"size({TOKENS_EXPR})"


def with_shard(docs: DataFrame, n_shards: int = 8) -> DataFrame:
    """(doc_id, text, ...) → + (shard, n_tokens).  Shard is the md5-60 hash
    of the doc_id — uniform, deterministic, replayable by any engine.

    CONTRACT: documents with zero whitespace tokens are EXCLUDED (they
    contribute nothing to a token-packed training sequence, and a 0-token
    doc would corrupt the ``first_seq``/``last_seq`` arithmetic in
    :func:`seq_pack`).  Callers exporting a corpus must audit the drop —
    jobs/run_export.py counts and reports ``dropped_empty_docs`` in its
    summary JSON so a curated whitespace-only document can never vanish
    silently."""
    return docs.selectExpr(
        "doc_id",
        f"cast({spark_md5_60('cast(doc_id as string)')} % {n_shards} as bigint) AS shard",
        f"cast({_tok_expr()} as bigint) AS n_tokens",
        "cast(length(text) as bigint) AS n_chars",
    ).where(F.col("n_tokens") > 0)


def seq_pack(docs: DataFrame, capacity: int = 128, n_shards: int = 8) -> DataFrame:
    """Concat-then-chunk sequence packing per shard.

    Documents are concatenated in (shard, doc_id) order and chunked into
    fixed ``capacity``-token training sequences; a document may span a
    chunk boundary (the standard GPT-style pretraining layout — no padding,
    no document loss).  Output per doc: (doc_id, shard, n_tokens,
    start_tok, first_seq, last_seq, n_seqs) where seq ids count within the
    shard.

    One shuffle (hash by shard), then a per-shard window — the global-sort
    trap is avoided by construction.
    """
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = with_shard(docs, n_shards)
    return t.withColumn("cum", F.sum("n_tokens").over(w)).select(
        "doc_id",
        "shard",
        "n_tokens",
        (F.col("cum") - F.col("n_tokens")).alias("start_tok"),
        F.expr(f"(cum - n_tokens) DIV {capacity}").alias("first_seq"),
        F.expr(f"(cum - 1) DIV {capacity}").alias("last_seq"),
        (
            F.expr(f"(cum - 1) DIV {capacity}")
            - F.expr(f"(cum - n_tokens) DIV {capacity}")
            + F.lit(1)
        ).cast("long").alias("n_seqs"),
    )


def shard_manifest(docs: DataFrame, n_shards: int = 8) -> DataFrame:
    """Per-shard export manifest: (shard, n_docs, n_tokens, n_chars,
    checksum).  The checksum is an order-independent bigint sum of reduced
    per-doc hashes — two engines (or a re-run after resume) agree iff the
    shard holds exactly the same doc set."""
    t = with_shard(docs, n_shards)
    return t.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
        F.sum(
            F.expr(f"{spark_md5_60('cast(doc_id as string)')} % {CHECKSUM_MOD}")
        ).alias("checksum"),
    )


def token_mix_plan(docs: DataFrame) -> DataFrame:
    """Source-mixing plan on a token budget.

    Given per-source target weights (WEIGHT_EXPR fixture; production joins a
    real weight table), scale every source against the binding
    (scarcest-per-weight) source: ``rate_s = w_s * (tokens_b / w_b) /
    tokens_s`` in basis points with exact cross-multiplied bigint
    arithmetic, so the binding source gets rate 10000 EXACTLY and is kept
    whole.  Document sampling treats per-doc token counts as exchangeable
    within a source, the standard corpus-level approximation.  The
    ``10000 * w * tokens_b`` product stays in int64 up to ~3e14 binding
    tokens at max weight; an extreme-scale deployment would switch the rate
    computation (a |sources|-row table) to DECIMAL(38).

    Output: (source, weight, n_docs, n_tokens, rate_bp, sampled_docs,
    sampled_tokens) — exact bigints; `sampled_*` replay the selection so the
    plan doubles as an audit of what a writer applying it would emit.
    """
    base = docs.selectExpr(
        "doc_id",
        "source",
        f"cast({WEIGHT_EXPR_SPARK} as bigint) AS weight",
        f"cast({_tok_expr()} as bigint) AS n_tokens",
        f"cast({spark_md5_60('cast(doc_id as string)')} % 10000 as bigint) AS u",
    ).where(F.col("n_tokens") > 0)
    per_source = base.groupBy("source", "weight").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    )
    binding = (
        per_source.orderBy(
            (F.col("n_tokens").cast("double") / F.col("weight")).asc(),
            F.col("source").asc(),
        )
        .limit(1)
        .select(F.col("n_tokens").alias("bn"), F.col("weight").alias("bw"))
    )
    rates = per_source.crossJoin(F.broadcast(binding)).select(
        "source",
        "weight",
        "n_docs",
        "n_tokens",
        F.expr(
            "least(cast(10000 as bigint),"
            " (10000 * weight * bn) DIV (bw * n_tokens))"
        ).alias("rate_bp"),
    )
    picked = (
        base.join(F.broadcast(rates.select("source", "rate_bp")), "source")
        .where(F.col("u") < F.col("rate_bp"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("sampled_docs"),
            F.sum("n_tokens").alias("sampled_tokens"),
        )
    )
    return (
        rates.join(picked, "source", "left")
        .select(
            "source",
            "weight",
            "n_docs",
            "n_tokens",
            "rate_bp",
            F.coalesce("sampled_docs", F.lit(0)).cast("long").alias("sampled_docs"),
            F.coalesce("sampled_tokens", F.lit(0)).cast("long").alias("sampled_tokens"),
        )
    )
