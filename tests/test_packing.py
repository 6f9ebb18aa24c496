"""Sharding / sequence packing / token mixing (kgx.operators.packing)."""

import pytest
from pyspark.sql import functions as F

from kgx.operators import packing


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    # released after the module: a cached scan left behind is substituted
    # into every later plan over documents.parquet (widening its ReadSchema)
    df = spark.read.parquet(f"{sf_dir}/documents.parquet").cache()
    yield df
    df.unpersist()


def test_seq_pack_conservation_and_contiguity(spark, docs):
    """Packing is concat-then-chunk: per shard, start_tok runs contiguously
    (each doc starts where the previous ended), chunk ids are consistent
    with the running offsets, and no document is lost."""
    capacity = 128
    packed = packing.seq_pack(docs, capacity=capacity, n_shards=8)
    rows = packed.orderBy("shard", "doc_id").collect()
    assert len(rows) == packing.with_shard(docs, 8).count()

    offset = {}
    for r in rows:
        expect_start = offset.get(r.shard, 0)
        assert r.start_tok == expect_start
        offset[r.shard] = expect_start + r.n_tokens
        assert r.first_seq == r.start_tok // capacity
        assert r.last_seq == (r.start_tok + r.n_tokens - 1) // capacity
        assert r.n_seqs == r.last_seq - r.first_seq + 1


def test_seq_pack_total_sequences_match_token_mass(spark, docs):
    """Per shard: number of distinct training sequences == ceil(total
    tokens / capacity) — chunking wastes nothing except the final partial
    sequence per shard."""
    capacity = 128
    packed = packing.seq_pack(docs, capacity=capacity, n_shards=8)
    per_shard = (
        packed.groupBy("shard")
        .agg(F.sum("n_tokens").alias("toks"), F.max("last_seq").alias("max_seq"))
        .collect()
    )
    for r in per_shard:
        assert r.max_seq == (r.toks - 1) // capacity


def test_shard_manifest_checksum_detects_doc_set_change(spark, docs):
    m_all = {r.shard: r for r in packing.shard_manifest(docs, 8).collect()}
    dropped = docs.where(F.col("doc_id") != 7)
    m_drop = {r.shard: r for r in packing.shard_manifest(dropped, 8).collect()}
    changed = [s for s in m_all if m_all[s].checksum != m_drop.get(s, m_all[s]).checksum]
    assert len(changed) == 1  # only doc 7's shard moved
    s = changed[0]
    assert m_all[s].n_docs == m_drop[s].n_docs + 1


def test_shard_manifest_agrees_with_partitioned_write(spark, docs, tmp_path):
    """The manifest describes exactly what a partitionBy('shard') export
    writes: re-reading the written files and re-aggregating reproduces the
    manifest bit-for-bit (the resume/audit property)."""
    out = str(tmp_path / "shards")
    packing.with_shard(docs, 8).write.partitionBy("shard").parquet(out)
    reread = spark.read.parquet(out).select(
        "doc_id", F.col("shard").cast("long").alias("shard"), "n_tokens", "n_chars"
    )
    from kgx.functions.hashing import spark_md5_60

    again = reread.groupBy("shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
        F.sum(
            F.expr(f"{spark_md5_60('cast(doc_id as string)')} % {packing.CHECKSUM_MOD}")
        ).alias("checksum"),
    )
    a = {tuple(r) for r in packing.shard_manifest(docs, 8).collect()}
    b = {tuple(r) for r in again.collect()}
    assert a == b


def test_token_mix_rates_and_binding_source(spark, docs):
    rows = packing.token_mix_plan(docs).collect()
    assert rows
    # the binding source (min tokens-per-weight) is kept whole, exactly
    binding = min(rows, key=lambda r: (r.n_tokens / r.weight, r.source))
    assert binding.rate_bp == 10000
    bn, bw = binding.n_tokens, binding.weight
    for r in rows:
        assert 0 < r.rate_bp <= 10000
        assert r.sampled_docs <= r.n_docs
        assert r.sampled_tokens <= r.n_tokens
        # expected tokens after sampling never exceed the proportional
        # target share w_s * (bn / bw) (rate floor guarantees <=;
        # hash-Bernoulli variance is audited, not bounded, by sampled_*)
        assert r.rate_bp * r.n_tokens // 10000 <= (r.weight * bn) // bw


def test_with_shard_uniformity(spark, docs):
    counts = [r.n for r in packing.with_shard(docs, 8).groupBy("shard").agg(F.count("*").alias("n")).collect()]
    assert len(counts) == 8
    assert max(counts) <= 3 * min(counts)  # md5 spread, loose bound


def test_seq_pack_degenerate_params(spark, docs):
    """capacity=1 (every token its own sequence) and n_shards=1 (one global
    shard) both satisfy the same conservation laws."""
    one = packing.seq_pack(docs, capacity=1, n_shards=1).collect()
    assert all(r.shard == 0 for r in one)
    assert all(r.n_seqs == r.n_tokens for r in one)
    total = sum(r.n_tokens for r in one)
    assert max(r.last_seq for r in one) == total - 1


def test_token_mix_single_source_keeps_everything(spark, docs):
    from pyspark.sql import functions as F

    solo = docs.withColumn("source", F.lit("only"))
    rows = packing.token_mix_plan(solo).collect()
    assert len(rows) == 1
    assert rows[0].rate_bp == 10000
    assert rows[0].sampled_docs == rows[0].n_docs
