"""End-to-end KG construction pipeline with explicit partitioning + resume.

Replaces the reference's per-HTTP-request lifecycle (reference
main.py:81-132: upload → extract → validate → persist, one doc per request,
single node) with one batch DataFrame job designed for 10^12 documents:

    docs(doc_id, spans)
      → bucket = pmod(xxhash64(doc_id), n_buckets)        [partition unit]
      → anti-filter buckets already committed (lineage)   [resume]
      → salted repartition                                [skew handling]
      → span concat (SQL higher-order fns, zero shuffle)
      → mapInPandas extraction (one Arrow crossing)
      → graphs table write, partitioned by bucket
      → nodes/edges/triples derived by JVM-side explodes of the
        materialized graphs table (extraction runs exactly once)
      → lineage append with per-bucket metrics
      → optional canonical tail over all committed graphs (canonicalize)

Scale notes:
- ``repartition(P, bucket, salt)`` spreads each bucket over ``salt_factor``
  tasks so a heavy-tailed bucket (10x-length docs clustering by hash
  accident) cannot straggle a whole stage; AQE skew-join split covers the
  join side downstream.
- Writes are partitioned by ``bucket`` with dynamic partition overwrite:
  re-running a failed job overwrites only the partitions it recomputes, so
  a mid-job crash leaves committed buckets untouched and uncommitted buckets
  are rewritten wholesale — idempotent at the bucket level.
- All persisted tables are plain directory tables here (sandbox); swap
  ``.parquet`` for ``.format("iceberg")`` + catalog identifiers for atomic
  multi-snapshot commits in production — the dataflow is identical.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kgx.operators import extract, spans as spans_op
from kgx.plans import lineage as lin


@dataclass
class PipelineConfig:
    out_dir: str
    n_buckets: int = 64
    salt_factor: int = 4          # tasks per bucket for the extraction stage
    resume: bool = True
    presplit: bool = False        # input already partitioned by (bucket, salt)
                                  # — skip the internal salted repartition
                                  # (production: Iceberg bucket(doc_id) table
                                  # layout makes the scan arrive aligned)
    run_id: str | None = None
    validate: bool = False        # P7-P9 sanity gate between extract & write
    canonicalize: bool = False    # north star: alias/CC canonical map +
                                  # deduplicated canonical triple table
    use_minhash_linking: bool = False  # add LSH candidates to alias edges

    def __post_init__(self):
        _check_shape(self.n_buckets, self.salt_factor)


def _check_shape(n_buckets: int, salt_factor: int) -> None:
    """Bucket ids are ``pmod(hash, n_buckets)`` and each bucket spreads over
    ``salt_factor`` tasks.  A value below 1 would fail late with an
    unrelated Spark error or write negative bucket ids, so it is refused
    before any Spark job starts."""
    for field, value in (("n_buckets", n_buckets), ("salt_factor", salt_factor)):
        if value < 1:
            raise ValueError(f"{field} must be >= 1, got {value}")


def _bucket(doc_id: str | Column, n_buckets: int) -> Column:
    """The partition unit every table and the raw prepartition agree on."""
    return F.pmod(F.xxhash64(doc_id), F.lit(n_buckets))


def _bucketed(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn("bucket", _bucket("doc_id", n_buckets).cast("int"))


def prepartition_raw(
    raw: DataFrame,
    n_buckets: int,
    salt_factor: int = 4,
    final_doc_id=None,
) -> DataFrame:
    """Partition RAW (pre-synthesis) rows by (bucket, salt) of their final
    ``doc_id`` so that span synthesis, extraction, and the bucket-partitioned
    writes all run map-side with zero further shuffles (pass
    ``presplit=True`` to :func:`run`).

    The shuffle this performs moves only the cheap raw columns — orders of
    magnitude less I/O than repartitioning synthesized span structs or
    extracted graph structs.  On a real cluster the same effect comes for
    free from an Iceberg ``bucket(N, doc_id)`` table layout.

    ``final_doc_id`` must be the expression producing the doc_id the
    pipeline will see (``kgx.sources.docs.span_doc_id()`` for spans
    synthesized by ``docs.spans_table``), else bucket alignment silently
    breaks and the partitioned write degrades to tasks×buckets files.
    """
    _check_shape(n_buckets, salt_factor)
    fid = final_doc_id if final_doc_id is not None else F.col("doc_id")
    return raw.repartition(
        n_buckets * salt_factor,
        _bucket(fid, n_buckets),
        F.pmod(F.xxhash64(fid, F.lit(1)), F.lit(salt_factor)),
    )


def run(spark: SparkSession, docs: DataFrame, cfg: PipelineConfig) -> dict:
    """Execute (or resume) the pipeline. Returns a metrics dict."""
    started = datetime.now(timezone.utc)
    t0 = time.time()
    run_id = cfg.run_id or uuid.uuid4().hex[:12]

    bucketed = _bucketed(docs, cfg.n_buckets)

    done = set(lin.completed_buckets(spark, cfg.out_dir)) if cfg.resume else set()
    if done:
        bucketed = bucketed.where(~F.col("bucket").isin(sorted(done)))

    if cfg.presplit:
        # caller pre-partitioned the RAW rows by (bucket, salt) before span
        # synthesis (see prepartition_raw) — extraction runs map-side on
        # aligned partitions and the partitioned write below needs no shuffle
        # either: zero full-data shuffles end-to-end.  Hash collisions mean a
        # task may hold a small number of whole (bucket, salt) groups rather
        # than exactly one; alignment (no partial groups) is what bounds the
        # output file count at O(buckets × salt).
        salted = bucketed
    else:
        # skew-aware spread: bucket × salt so no single bucket serializes a
        # stage.  NOTE this shuffles the full span payload — callers that can
        # partition upstream (Iceberg bucket(doc_id) layout, or
        # prepartition_raw before synthesis) should, and pass presplit=True
        salted = bucketed.repartition(
            cfg.n_buckets * cfg.salt_factor,
            "bucket",
            F.pmod(F.xxhash64("doc_id", F.lit(1)), F.lit(cfg.salt_factor)),
        )

    graphs = extract.extract_graphs(spans_op.with_doc_text(salted))
    if cfg.validate:
        from kgx.operators import validate as validate_op

        graphs = validate_op.valid_graphs(graphs)
    graphs = _bucketed(graphs, cfg.n_buckets)

    graphs_path = os.path.join(cfg.out_dir, "graphs")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    # align write partitioning with the bucket layout — without alignment,
    # every extraction task writes into every bucket directory (tasks ×
    # buckets tiny files).  presplit input is already aligned (each task
    # holds whole (bucket, salt) groups → O(salt_factor) files per bucket,
    # no shuffle); otherwise one repartition gives one file per bucket.
    aligned = graphs if cfg.presplit else graphs.repartition(cfg.n_buckets, "bucket")
    # persist the extraction output ONCE (memory, disk spill): the graphs
    # write, the three flat-table writes, and the metrics aggregation all
    # consume it without re-running extraction or round-tripping the nested
    # parquet (write-then-read-4x doubles I/O on a bandwidth that does not
    # scale with cores — measurably the worst-scaling phase before this)
    from pyspark import StorageLevel

    stages: dict[str, float] = {}
    t_stage = time.time()
    stored = aligned.persist(StorageLevel.MEMORY_AND_DISK)
    stored.write.mode("overwrite").partitionBy("bucket").parquet(graphs_path)
    # extraction + persist + graphs write all materialize here
    stages["extract_persist_graphs_write"] = round(time.time() - t_stage, 3)

    # the three flat writes + metrics are independent jobs over the persisted
    # extraction output — pure JVM explodes, no second Python pass — and are
    # submitted CONCURRENTLY so their fixed per-job latencies overlap
    # instead of summing (matters most at low parallelism).

    def _write_flat(args):
        name, fn = args
        flat = _bucketed(fn(stored), cfg.n_buckets)
        flat.write.mode("overwrite").partitionBy("bucket").parquet(
            os.path.join(cfg.out_dir, name)
        )

    def _metrics(_):
        return (
            stored.groupBy("bucket")
            .agg(
                F.count("*").alias("docs"),
                F.sum(F.size("nodes")).alias("nodes"),
                F.sum(F.size("edges")).alias("edges"),
                F.sum(F.size("triples")).alias("triples"),
            )
            .collect()
        )

    from concurrent.futures import ThreadPoolExecutor

    t_stage = time.time()
    try:
        with ThreadPoolExecutor(max_workers=4) as pool:
            flats = pool.map(
                _write_flat,
                [
                    ("nodes", extract.nodes_table),
                    ("edges", extract.edges_table),
                    ("triples", extract.triples_table),
                ],
            )
            metrics_fut = pool.submit(_metrics, None)
            list(flats)
            per_bucket_rows = metrics_fut.result()
    finally:
        stored.unpersist()
    stages["flat_writes_and_metrics"] = round(time.time() - t_stage, 3)

    t_stage = time.time()
    # per_bucket_rows is already on the driver — the commit is a direct
    # pyarrow write (see append_lineage), zero Spark jobs in the serial tail.
    # It comes before the canonical tail: every bucket table is written by
    # now, so a tail failure keeps the buckets committed, and a resume
    # re-runs only the tail over all committed graphs
    lin.append_lineage(spark, cfg.out_dir, run_id, per_bucket_rows, started)
    stages["lineage_commit"] = round(time.time() - t_stage, 3)

    if cfg.canonicalize:
        # north-star tail: entity linking over ALL committed buckets (the
        # canonical map is global — recomputed cheaply from unique labels,
        # which are orders of magnitude smaller than the corpus) and a
        # deduplicated canonical triple table
        from kgx.operators import linking

        all_graphs = spark.read.parquet(graphs_path)
        nodes_all = extract.nodes_table(all_graphs)
        cmap = linking.canonical_map(
            nodes_all, use_minhash=cfg.use_minhash_linking
        )
        cmap.write.mode("overwrite").parquet(os.path.join(cfg.out_dir, "canonical_map"))
        canon = linking.canonical_triples(extract.triples_table(all_graphs), cmap)
        _bucketed(canon, cfg.n_buckets).write.mode("overwrite").partitionBy(
            "bucket"
        ).parquet(os.path.join(cfg.out_dir, "triples_canonical"))

    docs_this_run = sum(r["docs"] for r in per_bucket_rows)
    triples_this_run = sum(r["triples"] for r in per_bucket_rows)
    prior = (
        lin.read_lineage(spark, cfg.out_dir)
        .where(F.col("status") == "done")
        .where(F.col("run_id") != run_id)
        .agg(
            F.countDistinct("bucket").alias("b"),
            F.coalesce(F.sum("docs"), F.lit(0)).alias("d"),
            F.coalesce(F.sum("triples"), F.lit(0)).alias("t"),
        )
        .collect()[0]
        if done
        else None
    )
    wall = time.time() - t0
    return {
        "run_id": run_id,
        "wall_sec": wall,
        "stages": stages,
        "buckets_total": len({r["bucket"] for r in per_bucket_rows} | done),
        "buckets_this_run": len(per_bucket_rows),
        "docs": docs_this_run + (int(prior["d"]) if prior else 0),
        "triples": triples_this_run + (int(prior["t"]) if prior else 0),
    }


def read_output(spark: SparkSession, out_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, table)).drop("bucket")
