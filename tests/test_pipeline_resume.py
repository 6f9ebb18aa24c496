"""Checkpoint/resume: a restarted pipeline recomputes zero completed buckets
and converges to the same output as a clean run (north rule)."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from kgx.plans import lineage as lin
from kgx.plans import pipeline
from kgx.sources import corpus, docs as docs_src


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    narrative = corpus.narrative_documents(docs_src.load_documents(spark, sf_dir))
    return docs_src.spans_table(narrative).cache()


def _text_docs(spark, texts):
    """(doc_id, text) pairs as one text span per doc, the minimal
    spans-table shape."""
    import pandas as pd

    raw = spark.createDataFrame(
        pd.DataFrame({"doc_id": [d for d, _ in texts], "text": [t for _, t in texts]})
    )
    return raw.selectExpr(
        "doc_id",
        "array(named_struct('kind', 'text', 'text', text, 'media_ref', '',"
        " 'offset', 0)) AS spans",
    )


def _triples_set(spark, out_dir):
    df = pipeline.read_output(spark, out_dir, "triples")
    return {tuple(r) for r in df.select("doc_id", "subj", "pred", "obj").collect()}


def test_resume_skips_completed_buckets(spark, docs):
    out_resume = tempfile.mkdtemp(prefix="kgx_resume_")
    out_clean = tempfile.mkdtemp(prefix="kgx_clean_")
    try:
        n_buckets = 8
        cfg = pipeline.PipelineConfig(out_dir=out_resume, n_buckets=n_buckets, run_id="run1")
        bucketed = pipeline._bucketed(docs, n_buckets)

        # simulate a job that died after committing buckets 0-3
        partial = bucketed.where(F.col("bucket") < 4).drop("bucket")
        m1 = pipeline.run(spark, partial, cfg)
        assert m1["buckets_total"] == 4

        lin1 = {
            r["bucket"]: (r["run_id"], r["finished_at"])
            for r in lin.read_lineage(spark, out_resume).collect()
        }
        assert set(lin1) == {0, 1, 2, 3}

        # restart over the FULL input — must recompute nothing already done
        cfg2 = pipeline.PipelineConfig(out_dir=out_resume, n_buckets=n_buckets, run_id="run2")
        m2 = pipeline.run(spark, docs, cfg2)
        lin2 = lin.read_lineage(spark, out_resume).collect()
        by_bucket = {r["bucket"]: (r["run_id"], r["finished_at"]) for r in lin2}
        assert set(by_bucket) == set(range(n_buckets))
        # completed buckets untouched: same run_id, same finished_at
        for b in range(4):
            assert by_bucket[b] == lin1[b]
        # new buckets attributed to the resumed run only
        assert {r["bucket"] for r in lin2 if r["run_id"] == "run2"} == {4, 5, 6, 7}
        assert m2["buckets_total"] == n_buckets

        # resumed output == clean single-shot run
        cfg3 = pipeline.PipelineConfig(out_dir=out_clean, n_buckets=n_buckets, run_id="clean")
        pipeline.run(spark, docs, cfg3)
        assert _triples_set(spark, out_resume) == _triples_set(spark, out_clean)

        # idempotent: a third run over full input finds nothing to do
        m3 = pipeline.run(
            spark, docs,
            pipeline.PipelineConfig(out_dir=out_resume, n_buckets=n_buckets, run_id="run3"),
        )
        lin3 = lin.read_lineage(spark, out_resume)
        assert lin3.where(F.col("run_id") == "run3").count() == 0
        assert m3["buckets_total"] == n_buckets
    finally:
        shutil.rmtree(out_resume, ignore_errors=True)
        shutil.rmtree(out_clean, ignore_errors=True)


def test_presplit_equals_default_path(spark, sf_dir):
    """presplit=True (bucket-aligned raw pre-partitioning, zero full-data
    shuffles) must produce exactly the same triples as the default salted-
    repartition path."""
    out_a = tempfile.mkdtemp(prefix="kgx_presplit_")
    out_b = tempfile.mkdtemp(prefix="kgx_default_")
    try:
        n_buckets = 8
        raw = docs_src.load_documents(spark, sf_dir)
        pre = pipeline.prepartition_raw(
            raw,
            n_buckets,
            salt_factor=2,
            final_doc_id=F.concat(F.lit("doc-"), F.col("doc_id").cast("string")),
        )
        docs_pre = docs_src.spans_table(corpus.narrative_documents(pre))
        pipeline.run(
            spark,
            docs_pre,
            pipeline.PipelineConfig(
                out_dir=out_a, n_buckets=n_buckets, resume=False, presplit=True
            ),
        )
        docs_plain = docs_src.spans_table(corpus.narrative_documents(raw))
        pipeline.run(
            spark,
            docs_plain,
            pipeline.PipelineConfig(out_dir=out_b, n_buckets=n_buckets, resume=False),
        )
        assert _triples_set(spark, out_a) == _triples_set(spark, out_b)
        # alignment invariant: every graphs file holds exactly one bucket,
        # so file count stays O(buckets x salt), not O(tasks x buckets)
        import glob
        import os

        files = glob.glob(os.path.join(out_a, "graphs", "bucket=*", "*.parquet"))
        assert 0 < len(files) <= n_buckets * 2 + n_buckets
    finally:
        shutil.rmtree(out_a, ignore_errors=True)
        shutil.rmtree(out_b, ignore_errors=True)


def test_presplit_resume_skips_completed_buckets(spark, sf_dir):
    """presplit mode composes with checkpoint resume: done buckets are
    anti-filtered BEFORE extraction, their partitions go empty, and the
    restart converges to the clean-run output."""
    out = tempfile.mkdtemp(prefix="kgx_presplit_resume_")
    try:
        n_buckets = 8
        raw = docs_src.load_documents(spark, sf_dir)
        pre = pipeline.prepartition_raw(
            raw,
            n_buckets,
            salt_factor=2,
            final_doc_id=F.concat(F.lit("doc-"), F.col("doc_id").cast("string")),
        )
        docs = docs_src.spans_table(corpus.narrative_documents(pre))

        # first run dies after committing buckets 0-3
        bucketed = pipeline._bucketed(docs, n_buckets)
        partial = bucketed.where(F.col("bucket") < 4).drop("bucket")
        pipeline.run(
            spark,
            partial,
            pipeline.PipelineConfig(
                out_dir=out, n_buckets=n_buckets, run_id="r1", presplit=True
            ),
        )
        lin1 = {
            r["bucket"]: r["finished_at"]
            for r in lin.read_lineage(spark, out).collect()
        }
        assert set(lin1) == {0, 1, 2, 3}

        # restart over the full presplit input
        m2 = pipeline.run(
            spark,
            docs,
            pipeline.PipelineConfig(
                out_dir=out, n_buckets=n_buckets, run_id="r2", presplit=True
            ),
        )
        lin2 = lin.read_lineage(spark, out).collect()
        assert {r["bucket"] for r in lin2 if r["run_id"] == "r2"} == {4, 5, 6, 7}
        for b in range(4):  # untouched timestamps on completed buckets
            assert [r["finished_at"] for r in lin2 if r["bucket"] == b] == [lin1[b]]
        assert m2["buckets_total"] == n_buckets
        # converged output == full clean extraction triple set
        got = _triples_set(spark, out)
        clean = tempfile.mkdtemp(prefix="kgx_presplit_clean_")
        try:
            pipeline.run(
                spark,
                docs,
                pipeline.PipelineConfig(
                    out_dir=clean, n_buckets=n_buckets, resume=False, presplit=True
                ),
            )
            assert got == _triples_set(spark, clean)
        finally:
            shutil.rmtree(clean, ignore_errors=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_canonicalize_tail_merges_aliases(spark):
    """North-star tail through the FULL pipeline: canonicalize=True (with
    MinHash linking on) must emit a canonical_map whose alias variants merge
    and a triples_canonical table whose object labels are canonicalized and
    deduplicated across the alias split."""
    docs = _text_docs(spark, [
        ("doc-a", "John Doe is the CEO of Acme Corporation."),
        ("doc-b", "John Doe is the CEO of Acme Corp."),
        ("doc-c", "Jane Smith founded Widget Systems."),
    ])
    out = tempfile.mkdtemp(prefix="kgx_canon_")
    try:
        pipeline.run(
            spark,
            docs,
            pipeline.PipelineConfig(
                out_dir=out,
                n_buckets=4,
                resume=False,
                canonicalize=True,
                use_minhash_linking=True,
            ),
        )
        cmap = {
            r["label"]: r["canonical_label"]
            for r in spark.read.parquet(os.path.join(out, "canonical_map")).collect()
        }
        assert cmap["Acme Corporation"] == cmap["Acme Corp"]
        canon = pipeline.read_output(spark, out, "triples_canonical")
        objs = {r["obj"] for r in canon.where("pred = 'ceo_of'").collect()}
        assert len(objs) == 1  # both docs' objects rewrote to ONE canonical label
    finally:
        shutil.rmtree(out, ignore_errors=True)



def test_canonical_tail_failure_keeps_every_bucket_committed(spark, docs, monkeypatch):
    """The bucket lineage is committed before the canonical tail runs: a
    tail that fails leaves every bucket committed, and the resumed run
    re-extracts none of them and builds the map an unfailed run builds."""
    from kgx.operators import linking

    real = linking.canonical_map

    def fail_once(*args, **kwargs):
        monkeypatch.setattr(linking, "canonical_map", real)
        raise RuntimeError("canonical tail failed")

    def cfg(out, resume):
        return pipeline.PipelineConfig(
            out_dir=out, n_buckets=4, resume=resume, canonicalize=True
        )

    def cmap(out):
        rows = spark.read.parquet(os.path.join(out, "canonical_map")).collect()
        return sorted(tuple(r) for r in rows)

    out = tempfile.mkdtemp(prefix="kgx_tail_fail_")
    clean = tempfile.mkdtemp(prefix="kgx_tail_clean_")
    try:
        monkeypatch.setattr(linking, "canonical_map", fail_once)
        with pytest.raises(RuntimeError, match="canonical tail failed"):
            pipeline.run(spark, docs, cfg(out, resume=False))
        assert sorted(lin.completed_buckets(spark, out)) == [0, 1, 2, 3]

        resumed = pipeline.run(spark, docs, cfg(out, resume=True))
        assert resumed["buckets_this_run"] == 0
        pipeline.run(spark, docs, cfg(clean, resume=False))
        expected = cmap(clean)
        assert expected and cmap(out) == expected
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(clean, ignore_errors=True)


def test_buckets_this_run_counts_only_committed_buckets(spark):
    """A bucket that no document hashes to is never committed, so no run
    counts it: two documents of one bucket out of four report one bucket,
    and a resume over the same, fully written input reports none."""
    ids = pipeline._bucketed(
        spark.range(16).selectExpr("concat('doc-', id) AS doc_id"), 4
    ).collect()
    bucket = ids[0]["bucket"]
    same = [r["doc_id"] for r in ids if r["bucket"] == bucket][:2]
    assert len(same) == 2
    docs = _text_docs(spark, [(d, "Jane Smith founded Widget Systems.") for d in same])
    out = tempfile.mkdtemp(prefix="kgx_buckets_")
    try:
        cfg = pipeline.PipelineConfig(out_dir=out, n_buckets=4)
        assert pipeline.run(spark, docs, cfg)["buckets_this_run"] == 1
        assert pipeline.run(spark, docs, cfg)["buckets_this_run"] == 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_append_lineage_accepts_file_uri(spark):
    """append_lineage handles filesystem-URI out_dirs, not only bare local
    paths (round-3 advisory: the pyarrow rewrite must keep working for
    Hadoop-compatible FS URIs).  file:// exercises the URI branch offline;
    s3://, hdfs:// and gcs:// take the same pyarrow.fs route."""
    import datetime as dt

    d = tempfile.mkdtemp(prefix="kgx_lin_uri_")
    try:
        started = dt.datetime.now(dt.timezone.utc)
        rows = [{"bucket": 0, "docs": 3, "nodes": 5, "edges": 2, "triples": 2}]
        lin.append_lineage(spark, f"file://{d}", "run-uri", rows, started)
        got = lin.read_lineage(spark, d).collect()
        assert [(r["bucket"], r["docs"], r["status"]) for r in got] == [(0, 3, "done")]
        # bare-path append lands in the same lineage table
        lin.append_lineage(spark, d, "run-bare", rows, started)
        assert lin.read_lineage(spark, d).count() == 2
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_append_lineage_hdfs_uses_temp_then_rename(spark, monkeypatch):
    """On rename-capable filesystems (hdfs://) an in-progress file is
    readable with growing length, so the remote branch must stage under a
    dot-temp and atomically rename — a direct write would let a concurrent
    read_lineage observe a torn parquet footer.  Mount a local FS under a
    fake hdfs:// URI and assert the rename protocol ran (temp gone, final
    present) while flat object stores (s3://) keep the direct single PUT."""
    import datetime as dt

    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    d = tempfile.mkdtemp(prefix="kgx_lin_hdfs_")
    try:
        remote_writes = []
        real_write = pq.write_table

        def spy_write(tbl, where, *a, **kw):
            if kw.get("filesystem") is not None:
                remote_writes.append(where)
            return real_write(tbl, where, *a, **kw)

        monkeypatch.setattr(pq, "write_table", spy_write)
        monkeypatch.setattr(
            lin,
            "_fs_from_uri",
            lambda uri: (pafs.LocalFileSystem(), uri.split("://", 1)[1]),
        )
        started = dt.datetime.now(dt.timezone.utc)
        rows = [{"bucket": 0, "docs": 3, "nodes": 5, "edges": 2, "triples": 2}]
        lin.append_lineage(spark, f"hdfs://{d}", "run-hdfs", rows, started)
        assert len(remote_writes) == 1
        # write landed on a dot-temp, then the atomic rename swapped it in:
        # temp gone, exactly one visible (non-dot) parquet file present
        assert "/.part-" in remote_writes[0] and remote_writes[0].endswith(".tmp")
        assert not os.path.exists(remote_writes[0])
        visible = [f for f in os.listdir(lin.lineage_path(d)) if not f.startswith(".")]
        assert len(visible) == 1 and visible[0].endswith(".parquet")
        got = lin.read_lineage(spark, d).collect()
        assert [(r["bucket"], r["status"]) for r in got] == [(0, "done")]
        # flat object store: direct single PUT under the final name
        lin.append_lineage(spark, f"s3://{d}", "run-s3", rows, started)
        assert len(remote_writes) == 2
        assert remote_writes[1].endswith(".parquet") and "/.part-" not in remote_writes[1]
        # UNKNOWN scheme defaults to the direct PUT too (rename is the
        # exception, not the rule: emulated/unavailable on object stores)
        lin.append_lineage(spark, f"abfs://{d}", "run-abfs", rows, started)
        assert len(remote_writes) == 3
        assert remote_writes[2].endswith(".parquet") and "/.part-" not in remote_writes[2]
        assert lin.read_lineage(spark, d).count() == 3
        assert not [f for f in os.listdir(lin.lineage_path(d)) if f.endswith(".tmp")]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_unreadable_lineage_raises(spark):
    """Only an ABSENT lineage table reads as "no buckets done".  A corrupt
    one, or a location that cannot be read at all, must fail the job:
    treating it as empty would silently recompute every committed bucket."""
    d = tempfile.mkdtemp(prefix="kgx_lin_bad_")
    try:
        assert lin.completed_buckets(spark, d) == []  # fresh out_dir
        os.makedirs(lin.lineage_path(d))
        with open(os.path.join(lin.lineage_path(d), "part-0.parquet"), "w") as f:
            f.write("not a parquet file")
        with pytest.raises(Exception, match="FAILED_READ_FILE"):
            lin.completed_buckets(spark, d)
        with pytest.raises(Exception, match="UnsupportedFileSystem|No FileSystem"):
            lin.read_lineage(spark, "nosuchfs://bucket/out")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_missing_lineage_reads_as_an_arrow_scan(spark, tmp_path):
    # the empty table of a fresh out_dir is built from Arrow on the driver:
    # the lineage DDL's schema, no rows, no PythonRDD
    empty = lin.read_lineage(spark, str(tmp_path))
    assert empty.schema == StructType.fromDDL(lin.LINEAGE_SCHEMA)
    assert empty.collect() == []
    assert "PythonRDD" not in empty._jdf.queryExecution().toRdd().toDebugString()


def test_missing_lineage_is_not_read(spark, tmp_path, monkeypatch):
    # a fresh out_dir is found absent by asking its filesystem, not by a
    # parquet read that fails (and logs a Java stack trace) first
    from pyspark.sql.readwriter import DataFrameReader

    def no_read(*_, **__):
        raise AssertionError("read a lineage path that does not exist")

    monkeypatch.setattr(DataFrameReader, "parquet", no_read)
    empty = lin.read_lineage(spark, str(tmp_path))
    assert empty.schema == StructType.fromDDL(lin.LINEAGE_SCHEMA)
    assert empty.collect() == []


@pytest.mark.parametrize(
    "start",
    [
        lambda spark: pipeline.PipelineConfig(out_dir="unused", n_buckets=0),
        lambda spark: pipeline.PipelineConfig(out_dir="unused", salt_factor=-2),
        lambda spark: pipeline.prepartition_raw(spark.range(4), -1),
        lambda spark: pipeline.prepartition_raw(spark.range(4), 8, salt_factor=0),
    ],
    ids=["cfg_buckets", "cfg_salt", "raw_buckets", "raw_salt"],
)
def test_bad_partition_shape_fails_before_any_spark_job(spark, start):
    """A non-positive bucket count or salt factor is refused up front, naming
    the field (the CLI's flag check is in test_job_flags)."""
    with pytest.raises(ValueError, match=r"^(n_buckets|salt_factor) must be >= 1, got -?\d+$"):
        start(spark)
