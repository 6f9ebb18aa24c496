"""Per-partition lineage + metrics — the checkpoint/resume protocol.

The reference models versioned state with SQLAlchemy ``versions`` rows
(reference database_service.py:35-83); at cluster scale we instead record one
lineage row per *partition bucket* after that bucket's output commits.  A
restarted job anti-joins its input against completed buckets and recomputes
nothing that already landed (north rule: "resumable from checkpoint with
per-partition lineage + metrics").

Schema::

    run_id       string   -- caller-supplied job identifier
    bucket       int      -- pmod(xxhash64(doc_id), n_buckets)
    status       string   -- 'done'
    docs         long     -- documents processed in this bucket
    nodes        long
    edges        long
    triples      long
    started_at   timestamp
    finished_at  timestamp

The lineage table is append-only; the newest 'done' row per bucket wins.
In production this lives in an Iceberg table (atomic appends); the sandbox
fallback is a parquet directory where each append writes new files — both
give atomic per-commit visibility.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Schemes that NEED (and support) the dot-temp + atomic-rename protocol:
#: HDFS-family filesystems expose in-progress files with growing length, so
#: a direct write races concurrent readers.  Everything else defaults to the
#: direct single-object PUT — on flat object stores (s3://, gs://, abfs on
#: non-hierarchical accounts, ...) a half-written object never becomes
#: readable AND rename is emulated or unavailable, so the rename protocol
#: would be the wrong (sometimes crashing) choice there.  Allowlisting the
#: rename side keeps unknown schemes on the fail-nowhere default.
_RENAME_FILESYSTEMS = frozenset({"hdfs", "viewfs", "webhdfs", "alluxio"})


def _fs_from_uri(uri: str):
    """pyarrow (fs, path) for a remote URI — a seam so tests can mount a
    local FS under a fake hdfs:// / s3:// scheme (pyarrow's C types are
    immutable, so the protocol can't be spied via monkeypatching them)."""
    import pyarrow.fs as pafs

    return pafs.FileSystem.from_uri(uri)

LINEAGE_SCHEMA = (
    "run_id string, bucket int, status string, docs long, nodes long, "
    "edges long, triples long, started_at timestamp, finished_at timestamp"
)


def lineage_path(out_dir: str) -> str:
    return os.path.join(out_dir, "lineage")


def read_or_empty(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """The parquet table at ``path``, or an empty one when the path does
    not exist (a fresh output dir).  Any other read error propagates: a
    corrupt or unreachable commit log must fail the job, not read as
    "nothing committed" and silently redo committed work."""
    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return spark.createDataFrame([], schema)


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    return read_or_empty(spark, lineage_path(out_dir), LINEAGE_SCHEMA)


def completed_buckets(spark: SparkSession, out_dir: str) -> list[int]:
    lin = read_lineage(spark, out_dir)
    return [
        r["bucket"]
        for r in lin.where(F.col("status") == "done").select("bucket").distinct().collect()
    ]


def append_lineage(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    per_bucket,
    started_at: datetime,
) -> None:
    """``per_bucket``: (bucket, docs, nodes, edges, triples) — a collected
    row list, or a (small) DataFrame for convenience.

    The lineage table is driver-side metadata (one row per bucket, already
    collected for the job summary), so the append is a direct pyarrow
    parquet write + atomic rename — NOT a Spark job.  The round-2 stage
    profile showed the Spark-job version costing up to 13.7 s of pure
    serial tail at local[32] ×320 (scheduler + createDataFrame + task
    round-trip for a sub-KB table), an Amdahl term that only grows with
    cluster size.  The dot-prefixed temp file is invisible to concurrent
    Spark readers until the rename, preserving atomic per-commit
    visibility (the parquet-directory stand-in for Iceberg's atomic
    append).

    ``out_dir`` may be any pyarrow-supported filesystem URI (s3://,
    hdfs://, gcs://, file://, or a bare local path).  The write protocol
    is scheme-dependent because atomic visibility is: on HDFS-family
    filesystems (_RENAME_FILESYSTEMS) an in-progress file IS visible with
    growing length, so a direct write races concurrent ``read_lineage``
    calls with a torn parquet footer — those get the dot-temp +
    atomic-rename protocol (``pyarrow.fs.move``; HDFS rename is atomic),
    same as local paths.  Every other scheme — object stores and unknown
    filesystems — gets a direct single-object PUT, which is already
    atomically visible there (a half-written object never becomes
    readable) and avoids emulated or unavailable renames (e.g. S3
    copy+delete, Azure flat-namespace accounts where rename raises)."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    if isinstance(per_bucket, DataFrame):
        per_bucket = per_bucket.collect()
    finished = datetime.now(timezone.utc)
    n = len(per_bucket)
    ts = pa.timestamp("us", tz="UTC")
    tbl = pa.table(
        {
            "run_id": pa.array([run_id] * n, pa.string()),
            "bucket": pa.array([int(r["bucket"]) for r in per_bucket], pa.int32()),
            "status": pa.array(["done"] * n, pa.string()),
            "docs": pa.array([int(r["docs"]) for r in per_bucket], pa.int64()),
            "nodes": pa.array([int(r["nodes"]) for r in per_bucket], pa.int64()),
            "edges": pa.array([int(r["edges"]) for r in per_bucket], pa.int64()),
            "triples": pa.array([int(r["triples"]) for r in per_bucket], pa.int64()),
            "started_at": pa.array([started_at] * n, ts),
            "finished_at": pa.array([finished] * n, ts),
        }
    )
    fname = f"part-{run_id}-{uuid.uuid4().hex[:8]}.parquet"
    scheme = out_dir.split("://", 1)[0] if "://" in out_dir else ""
    if scheme in ("", "file"):
        path = lineage_path(out_dir[len("file://"):] if scheme else out_dir)
        os.makedirs(path, exist_ok=True)
        tmp = os.path.join(path, f".{fname}.tmp")
        pq.write_table(tbl, tmp)
        os.replace(tmp, os.path.join(path, fname))
    else:
        fs, base = _fs_from_uri(out_dir)
        path = f"{base.rstrip('/')}/lineage"
        try:
            fs.create_dir(path, recursive=True)
        except NotImplementedError:  # flat object stores have no dirs
            pass
        if scheme.lower() in _RENAME_FILESYSTEMS:
            # HDFS-family: files are readable while being written, so
            # stage under a dot-name and atomically rename into place.
            tmp = f"{path}/.{fname}.tmp"
            pq.write_table(tbl, tmp, filesystem=fs)
            fs.move(tmp, f"{path}/{fname}")
        else:
            # object stores & unknown schemes: single PUT, atomically
            # visible; rename there is emulated (copy+delete) or absent.
            pq.write_table(tbl, f"{path}/{fname}", filesystem=fs)
