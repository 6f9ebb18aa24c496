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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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
    not exist (a fresh output dir).  Absence is asked of the path's Hadoop
    filesystem under the session's configuration, so a fresh output dir
    costs no failed read (and no logged Java stack trace).  Every read
    error propagates: a corrupt or unreachable commit log must fail the
    job, not read as "nothing committed" and silently redo committed work."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    if not hpath.getFileSystem(conf).exists(hpath):
        struct = StructType.fromDDL(schema)
        return spark.createDataFrame(_arrow_rows([], struct), struct)
    return spark.read.schema(schema).parquet(path)


def _arrow_rows(rows: list[dict], struct: StructType):
    """``rows`` (dicts keyed by column) as a pyarrow Table of the Spark
    schema ``struct``.  A frame built from it is a local scan, with no
    Python worker to unpickle the rows."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    return pa.Table.from_pylist(rows, schema=to_arrow_schema(struct))


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
    """``per_bucket``: collected (bucket, docs, nodes, edges, triples)
    rows.  Appends one 'done' row per bucket with :func:`append_rows`."""
    finished = datetime.now(timezone.utc)
    counts = ("docs", "nodes", "edges", "triples")
    append_rows(out_dir, "lineage", LINEAGE_SCHEMA, [
        {"run_id": run_id, "bucket": int(r["bucket"]), "status": "done",
         **{c: int(r[c]) for c in counts},
         "started_at": started_at, "finished_at": finished}
        for r in per_bucket
    ])


def append_rows(out_dir: str, subdir: str, schema: str, rows: list[dict]) -> None:
    """Commit ``rows`` (dicts keyed by the columns of the DDL ``schema``, the
    same string the readers pass to :func:`read_or_empty`) as one parquet
    file under ``out_dir/subdir`` — the one commit protocol for lineage
    tables.  Needs an active Spark session to parse ``schema``.

    Lineage tables are driver-side metadata, so the append is a direct
    pyarrow parquet write — NOT a Spark job.  The round-2 stage profile
    showed the Spark-job version costing up to 13.7 s of pure serial tail
    at local[32] ×320 (scheduler + createDataFrame + task round-trip for a
    sub-KB table), an Amdahl term that only grows with cluster size.

    ``out_dir`` may be any pyarrow-supported filesystem URI (s3://,
    hdfs://, gcs://, file://, or a bare local path).  The write protocol
    is scheme-dependent because atomic visibility is.  Local paths and
    HDFS-family filesystems (_RENAME_FILESYSTEMS), where an in-progress
    file IS visible with growing length, write a dot-prefixed temp file
    (invisible to Spark readers) and atomically rename it into place
    (``os.replace`` / ``pyarrow.fs.move``), so a concurrent read never sees
    a torn parquet footer.  Every other scheme — object stores and unknown
    filesystems — gets a direct single-object PUT, which is already
    atomically visible there (a half-written object never becomes
    readable) and avoids emulated or unavailable renames (e.g. S3
    copy+delete, Azure flat-namespace accounts where rename raises)."""
    import uuid

    import pyarrow.parquet as pq

    tbl = _arrow_rows(rows, StructType.fromDDL(schema))
    fname = f"part-{uuid.uuid4().hex}.parquet"
    scheme = out_dir.split("://", 1)[0] if "://" in out_dir else ""
    if scheme in ("", "file"):
        path = os.path.join(out_dir[len("file://"):] if scheme else out_dir, subdir)
        os.makedirs(path, exist_ok=True)
        tmp = os.path.join(path, f".{fname}.tmp")
        pq.write_table(tbl, tmp)
        os.replace(tmp, os.path.join(path, fname))
    else:
        fs, base = _fs_from_uri(out_dir)
        path = f"{base.rstrip('/')}/{subdir}"
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
