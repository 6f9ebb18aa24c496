"""Seeded inputs, job calls and DuckDB oracles for the benchmark workloads.

Every workload starts from a raw ``documents`` table (doc_id bigint, text
string) of lowercase bag-of-words rows, the shape kgx's narrative corpus
derives from (``kgx.sources.corpus``).  The rows are generated here from the
seed and written once to parquet.  Spark reads them through
``kgx.sources.docs.load_documents``; DuckDB reads the same file for the
oracle, so the program sees only the generated documents.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np

# the 30-word vocabulary of the lowercase documents table kgx's corpus
# synthesis was written against; "a" and "the" feed the stop-word rules
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
MIN_TOKENS, MAX_TOKENS = 10, 100
DUP_EVERY = 50        # every 50th doc repeats an earlier doc's text exactly
NEAR_DUP_EVERY = 47   # every 47th doc repeats one with a single token changed


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    base_docs: int          # raw rows generated from the seed
    kind: str               # "kg" → pipeline.run, "curation" → curation_pipeline.run
    replicate: int = 1      # corpus.replicate factor (kg only)
    presplit: bool = False  # prepartition_raw before synthesis (kg only)
    heavy_tail: bool = False  # corpus.heavy_tail on the raw rows (kg only)
    #: workloads whose per-layer metrics this workload's traced run also
    #: records (their own runs do not fit the benchmark's time budget)
    traced_with: tuple = ()

    @property
    def docs(self) -> int:
        return self.base_docs * self.replicate


KG_SKEW = Workload(
    "kg_skew",
    "every 10th doc 10x longer, and the full span payload crosses the "
    "salted repartition shuffle",
    base_docs=1250, kind="kg", replicate=2, heavy_tail=True,
)

#: the workloads BENCHMARK.json lists: one exercises extraction and one
#: bypasses it.  ``kg_skew`` runs standalone too (``--workload kg_skew``);
#: its partitioning layers are traced with ``kg_build``
WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "kg_build",
            "production KG shape with zero full-data shuffles: the Python "
            "extraction crossing and the table writes dominate",
            base_docs=1250, kind="kg", replicate=8, presplit=True,
            traced_with=(KG_SKEW,),
        ),
        Workload(
            "curation",
            "five-stage curation funnel of many short Spark jobs: it bypasses "
            "extraction, so extraction changes should not move it",
            base_docs=1000, kind="curation",
        ),
    )
}
RUNNABLE = {**WORKLOADS, KG_SKEW.name: KG_SKEW}


def raw_documents(n_docs: int, seed: int) -> dict:
    """``n_docs`` raw rows as column lists.  The seed picks the texts and
    offsets ``doc_id``, which re-deals the narrative templates and the media
    interleaving.

    Copies keep the source's ``doc_id`` residue mod 10, so an exact copy
    renders to a byte-identical narrative and the curation funnel's dedup
    stages have real work."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(MIN_TOKENS, MAX_TOKENS + 1, size=n_docs)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    texts: list[str] = []
    pos = 0
    for i, n in enumerate(lens):
        toks = [VOCAB[w] for w in words[pos:pos + n]]
        pos += n
        if i >= 10 and (i % DUP_EVERY == 0 or i % NEAR_DUP_EVERY == 0):
            toks = texts[i - 10 * int(rng.integers(1, i // 10 + 1))].split()
            if i % DUP_EVERY:
                toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts.append(" ".join(toks))
    offset = 10 * n_docs * (seed % 100_000) + seed % 10
    return {"doc_id": list(range(offset, offset + n_docs)), "text": texts}


def write_documents(rows: dict, src_dir: str) -> str:
    """Write ``rows`` as ``<src_dir>/documents.parquet``, the single file
    ``load_documents`` reads, and return ``src_dir``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(src_dir, ignore_errors=True)
    os.makedirs(src_dir)
    table = pa.table(
        {
            "doc_id": pa.array(rows["doc_id"], pa.int64()),
            "text": pa.array(rows["text"], pa.string()),
        }
    )
    pq.write_table(table, os.path.join(src_dir, "documents.parquet"))
    return src_dir


# ---------------------------------------------------------------------------
# the jobs, called through kgx's public entry points
# ---------------------------------------------------------------------------

def n_buckets(nproc: int) -> int:
    return max(2 * nproc, 16)


def start_spark(nproc: int):
    from kgx.session import get_spark

    spark = get_spark("kgx-perfbench", master=f"local[{nproc}]", shuffle_partitions=2 * nproc)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait until its JVM has exited.  The JVM exits when
    the gateway's stdin pipe closes."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def kg_raw(spark, wl: Workload, src_dir: str):
    """Scanned raw rows, replicated (and heavy-tailed for ``kg_skew``)."""
    from kgx.sources import corpus, docs as docs_src

    raw = corpus.replicate(docs_src.load_documents(spark, src_dir), wl.replicate)
    return corpus.heavy_tail(raw) if wl.heavy_tail else raw


def kg_prepartitioned(raw, nproc: int):
    """``prepartition_raw`` by the doc_id ``spans_table`` will give each row."""
    from pyspark.sql import functions as F

    from kgx.plans import pipeline

    return pipeline.prepartition_raw(
        raw,
        n_buckets(nproc),
        salt_factor=1,
        final_doc_id=F.concat(F.lit("doc-"), F.col("doc_id").cast("string")),
    )


def kg_spans(documents):
    from kgx.sources import corpus, docs as docs_src

    return docs_src.spans_table(corpus.narrative_documents(documents))


def kg_config(wl: Workload, out_dir: str, nproc: int):
    from kgx.plans import pipeline

    if wl.presplit:
        return pipeline.PipelineConfig(
            out_dir=out_dir, n_buckets=n_buckets(nproc), salt_factor=1,
            resume=False, presplit=True,
        )
    return pipeline.PipelineConfig(out_dir=out_dir, n_buckets=n_buckets(nproc), resume=False)


def curation_input(spark, src_dir: str):
    from kgx.sources import corpus, docs as docs_src

    return corpus.narrative_documents(docs_src.load_documents(spark, src_dir))


def curation_config(out_dir: str):
    from kgx.plans.curation_pipeline import CurationConfig

    return CurationConfig(
        out_dir=out_dir, min_tokens=20, quality_kwargs={"max_symbol_ratio": 0.2}
    )


def run_job(spark, wl: Workload, src_dir: str, out_dir: str, nproc: int) -> dict:
    """One call into the workload's entry point over a fresh output dir;
    returns the entry point's own result dict."""
    shutil.rmtree(out_dir, ignore_errors=True)
    if wl.kind == "kg":
        from kgx.plans import pipeline

        raw = kg_raw(spark, wl, src_dir)
        docs = kg_spans(kg_prepartitioned(raw, nproc) if wl.presplit else raw)
        return pipeline.run(spark, docs, kg_config(wl, out_dir, nproc))
    from kgx.plans import curation_pipeline

    return curation_pipeline.run(
        spark, curation_input(spark, src_dir), curation_config(out_dir)
    )


# ---------------------------------------------------------------------------
# correctness: an order-independent checksum, engine output vs DuckDB oracle
# ---------------------------------------------------------------------------

def _checksum_sql(relation: str, cols: list[str]) -> str:
    """(row count, sum of a 60-bit md5 prefix per row) — order-independent,
    and a multiset: a duplicated or missing row changes both."""
    row = " || chr(31) || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
    return (
        f"SELECT count(*), "
        f"coalesce(sum(CAST(('0x' || substr(md5({row}), 1, 15)) AS BIGINT)::HUGEINT), 0) "
        f"FROM ({relation})"
    )


def _duckdb():
    """An in-memory DuckDB that spills under TMPDIR and draws no progress bar."""
    import tempfile

    import duckdb

    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute(f"SET temp_directory = '{os.path.join(tempfile.gettempdir(), 'duckdb')}'")
    return con


OUTPUT_COLUMNS = {"kg": ["doc_id", "subj", "pred", "obj"], "curation": ["doc_id", "text"]}
OUTPUT_TABLE = {"kg": "triples", "curation": "curated"}


def oracle_checksum(wl: Workload, src_dir: str) -> tuple[int, int]:
    """The oracle's answer over the same raw parquet: kgx.oracles.triples_sql
    (kg) or curation_funnel_sql (curation), on DuckDB."""
    from kgx import oracles

    src = os.path.join(src_dir, "documents.parquet")
    con = _duckdb()
    try:
        if wl.kind == "kg":
            # SQL twins of corpus.replicate (doc_id * factor + rep) and
            # corpus.heavy_tail (every 10th doc's text 10 times, space-joined)
            text = (
                "CASE WHEN doc_id % 10 = 0 THEN array_to_string("
                "list_transform(range(10), i -> text), ' ') ELSE text END"
                if wl.heavy_tail else "text"
            )
            con.execute(
                f"CREATE TABLE documents AS SELECT doc_id, {text} AS text FROM ("
                f"SELECT doc_id * {wl.replicate} + rep AS doc_id, text "
                f"FROM read_parquet('{src}'), range({wl.replicate}) r(rep))"
            )
            sql = oracles.triples_sql()
        else:
            con.execute(f"CREATE TABLE documents AS SELECT doc_id, text FROM read_parquet('{src}')")
            sql = oracles.curation_funnel_sql(min_tokens=20, max_symbol_ratio=0.2)
        n, h = con.execute(_checksum_sql(sql, OUTPUT_COLUMNS[wl.kind])).fetchone()
        return int(n), int(h)
    finally:
        con.close()


def output_checksum(wl: Workload, out_dir: str) -> tuple[int, int]:
    """The same checksum over the committed output table's parquet files."""
    table = os.path.join(out_dir, OUTPUT_TABLE[wl.kind])
    glob = "**/*.parquet" if wl.kind == "kg" else "*.parquet"
    con = _duckdb()
    try:
        rel = f"SELECT * FROM read_parquet('{table}/{glob}', hive_partitioning = false)"
        n, h = con.execute(_checksum_sql(rel, OUTPUT_COLUMNS[wl.kind])).fetchone()
        return int(n), int(h)
    finally:
        con.close()
